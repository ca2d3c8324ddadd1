"""Seeded TPC-H-shaped inputs (orders, customer, lineitem).

The benchmark ships no data: every input is generated here from the run's
seed, so the same seed gives the same tables, batches and predicates. The
column names and value domains follow TPC-H so the workloads read like
the engine's own suites; the row counts are set by ``Scale``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUSES = np.array(["F", "O"])

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DATE_SPAN_DAYS = 2400  # 1992-01-01 .. mid-1998, the TPC-H order date range


@dataclass(frozen=True)
class Scale:
    """Row counts of one benchmark size. ``orders`` is the order count;
    lineitem carries 1-7 lines per order and customer is orders / 10,
    as in TPC-H."""

    orders: int

    @property
    def customers(self) -> int:
        return max(self.orders // 10, 10)


# sf0.01 and sf0.001 of TPC-H's 1.5M orders per unit scale factor
SCALES = {"sf0.01": Scale(15_000), "sf0.001": Scale(1_500)}


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(0, _DATE_SPAN_DAYS, n)
    secs = rng.integers(0, 86_400, n)
    return _EPOCH_1992 + (days * _DAY_US + secs * 1_000_000).astype("timedelta64[us]")


def orders(rng: np.random.Generator, keys: np.ndarray, customers: int) -> pd.DataFrame:
    """Order rows for ``keys``; prices are whole cents so sums are exact
    enough to compare against a Python model with a tight tolerance."""
    n = len(keys)
    return pd.DataFrame({
        "o_orderkey": keys.astype("int64"),
        "o_custkey": rng.integers(1, customers + 1, n).astype("int64"),
        "o_orderstatus": rng.choice(STATUSES, n),
        "o_totalprice": rng.integers(90_000, 50_000_000, n) / 100.0,
        "o_orderdate": _dates(rng, n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def customer(rng: np.random.Generator, n: int) -> pd.DataFrame:
    keys = np.arange(1, n + 1, dtype="int64")
    return pd.DataFrame({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype("int32"),
        "c_acctbal": rng.integers(-99_999, 999_999, n) / 100.0,
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def lineitem(rng: np.random.Generator, order_keys: np.ndarray) -> pd.DataFrame:
    """1-7 lines per order, narrowed to the columns the read workload
    touches. ``l_key`` packs (order key, line number) into the primary
    key; ``l_shipyear`` (1992-1998) is the range-partition column."""
    per_order = rng.integers(1, 8, len(order_keys))
    okeys = np.repeat(order_keys.astype("int64"), per_order)
    starts = np.cumsum(per_order) - per_order
    linenos = np.arange(len(okeys)) - np.repeat(starts, per_order) + 1
    years = _dates(rng, len(okeys)).astype("datetime64[Y]").astype("int64") + 1970
    return lines_for(rng, okeys * 8 + linenos, years)


def lines_for(rng: np.random.Generator, keys: np.ndarray,
              years: np.ndarray) -> pd.DataFrame:
    """Fresh line values for packed ``keys`` in ship ``years``."""
    n = len(keys)
    return pd.DataFrame({
        "l_key": keys.astype("int64"),
        "l_orderkey": keys.astype("int64") // 8,
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_returnflag": rng.choice(RETURNFLAGS, n),
        "l_linestatus": rng.choice(LINESTATUSES, n),
        "l_shipyear": years.astype("int32"),
    })
