"""Round-10 optimization: write-job shape pins.

A join/agg-free commit (the CDC-trickle / plain-append shape) must run
as ONE Spark job — AQE's query-stage split would add a second
scheduling round-trip + shuffle materialization per commit for a plan
it cannot improve. Plans that AQE *can* improve (joins, aggregates
feeding a write, e.g. CoW rewrites over a MoR collapse) keep it, except
when they write a hash table whose ``bucket_num`` equals AQE's initial
shuffle partition count: there Spark may drop the writer's repartition,
and the bucket layout needs every partition of the source's exchange.
"""
import os

import pytest
from pyspark.sql import functions as F

from starlake_spark.operators import writer as W
from starlake_spark.table import create_table


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


@pytest.fixture()
def seed(spark, sf_dir):
    df = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
          .select("o_orderkey", "o_custkey", "o_totalprice"))
    return df


def test_simple_upsert_commit_is_one_job(spark, seed, tmp_table_dir):
    t = create_table(spark, seed, tmp_table_dir,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4,
                     configuration={"compaction.auto": "false"})
    delta = seed.filter("o_orderkey % 10 = 0") \
                .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    before = _jobs(spark)
    t.upsert(delta)
    assert _jobs(spark) - before == 1, \
        "join/agg-free upsert commit must run as a single Spark job"
    # and AQE must be back on for the session afterwards
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_aqe_probe_classifies_plans(spark, seed):
    assert W._aqe_pointless(seed.filter("o_orderkey > 5").select("o_orderkey"))
    agg = seed.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    assert not W._aqe_pointless(agg)
    joined = seed.join(agg, "o_custkey")
    assert not W._aqe_pointless(joined)
    # kill switch
    os.environ["STARLAKE_WRITE_AQE"] = "keep"
    try:
        assert not W._aqe_pointless(seed)
    finally:
        del os.environ["STARLAKE_WRITE_AQE"]


def test_bucket_layout_gate_matches_initial_partition_count(spark):
    from starlake_spark.meta import TableInfo

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def info(hash_cols, bucket_num):
        return TableInfo(table_path="/t", table_id="t", schema_json="{}",
                         hash_cols=hash_cols, bucket_num=bucket_num)

    assert W._bucket_layout_needs_static_plan(spark, info(["k"], n))
    assert not W._bucket_layout_needs_static_plan(spark, info(["k"], n + 1))
    assert not W._bucket_layout_needs_static_plan(spark, info([], -1))
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    spark.conf.set(key, str(n + 1))
    try:
        assert W._bucket_layout_needs_static_plan(spark, info(["k"], n + 1))
        assert not W._bucket_layout_needs_static_plan(spark, info(["k"], n))
    finally:
        spark.conf.unset(key)


def test_aqe_restored_when_write_fails(spark, seed, tmp_table_dir):
    t = create_table(spark, seed, tmp_table_dir,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    bad = seed.withColumn("o_orderkey", F.lit(None).cast("long"))
    with pytest.raises(Exception):
        t.upsert(bad)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_aqe_stays_off_until_the_last_concurrent_writer(spark, tmp_path):
    """Writer B enters its save while A is inside; A then finishes
    first. B must still plan with AQE off (its hash layout depends on
    it), and AQE comes back only after B is done."""
    import threading

    key = "spark.sql.adaptive.enabled"
    a_in, b_in, a_done = (threading.Event() for _ in range(3))
    seen = {}

    class FakeWriter:
        def __init__(self, name, enter, wait_for):
            self.name, self.enter, self.wait_for = name, enter, wait_for

        def save(self, _path):
            self.enter.set()
            assert self.wait_for.wait(timeout=30)
            seen[self.name] = spark.conf.get(key)

    def run_a():
        W._save_no_aqe(spark, FakeWriter("a", a_in, b_in), str(tmp_path))
        a_done.set()

    ta = threading.Thread(target=run_a)
    ta.start()
    assert a_in.wait(timeout=30)
    tb = threading.Thread(target=W._save_no_aqe, args=(
        spark, FakeWriter("b", b_in, a_done), str(tmp_path)))
    tb.start()
    for th in (ta, tb):
        th.join(timeout=60)
    assert not ta.is_alive() and not tb.is_alive()
    assert seen == {"a": "false", "b": "false"}
    assert spark.conf.get(key) == "true"
