"""Shared change windows: one materialized ``range_changes`` diff per
source window and session (``shared_range_changes``), read by every
derived consumer of that window — GROUP BY MV, join MV and rollup —
instead of each recomputing the same two MoR scans plus join."""

import threading

import pytest
from pyspark.sql import functions as F

from starlake_spark.meta import ManifestStore
from starlake_spark.plans import mv
from starlake_spark.plans import rollup as R
from starlake_spark.sources import datasource as ds
from starlake_spark.table import create_table

def _orders(spark, lo, hi, bump=0):
    return spark.sql(
        f"SELECT CAST(id AS INT) AS k, CAST(id % 7 AS INT) AS cust, "
        f"element_at(array('F', 'O', 'P'), CAST(id % 3 + 1 AS INT)) AS st, "
        f"CAST(id * 1.25 + {bump} AS DECIMAL(18,2)) AS price, "
        f"date_add(DATE '2024-01-01', CAST(id % 90 AS INT)) AS d "
        f"FROM range({lo}, {hi})")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _drop_cached_windows(spark):
    getattr(spark, ds._WINDOW_CACHE_ATTR, {}).clear()


@pytest.fixture()
def sess(spark, tmp_path, monkeypatch):
    from starlake_spark.sql import StarSession

    # an incremental-path exception must fail the test, not silently
    # turn into a full rebuild
    monkeypatch.setenv("STARLAKE_MV_DEBUG", "1")
    return StarSession(spark, warehouse=str(tmp_path / "wh"))


def test_three_consumers_build_one_window(sess, spark, tmp_path,
                                          monkeypatch):
    src = create_table(spark, _orders(spark, 0, 300), str(tmp_path / "src"),
                       short_name="src", warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=2)
    cust = create_table(
        spark, spark.sql("SELECT CAST(id AS INT) AS c, "
                         "concat('seg', id % 3) AS seg FROM range(7)"),
        str(tmp_path / "cust"), short_name="cust", warehouse=sess.warehouse,
        hash_partitions=["c"], hash_bucket_num=2)
    sess.register("src", src)
    sess.register("cust", cust)
    views = {
        "mv_st": "SELECT st, count(1) AS n, sum(price) AS total "
                 "FROM src GROUP BY st",
        "mv_seg": "SELECT c.seg, count(1) AS n, sum(o.price) AS total "
                  "FROM src o JOIN cust c ON o.cust = c.c GROUP BY c.seg",
    }
    for name, q in views.items():
        mv.create_material_view(sess, name, str(tmp_path / name), q)
    roll = R.create_rollup(spark, src.store.table_path, str(tmp_path / "ru"),
                           time_col="d", bucket="month", group_cols=["st"],
                           aggs={"price": "sum"}, hash_bucket_num=2)
    src.upsert(_orders(spark, 280, 320, bump=3))  # updates + inserts
    sess._sync_views()

    builds = []
    real = ds._preimage_changes
    monkeypatch.setattr(ds, "_preimage_changes",
                        lambda *a, **kw: builds.append(1) or real(*a, **kw))
    for name in views:
        assert mv.update_material_view(sess, name) is True
        assert sess.table(name).store.snapshot().commit_type in (
            "delta", "mixed_delta")  # incremental, not a full overwrite
    assert R.refresh_rollup(spark, roll)["mode"] == "incremental"
    assert len(builds) == 1

    for name, q in views.items():
        assert (_sorted(sess.sql(f"SELECT * FROM {name}"))
                == _sorted(sess.sql(q, rewrite=False)))
    got = R.read_rollup(spark, roll).select("bucket_ts", "st", "price_sum",
                                            "n_rows")
    want = (src.to_df()
            .groupBy(F.date_trunc("month", "d").alias("bucket_ts"), "st")
            .agg(F.sum("price").alias("price_sum"),
                 F.count(F.lit(1)).alias("n_rows")))
    assert _sorted(got) == _sorted(want.select(*got.columns))


def test_recreated_source_never_reads_the_old_window(spark, tmp_path):
    path = str(tmp_path / "src")
    first = create_table(spark, _orders(spark, 0, 50), path,
                         hash_partitions=["k"], hash_bucket_num=2)
    first.upsert(_orders(spark, 40, 60, bump=1))
    v = first.store.latest_version()
    old = _sorted(ds.shared_range_changes(spark, path, v - 1, v).frame)
    first.drop_table()

    second = create_table(spark, _orders(spark, 100, 150), path,
                          hash_partitions=["k"], hash_bucket_num=2)
    second.upsert(_orders(spark, 140, 170, bump=2))
    assert second.store.latest_version() == v  # same version numbers
    got = _sorted(ds.shared_range_changes(spark, path, v - 1, v).frame)
    assert got == _sorted(ds.range_changes(spark, path, v - 1, v))
    assert got != old and {r[0] for r in got} <= set(range(140, 170))


def _strip_row_counts(monkeypatch):
    import dataclasses

    real = ManifestStore.snapshot

    def snapshot(self, version=None):
        snap = real(self, version)
        for ps in snap.partitions.values():
            ps.files[:] = [dataclasses.replace(f, num_rows=-1)
                           for f in ps.files]
        return snap

    monkeypatch.setattr(ManifestStore, "snapshot", snapshot)


@pytest.mark.parametrize("arm", ["cap0", "unknown_rows"])
def test_checkpoint_arm_equals_driver_local_arm(spark, tmp_path, monkeypatch,
                                                arm):
    path = str(tmp_path / "src")
    t = create_table(spark, _orders(spark, 0, 200), path,
                     hash_partitions=["k"], hash_bucket_num=2)
    t.upsert(_orders(spark, 150, 260, bump=5))
    t.delete("k < 20", use_delta=True)
    v = t.store.latest_version()
    local = ds.shared_range_changes(spark, path, 0, v)
    assert local.table is not None
    want = _sorted(ds.range_changes(spark, path, 0, v))
    assert _sorted(local.frame) == want
    assert sorted(zip(*(c.to_pylist() for c in local.table.columns))) == want

    _drop_cached_windows(spark)
    if arm == "cap0":
        monkeypatch.setenv("STARLAKE_MV_LOCAL_ROW_CAP", "0")
    else:
        _strip_row_counts(monkeypatch)
    ckpt = ds.shared_range_changes(spark, path, 0, v)
    assert ckpt.table is None
    assert _sorted(ckpt.frame) == want
    assert ckpt.counts() == local.counts()


def test_concurrent_requests_share_and_cache_is_bounded(spark, tmp_path):
    import sys

    path = str(tmp_path / "src")
    t = create_table(spark, _orders(spark, 0, 40), path,
                     hash_partitions=["k"], hash_bucket_num=2)
    for i in range(ds.WINDOW_CACHE_SIZE + 2):
        t.upsert(_orders(spark, i * 5, i * 5 + 8, bump=i + 1))
    v = t.store.latest_version()
    _drop_cached_windows(spark)

    # more threads than cores: half share the whole-history window, the
    # rest each ask a one-commit window, so inserts and evictions race
    windows = [(0, v)] * 4 + [(w - 1, w) for w in range(1, v + 1)]
    got = [None] * len(windows)
    sizes = []

    def ask(i):
        got[i] = ds.shared_range_changes(spark, path, *windows[i])
        sizes.append(len(getattr(spark, ds._WINDOW_CACHE_ATTR)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=ask, args=(i,))
                   for i in range(len(windows))]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert max(sizes) <= ds.WINDOW_CACHE_SIZE
    whole = _sorted(ds.range_changes(spark, path, 0, v))
    assert all(_sorted(w.frame) == whole for w in got[:4])
    for (a, b), w in zip(windows[4:], got[4:]):
        assert _sorted(w.frame) == _sorted(ds.range_changes(spark, path, a, b))
    # a repeated request is served from the cache
    again = ds.shared_range_changes(spark, path, 0, v)
    assert ds.shared_range_changes(spark, path, 0, v) is again


def test_window_carries_a_column_added_between_refreshes(sess, spark,
                                                         tmp_path):
    src = create_table(spark, _orders(spark, 0, 60), str(tmp_path / "src"),
                       short_name="src", warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=2)
    sess.register("src", src)
    q = "SELECT st, count(1) AS n, sum(price) AS total FROM src GROUP BY st"
    mv.create_material_view(sess, "mv_st", str(tmp_path / "mv_st"), q)
    src.upsert(_orders(spark, 50, 70, bump=1))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_st") is True
    path, v = src.store.table_path, src.store.latest_version()
    before = ds.shared_range_changes(spark, path, v - 1, v)
    assert "note" not in before.frame.columns

    src.add_columns([("note", "string")])
    src.upsert(_orders(spark, 65, 80, bump=2)
               .withColumn("note", F.concat(F.lit("n"), F.col("k"))))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_st") is True
    w = src.store.latest_version()
    after = ds.shared_range_changes(spark, path, w - 1, w)
    assert "note" in after.frame.columns
    assert {r.note for r in after.frame.collect()
            if r._change_type in ("insert", "update_postimage")} == {
        f"n{k}" for k in range(65, 80)}
    # the same versions read again under the new schema: a new window
    again = ds.shared_range_changes(spark, path, v - 1, v)
    assert "note" in again.frame.columns
    assert (_sorted(sess.sql("SELECT * FROM mv_st"))
            == _sorted(sess.sql(q, rewrite=False)))
