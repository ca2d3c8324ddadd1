"""Round-11 optimization: MV refresh intermediates ride a capped
driver collect + Arrow-local relation (local.mat_local) instead of
localCheckpoint, so dead-group/threat probes are answered from driver
rows with no Spark jobs. These tests pin that the fast path and the
over-cap fallback (STARLAKE_MV_LOCAL_ROW_CAP=0 forces localCheckpoint)
produce bit-identical view state across the hard shapes: extremum
retraction (rescan + python anti-join dead keys), whole-group death
(tombstones), distinct-agg recounts, and the join-MV windows."""

import pytest
from pyspark.sql import DataFrame, functions as F

from starlake_spark.plans import mv


@pytest.fixture()
def sess(spark, tmp_path):
    from starlake_spark.sql import StarSession

    return StarSession(spark, warehouse=str(tmp_path / "wh"))


def _orders(spark, sf_dir, lo, hi):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (o.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
            .select(F.col("o_orderkey").alias("k"),
                    F.col("o_orderstatus").alias("st"),
                    F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
                    (F.col("o_custkey") % 10).cast("int").alias("prio")))


def _storm(src, spark):
    """Churn that exercises every _apply_delta arm: extremum
    retraction (rescan), whole-group death (tombstone), plain fold."""
    mins = src.to_df().groupBy("st").agg(F.min("price").alias("mn"))
    hold = (src.to_df().join(mins, "st")
            .filter(F.col("price") == F.col("mn"))
            .select("k", "st",
                    (F.col("price") + 500000).cast("decimal(18,2)")
                    .alias("price"), "prio"))
    src.upsert(hold)                      # retract every group minimum
    src.delete("st = 'F'", use_delta=True)  # kill a whole group


def _rows(sess, name):
    return sorted(tuple(r) for r in sess.sql(f"SELECT * FROM {name}")
                  .collect())


@pytest.mark.parametrize("cap", ["default", "0"])
def test_minmax_storm_fast_equals_fallback_and_full(
        sess, spark, sf_dir, tmp_path, cap, monkeypatch):
    from starlake_spark import create_table

    if cap != "default":
        monkeypatch.setenv("STARLAKE_MV_LOCAL_ROW_CAP", cap)
    src = create_table(spark, _orders(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    q = ("SELECT st, min(price) AS lo, max(price) AS hi, "
         "sum(price) AS total, count(*) AS n FROM src GROUP BY st")
    mv.create_material_view(sess, "mv_mm", str(tmp_path / "mv_mm"), q)
    _storm(src, spark)
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_mm") is True
    assert sess.table("mv_mm").store.snapshot().commit_type in (
        "delta", "mixed_delta")  # incremental, not a full overwrite
    got = _rows(sess, "mv_mm")
    want = sorted(tuple(r) for r in spark.sql(q).collect())
    assert got == want
    assert not any(r[0] == "F" for r in got)  # dead group tombstoned


@pytest.mark.parametrize("cap", ["default", "0"])
def test_distinct_storm_fast_equals_fallback_and_full(
        sess, spark, sf_dir, tmp_path, cap, monkeypatch):
    from starlake_spark import create_table

    if cap != "default":
        monkeypatch.setenv("STARLAKE_MV_LOCAL_ROW_CAP", cap)
    src = create_table(spark, _orders(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    q = ("SELECT st, count(DISTINCT prio) AS np, sum(price) AS total, "
         "count(*) AS n FROM src GROUP BY st")
    mv.create_material_view(sess, "mv_d", str(tmp_path / "mv_d"), q)
    _storm(src, spark)
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_d") is True
    assert _rows(sess, "mv_d") == sorted(
        tuple(r) for r in spark.sql(q).collect())


def test_fast_path_runs_zero_checkpoints(sess, spark, sf_dir, tmp_path,
                                         monkeypatch):
    """The point of the change: a under-cap refresh cycle must not pay
    a single localCheckpoint job (driver-local rows replace them all);
    the cap=0 runs above prove the checkpoint arm still works."""
    from starlake_spark import create_table

    src = create_table(spark, _orders(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    q = ("SELECT st, min(price) AS lo, sum(price) AS total, "
         "count(*) AS n FROM src GROUP BY st")
    mv.create_material_view(sess, "mv_z", str(tmp_path / "mv_z"), q)
    _storm(src, spark)
    sess._sync_views()
    calls = []
    real = DataFrame.localCheckpoint
    monkeypatch.setattr(
        DataFrame, "localCheckpoint",
        lambda self, eager=True: calls.append(1) or real(self, eager))
    assert mv.update_material_view(sess, "mv_z") is True
    assert calls == []
    assert _rows(sess, "mv_z") == sorted(
        tuple(r) for r in spark.sql(q).collect())


def test_minmax_rescan_nan_double_group_key(sess, spark, sf_dir, tmp_path):
    """The driver-side threatened-minus-rescanned anti-join must group
    NaN with NaN (Spark grouping semantics; Python NaN != NaN) — a NaN
    double group key with a retracted extremum exercises _pykey
    end-to-end."""
    from starlake_spark import create_table
    from pyspark.sql import functions as F

    rows = [(i, float("nan") if i % 3 == 0 else float(i % 2),
             (i * 7) % 50 + 1) for i in range(60)]
    src = create_table(
        spark, spark.createDataFrame(rows, "k int, g double, v int"),
        str(tmp_path / "src"), short_name="src", warehouse=sess.warehouse,
        hash_partitions=["k"], hash_bucket_num=2)
    sess.register("src", src)
    q = "SELECT g, min(v) AS lo, count(*) AS n FROM src GROUP BY g"
    mv.create_material_view(sess, "mv_nan", str(tmp_path / "mv_nan"), q)
    # retract every group's minimum (threatens stored extrema in the
    # NaN group too), and kill one whole group
    cur = src.to_df()
    mins = (cur.groupBy("g").agg(F.min("v").alias("mn"))
            .withColumnRenamed("g", "g2"))
    hold = (cur.join(mins, cur.g.eqNullSafe(mins.g2), "inner")
            .filter("v = mn")
            .select("k", "g", (F.col("v") + 1000).alias("v")))
    src.upsert(hold)
    src.delete("g = 1.0", use_delta=True)
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_nan") is True
    got = sorted((str(r[0]), r[1], r[2]) for r in
                 sess.sql("SELECT * FROM mv_nan").collect())
    want = sorted((str(r[0]), r[1], r[2]) for r in spark.sql(q).collect())
    assert got == want
