"""Round-10: incremental count(DISTINCT) materialized views
(plans/mv.py _sync_distinct_aux / _merge_aux / _apply_recounts).

The state a distinct count needs — per-(group, value) multiplicities —
lives in an auxiliary star table per distinct agg, advanced through
the same signed change windows with its OWN exactly-once txn stamp;
the view's distinct column is then an authoritative recount over the
aux slice of the touched groups. Claims:

1. EQUALITY across the storm classes (value migrations, pair-killing
   deletes, new keys, group death), mixed with fold-maintained
   sum/count columns in the same view.
2. EXACTLY-ONCE — a lost registry save replays as a noop; a crash
   BETWEEN the aux upsert and the main upsert (simulated by advancing
   the aux and rewinding the main) converges, never double-folds.
3. LIFECYCLE — the aux tables ride create/drop; a full fallback after
   source recreation rebuilds them and subsequent refreshes stay
   incremental and exact.
4. ELIGIBILITY — float sum(DISTINCT), joined DISTINCT aggregates, and
   reserved column names stay full; integer/decimal sum/avg(DISTINCT)
   are incremental through the same aux machinery (the recount just
   re-sums / re-averages the aux slice).
"""

import pytest
from pyspark.sql import functions as F

from starlake_spark.plans import mv


@pytest.fixture()
def sess(spark, tmp_path):
    from starlake_spark.sql import StarSession

    return StarSession(spark, warehouse=str(tmp_path / "wh"))


Q = ("SELECT st, count(DISTINCT prio) AS np, sum(price) AS total, "
     "count(*) AS n FROM src GROUP BY st")


def _frame(spark, sf_dir, lo, hi):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (o.filter((F.col("o_orderkey") >= lo)
                     & (F.col("o_orderkey") < hi))
            .select(F.col("o_orderkey").alias("k"),
                    F.col("o_orderstatus").alias("st"),
                    (F.col("o_custkey") % 10).cast("int").alias("prio"),
                    F.col("o_totalprice").cast("decimal(18,2)")
                    .alias("price")))


def _build(sess, spark, sf_dir, tmp_path):
    from starlake_spark import create_table

    src = create_table(spark, _frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    mv.create_material_view(sess, "mv_cd", str(tmp_path / "mv_cd"), Q)
    ent = mv._load_registry(sess.warehouse)["mv_cd"]
    assert ent["incremental"] is True
    assert set(ent.get("aux_paths") or {}) == {"np"}
    return src


def _check(sess, spark):
    got = sorted(tuple(r) for r in
                 sess.sql("SELECT * FROM mv_cd").collect())
    want = sorted(tuple(r) for r in spark.sql(Q).collect())
    assert got == want


def test_distinct_storm_classes(sess, spark, sf_dir, tmp_path):
    src = _build(sess, spark, sf_dir, tmp_path)
    _check(sess, spark)
    # value migration: retracts (st, old-prio) pairs, creates new ones
    src.upsert(src.to_df().filter("k % 3 = 0")
               .withColumn("prio", (F.col("prio") + 10).cast("int")))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_cd") is True
    assert sess.table("mv_cd").store.snapshot().commit_type == "delta"
    _check(sess, spark)
    # pair-killing deletes (every holder of the migrated values goes)
    src.delete("prio >= 15")
    # new keys with brand-new values, same window as the delete
    src.upsert(_frame(spark, sf_dir, 600, 900)
               .withColumn("prio", (F.col("prio") + 50).cast("int")))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_cd") is True
    _check(sess, spark)
    # group death
    st_pick = src.to_df().select("st").first()[0]
    src.delete(f"st = '{st_pick}'")
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_cd") is True
    _check(sess, spark)
    assert mv.update_material_view(sess, "mv_cd") is False


def test_distinct_replay_and_partial_crash(sess, spark, sf_dir, tmp_path):
    src = _build(sess, spark, sf_dir, tmp_path)
    src.upsert(src.to_df().filter("k % 7 = 1")
               .withColumn("prio", (F.col("prio") + 3).cast("int")))
    sess._sync_views()
    ent = mv._load_registry(sess.warehouse)["mv_cd"]
    before = dict(ent["fingerprints"])
    # full refresh applied, registry save lost → replay must noop
    assert mv.update_material_view(sess, "mv_cd") is True
    state = {tuple(r) for r in sess.sql("SELECT * FROM mv_cd").collect()}
    reg = mv._load_registry(sess.warehouse)
    reg["mv_cd"]["fingerprints"] = before
    mv._save_registry(reg, sess.warehouse)
    assert mv.update_material_view(sess, "mv_cd") is False
    assert {tuple(r) for r in
            sess.sql("SELECT * FROM mv_cd").collect()} == state
    _check(sess, spark)

    # crash BETWEEN aux upsert and main upsert: run only the aux sync
    # for the next window, then a normal refresh — the aux stamp must
    # keep the overlap from double-folding
    src.upsert(src.to_df().filter("k % 5 = 2")
               .withColumn("prio", (F.col("prio") + 7).cast("int")))
    sess._sync_views()
    ent = mv._load_registry(sess.warehouse)["mv_cd"]
    spec = mv._incremental_spec(sess, ent["sql"])
    spec["aux_paths"] = ent["aux_paths"]
    from starlake_spark.meta import ManifestStore
    from starlake_spark.sources import datasource
    from starlake_spark.table import StarTable

    src_store = ManifestStore(spec["source_path"])
    t = StarTable.for_path(spark, ent["path"])
    last = ent["fingerprints"]["src"]
    cur = src_store.latest_version()
    ch = datasource.change_window(spark, src_store, last, cur)
    cv = "_test_cd_ch"
    ch.frame.createOrReplaceTempView(cv)
    try:
        assert mv._sync_distinct_aux(sess, spec, src_store, t, last,
                                     cur, cv) is True
    finally:
        spark.catalog.dropTempView(cv)
    # now the "restarted" refresh runs the whole window again — the
    # aux skips (stamped), the main applies, the answer is exact
    assert mv.update_material_view(sess, "mv_cd") is True
    _check(sess, spark)


def test_distinct_full_fallback_rebuilds_aux(sess, spark, sf_dir,
                                             tmp_path):
    import shutil

    from starlake_spark import create_table

    src = _build(sess, spark, sf_dir, tmp_path)
    # recreate the source at the same path: identity mismatch → full
    # fallback, which must rebuild the aux tables and reset their
    # cursors alongside the main overwrite
    src.drop_table()
    shutil.rmtree(str(tmp_path / "src"), ignore_errors=True)
    src = create_table(spark, _frame(spark, sf_dir, 100, 800),
                       str(tmp_path / "src"), short_name="src",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("src", src)
    assert mv.update_material_view(sess, "mv_cd") is True
    _check(sess, spark)
    # post-rebuild storms stay incremental and exact
    src.upsert(src.to_df().filter("k % 4 = 2")
               .withColumn("prio", (F.col("prio") + 20).cast("int")))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_cd") is True
    assert sess.table("mv_cd").store.snapshot().commit_type == "delta"
    _check(sess, spark)


def test_sum_avg_distinct_incremental(sess, spark, sf_dir, tmp_path):
    from starlake_spark import create_table

    src = create_table(spark, _frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "srcs"), short_name="srcs",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("srcs", src)
    q = ("SELECT st, sum(DISTINCT prio) AS sp, avg(DISTINCT prio) AS ap, "
         "count(*) AS n FROM srcs GROUP BY st")
    mv.create_material_view(sess, "mv_sd", str(tmp_path / "mv_sd"), q)
    ent = mv._load_registry(sess.warehouse)["mv_sd"]
    assert ent["incremental"] is True
    assert set(ent["aux_paths"]) == {"sp", "ap"}
    src.upsert(src.to_df().filter("k % 3 = 0")
               .withColumn("prio", (F.col("prio") + 10).cast("int")))
    src.delete("prio >= 15")
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_sd") is True
    assert sess.table("mv_sd").store.snapshot().commit_type == "delta"
    got = sorted(tuple(r) for r in
                 sess.sql("SELECT * FROM mv_sd").collect())
    want = sorted(tuple(r) for r in spark.sql(q).collect())
    assert got == want


def test_shared_aux_single_table_single_commit(sess, spark, sf_dir,
                                               tmp_path):
    """Optimization round 10: (a) distinct aggs over one ARGUMENT share
    one aux table; (b) an aux sync is ONE gated delta commit — dead
    pairs are kept as _dn<=0 rows (no tombstone-delete commit) and
    filtered at recount time; (c) answers stay exact through a
    pair-killing window."""
    from starlake_spark import create_table
    from starlake_spark.table import StarTable

    src = create_table(spark, _frame(spark, sf_dir, 0, 600),
                       str(tmp_path / "srch"), short_name="srch",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("srch", src)
    q = ("SELECT st, count(DISTINCT prio) AS np, sum(DISTINCT prio) "
         "AS sp, count(*) AS n FROM srch GROUP BY st")
    mv.create_material_view(sess, "mv_sh", str(tmp_path / "mv_sh"), q)
    ent = mv._load_registry(sess.warehouse)["mv_sh"]
    # (a) same argument → same aux table under both out keys
    assert ent["aux_paths"]["np"] == ent["aux_paths"]["sp"]
    aux = StarTable.for_path(spark, ent["aux_paths"]["np"])
    v0 = aux.store.latest_version()
    # pair-killing window: migrate some values, then delete every
    # holder of the (pre-window) prio 8/9 pairs — their multiplicities
    # fold to zero at the window boundary
    src.upsert(src.to_df().filter("k % 3 = 0")
               .withColumn("prio", (F.col("prio") + 10).cast("int")))
    src.delete("prio >= 8")
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_sh") is True
    # (b) exactly one aux commit for the whole window, type delta
    assert aux.store.latest_version() == v0 + 1
    assert aux.store.snapshot().commit_type == "delta"
    # dead pairs persist in the aux (kept, not tombstoned)...
    dead = aux.to_df().filter("_dn <= 0").count()
    assert dead > 0, "expected retracted pairs to persist as _dn<=0 rows"
    # ...and never leak into a recount
    got = sorted(tuple(r) for r in
                 sess.sql("SELECT * FROM mv_sh").collect())
    want = sorted(tuple(r) for r in spark.sql(q).collect())
    assert got == want
    # a later re-insert resurrects a dead pair exactly once
    src.upsert(_frame(spark, sf_dir, 600, 750)
               .withColumn("prio", (F.col("prio") + 10).cast("int")))
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_sh") is True
    got = sorted(tuple(r) for r in
                 sess.sql("SELECT * FROM mv_sh").collect())
    want = sorted(tuple(r) for r in spark.sql(q).collect())
    assert got == want


def test_distinct_global_aggregate(sess, spark, sf_dir, tmp_path):
    from starlake_spark import create_table

    src = create_table(spark, _frame(spark, sf_dir, 0, 400),
                       str(tmp_path / "srcg"), short_name="srcg",
                       warehouse=sess.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    sess.register("srcg", src)
    q = "SELECT count(DISTINCT prio) AS np, count(*) AS n FROM srcg"
    mv.create_material_view(sess, "mv_g", str(tmp_path / "mv_g"), q)
    assert mv._load_registry(sess.warehouse)["mv_g"]["incremental"] is True
    src.delete("prio >= 5")
    sess._sync_views()
    assert mv.update_material_view(sess, "mv_g") is True
    got = sess.sql("SELECT * FROM mv_g").first()
    assert tuple(got) == tuple(spark.sql(q).first())


def test_distinct_eligibility_and_drop(sess, spark, sf_dir, tmp_path):
    src = _build(sess, spark, sf_dir, tmp_path)

    def spec_of(sql):
        return mv._incremental_spec(sess, sql)

    # integer sum(DISTINCT) is eligible (aux re-sum is exact)...
    sd = spec_of("SELECT st, sum(DISTINCT prio) AS sp FROM src "
                 "GROUP BY st")
    assert sd is not None and sd["aggs"][0]["kind"] == "sum_distinct"
    # ...float sum(DISTINCT) is not (order-dependent re-summation)
    assert spec_of("SELECT st, sum(DISTINCT CAST(prio AS DOUBLE)) AS sp "
                   "FROM src GROUP BY st") is None
    spec = spec_of(Q)
    assert spec is not None
    assert [a["kind"] for a in spec["aggs"]][0] == "count_distinct"
    # drop removes the aux tables
    import os

    aux = list(mv._load_registry(sess.warehouse)["mv_cd"]
               ["aux_paths"].values())
    mv.drop_material_view(sess, "mv_cd")
    for p in aux:
        assert not os.path.exists(
            os.path.join(p, "_star_meta", "table_info.json")), p
