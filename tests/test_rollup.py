"""Incremental rollups: differential vs full recompute, fallback on
non-append commits, compaction invariance."""

import pytest
from pyspark.sql import functions as F

from starlake_spark.plans import rollup as R
from starlake_spark.table import create_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    from starlake_spark.queries.analytics import ld

    return ld(spark, SF, "events")


def test_incremental_refresh_matches_full(spark, events, tmp_path):
    half = events.filter(F.col("event_id") % 2 == 0)
    rest = events.filter(F.col("event_id") % 2 == 1)
    src = create_table(spark, half, str(tmp_path / "src"))
    t = R.create_rollup(spark, str(tmp_path / "src"), str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "sum"},
                        hash_bucket_num=4)
    src.write(rest, mode="append")
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "incremental"
    got = R.read_rollup(spark, t).select("bucket_ts", "event_type",
                                         "value_sum", "n_rows")
    want = (events.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type")
            .agg(F.sum(F.col("value").cast("decimal(28,6)")).alias("value_sum"),
                 F.count(F.lit(1)).alias("n_rows")))
    a = [(str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
         for r in got.orderBy("bucket_ts", "event_type").collect()]
    b = [(str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
         for r in want.orderBy("bucket_ts", "event_type").collect()]
    assert a == b
    # second refresh with no new commits is a noop
    assert R.refresh_rollup(spark, t)["mode"] == "noop"


def test_min_max_avg_count_aggs(spark, events, tmp_path):
    src = create_table(spark, events, str(tmp_path / "src"))
    t = R.create_rollup(spark, str(tmp_path / "src"), str(tmp_path / "ru"),
                        time_col="ts", group_cols=[],
                        aggs={"value": "avg"}, hash_bucket_num=4)
    src.write(events.withColumn("event_id", F.col("event_id") + 10_000_000),
              mode="append")
    assert R.refresh_rollup(spark, t)["mode"] == "incremental"
    got = R.read_rollup(spark, t)
    row = {str(r.bucket_ts): (r.value_avg, r.n_rows) for r in got.collect()}
    doubled = events.union(events)
    want = (doubled.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"))
            .agg((F.sum(F.col("value").cast("decimal(28,6)")) / F.count("value"))
                 .alias("value_avg"),
                 F.count(F.lit(1)).alias("n_rows")))
    for r in want.collect():
        a_avg, a_n = row[str(r.bucket_ts)]
        assert a_n == r.n_rows
        assert abs(float(a_avg) - float(r.value_avg)) < 1e-9


def test_non_append_commit_falls_back_to_full(spark, events, tmp_path):
    src = create_table(spark, events, str(tmp_path / "src"))
    t = R.create_rollup(spark, str(tmp_path / "src"), str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "min"},
                        hash_bucket_num=4)
    src.delete("event_id % 3 = 0")
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "full"
    got = R.read_rollup(spark, t).select("bucket_ts", "event_type",
                                         "value_min", "n_rows")
    want = (events.filter("NOT (event_id % 3 = 0)")
            .groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type")
            .agg(F.min("value").alias("value_min"),
                 F.count(F.lit(1)).alias("n_rows")))
    a = [(str(r.bucket_ts), r.event_type, r.value_min, r.n_rows)
         for r in got.orderBy("bucket_ts", "event_type").collect()]
    b = [(str(r.bucket_ts), r.event_type, r.value_min, r.n_rows)
         for r in want.orderBy("bucket_ts", "event_type").collect()]
    assert a == b


def test_compaction_invariance_and_guards(spark, events, tmp_path):
    src = create_table(spark, events, str(tmp_path / "src"))
    t = R.create_rollup(spark, str(tmp_path / "src"), str(tmp_path / "ru"),
                        time_col="ts", aggs={"value": "sum"}, hash_bucket_num=4)
    for i in range(2):
        src.write(events.withColumn("event_id",
                                    F.col("event_id") + (i + 1) * 10_000_000),
                  mode="append")
        R.refresh_rollup(spark, t)
    before = _canon_sum(R.read_rollup(spark, t))
    R.compact_rollup(spark, t)
    assert _canon_sum(R.read_rollup(spark, t)) == before

    # hash-partitioned source: sum/count/avg via the signed CDC
    # refresh; min/max allowed since round 10 (threatened-cell rescan)
    hsrc = create_table(spark, events, str(tmp_path / "hs"),
                        hash_partitions=["event_id"], hash_bucket_num=4)
    hmin = R.create_rollup(spark, str(tmp_path / "hs"),
                           str(tmp_path / "hr_min"),
                           time_col="ts", aggs={"value": "min"})
    # retract the global minimum: the refresh must rescan, not fold
    vmin = hsrc.to_df().agg(F.min("value")).first()[0]
    hsrc.upsert(hsrc.to_df().filter(F.col("value") == vmin)
                .withColumn("value", F.col("value") + 10_000_000))
    assert R.refresh_rollup(spark, hmin)["mode"] == "incremental"
    got_min = {(r["bucket_ts"], r["value_min"]) for r in
               R.read_rollup(spark, hmin).collect()}
    want_min = {(r["b"], r["m"]) for r in
                hsrc.to_df().groupBy(F.date_trunc("hour", "ts").alias("b"))
                .agg(F.min("value").alias("m")).collect()}
    assert got_min == want_min
    R.create_rollup(spark, str(tmp_path / "hs"), str(tmp_path / "hr"),
                    time_col="ts", aggs={"value": "sum"})
    # non-rollup table rejected by refresh
    with pytest.raises(ValueError, match="not a rollup"):
        R.refresh_rollup(spark, src)


def _canon_sum(df):
    return [(str(r.bucket_ts), str(r.value_sum), r.n_rows)
            for r in df.orderBy("bucket_ts").collect()]


def test_stream_rollup_matches_batch_twin(spark, events, tmp_path):
    """Streaming maintenance (change-stream source -> exactly-once sink
    in update mode) must produce the same rollup as a flat aggregate,
    across two drains, and lock out manual refresh."""
    src = create_table(spark, events.filter(F.col("event_id") % 3 == 0),
                       str(tmp_path / "src"))
    t = R.create_rollup(spark, str(tmp_path / "src"), str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "sum"}, hash_bucket_num=4)
    ckpt = str(tmp_path / "ckpt")

    src.write(events.filter(F.col("event_id") % 3 == 1), mode="append")
    R.stream_rollup(spark, t, checkpoint_dir=ckpt).awaitTermination(120)
    src.write(events.filter(F.col("event_id") % 3 == 2), mode="append")
    R.stream_rollup(spark, t, checkpoint_dir=ckpt).awaitTermination(120)

    got = R.read_rollup(spark, t).select("bucket_ts", "event_type",
                                         "value_sum", "n_rows")
    want = (events.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"),
                           "event_type")
            .agg(F.sum(F.col("value").cast("decimal(28,6)")).alias("value_sum"),
                 F.count(F.lit(1)).alias("n_rows")))
    a = [(str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
         for r in got.orderBy("bucket_ts", "event_type").collect()]
    b = [(str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
         for r in want.orderBy("bucket_ts", "event_type").collect()]
    assert a == b

    with pytest.raises(ValueError, match="stream_rollup"):
        R.refresh_rollup(spark, t)


def test_rollup_survives_auto_compaction(spark, sf_dir, tmp_path):
    """6+ incremental refreshes trip the auto-compaction trigger inside
    upsert(); the rollup table declares compaction.merge_operators so
    the triggered rewrite merges partials with sum/min/max instead of
    last-wins — the final view must equal the from-scratch aggregate."""
    import shutil

    from pyspark.sql import functions as F

    from starlake_spark.plans import rollup as R
    from starlake_spark.table import create_table

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(4000)
    events = events.withColumn(
        "ts", F.col("ts").cast("timestamp")) if dict(events.dtypes)["ts"] != "bigint" \
        else events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    src_path = str(tmp_path / "src")
    first = events.filter(F.col("event_id") % 8 == 0)
    src_t = create_table(spark, first, src_path)
    roll = R.create_rollup(spark, src_path, str(tmp_path / "roll"),
                           time_col="ts", bucket="day",
                           group_cols=["event_type"], aggs={"value": "sum"})
    assert "compaction.merge_operators" in (roll.info.configuration or {})

    for i in range(1, 8):  # 7 incremental appends -> auto-compact fires
        src_t.write(events.filter(F.col("event_id") % 8 == i), mode="append")
        R.refresh_rollup(spark, roll)

    got = (R.read_rollup(spark, roll)
           .select("bucket_ts", "event_type",
                   F.round(F.col("value_sum").cast("double"), 6).alias("s"))
           .orderBy("bucket_ts", "event_type").collect())
    want = (events.groupBy(F.date_trunc("day", F.col("ts")).alias("bucket_ts"),
                           "event_type")
            .agg(F.round(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6).alias("s"))
            .orderBy("bucket_ts", "event_type").collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    shutil.rmtree(str(tmp_path / "roll"), ignore_errors=True)


def test_declared_merge_ops_apply_to_plain_reads(spark, sf_dir, tmp_path):
    """to_df() with no explicit operators on a declared-operator table
    (compaction.merge_operators) must collapse deltas with the declared
    ops — update/delete/CoW paths read through the same scan, so a
    last-wins default here would corrupt partial-aggregate tables."""
    import shutil

    from pyspark.sql import functions as F

    from starlake_spark.plans import rollup as R
    from starlake_spark.table import create_table

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    if dict(events.dtypes)["ts"] == "bigint":
        events = events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    src_path = str(tmp_path / "src")
    src_t = create_table(spark, events.filter(F.col("event_id") % 2 == 0), src_path)
    roll = R.create_rollup(spark, src_path, str(tmp_path / "roll"),
                           time_col="ts", bucket="day",
                           group_cols=["event_type"], aggs={"value": "sum"})
    src_t.write(events.filter(F.col("event_id") % 2 == 1), mode="append")
    R.refresh_rollup(spark, roll)  # leaves un-compacted deltas

    plain = {(r[0], r[1]): round(r[2], 6) for r in
             roll.to_df().select("bucket_ts", "event_type",
                                 F.col("value_sum").cast("double")).collect()}
    explicit = {(r[0], r[1]): round(r[2], 6) for r in
                roll.to_df(merge_operators={"value_sum": "sum", "n_rows": "sum",
                                            })
                .select("bucket_ts", "event_type",
                        F.col("value_sum").cast("double")).collect()}
    assert plain == explicit
    shutil.rmtree(str(tmp_path / "roll"), ignore_errors=True)


def test_dml_source_rollup_fallback_and_guards(spark, tmp_path):
    """Hash-source rollups: CDC-incremental for delta DML, full rebuild
    when a CoW rewrite appears in range, min/max rejected at create."""
    import pytest as _pt

    from starlake_spark.plans import rollup as R
    from starlake_spark.table import create_table

    rows = [(i, f"2024-01-01 0{i % 3}:00:00", f"g{i % 2}", float(i))
            for i in range(1, 21)]
    df = (spark.createDataFrame(rows, "id int, ts string, g string, x double")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    src_path = str(tmp_path / "src")
    src = create_table(spark, df, src_path,
                       hash_partitions=["id"], hash_bucket_num=2)

    # min/max over a hash source creates fine since round 10 (the
    # refresh rescans threatened cells); deletes that kill a cell's
    # maximum must surface the runner-up exactly
    tmax = R.create_rollup(spark, src_path, str(tmp_path / "mm"),
                           time_col="ts", group_cols=["g"],
                           aggs={"x": "max"})
    src.delete("x >= 8")
    assert R.refresh_rollup(spark, tmax)["mode"] == "incremental"
    gotm = {(r["bucket_ts"], r["g"], r["x_max"]) for r in
            R.read_rollup(spark, tmax).collect()}
    wantm = {(r["b"], r["g"], r["m"]) for r in
             src.to_df().groupBy(F.date_trunc("hour", "ts").alias("b"),
                                 "g")
             .agg(F.max("x").alias("m")).collect()}
    assert gotm == wantm

    t = R.create_rollup(spark, src_path, str(tmp_path / "agg"),
                        time_col="ts", group_cols=["g"],
                        aggs={"x": "sum"}, hash_bucket_num=2)

    def expect_equal():
        got = {(str(r["bucket_ts"]), r["g"]): (float(r["value"]), r["n"])
               for r in R.read_rollup(spark, t).filter("n_rows > 0")
               .selectExpr("bucket_ts", "g",
                           "CAST(x_sum AS DOUBLE) AS value",
                           "CAST(n_rows AS LONG) AS n").collect()}
        want = {(str(r["bucket_ts"]), r["g"]): (float(r["value"]), r["n"])
                for r in src.to_df()
                .groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"), "g")
                .agg(F.sum("x").alias("value"), F.count(F.lit(1)).alias("n"))
                .collect()}
        assert got == want, (got, want)

    # delta churn -> incremental
    src.upsert(spark.createDataFrame(
        [(2, "2024-01-01 01:00:00", "g0", 100.0)], "id int, ts string, g string, x double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src.delete("id = 5", use_delta=True)
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "incremental", res
    expect_equal()

    # CoW UPDATE (rewrite commit): the symmetric file-set diff nets the
    # rewritten partition's unchanged rows to zero -> still incremental
    src.update("id = 7", {"x": F.lit(700.0)}, use_delta=False)
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "incremental", res
    expect_equal()

    # CoW DELETE (rows leave via expired files only) -> incremental too
    src.delete("id = 9", use_delta=False)
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "incremental", res
    expect_equal()

    # a vacuumed window file forces the full rebuild (pre-checked,
    # nothing double-applies)
    src.update("id = 11", {"x": F.lit(1100.0)}, use_delta=False)
    src.cleanup(retention_s=0.0)
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "full", res
    expect_equal()

    # noop
    assert R.refresh_rollup(spark, t)["mode"] == "noop"


def _sum_state(spark, t):
    return {(str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
            for r in R.read_rollup(spark, t)
            .select("bucket_ts", "event_type", "value_sum", "n_rows")
            .collect()}


def test_rollup_crash_then_new_commit_no_double_apply(spark, events,
                                                      tmp_path):
    """Round-9: the txn stamp is the authoritative rollup cursor. Crash
    after the gated upsert (stamp advanced) but before the property
    save, THEN a new source commit — the next refresh must apply ONLY
    the new window, not re-merge the stamped one."""
    half = events.filter(F.col("event_id") % 3 == 0)
    src = create_table(spark, half, str(tmp_path / "src"),
                       hash_partitions=["event_id"], hash_bucket_num=4)
    t = R.create_rollup(spark, str(tmp_path / "src"), str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "sum"}, hash_bucket_num=4)
    cfg_before = (t.info.configuration or {})["rollup.last_version"]

    # window 1
    src.upsert(events.filter(F.col("event_id") % 3 == 1))
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "incremental"

    # crash: property save lost
    t.set_properties({"rollup.last_version": cfg_before})

    # window 2 (new commit after the crash)
    src.upsert(events.filter(F.col("event_id") % 3 == 2))
    t2 = R.StarTable.for_path(spark, str(tmp_path / "ru"))
    res2 = R.refresh_rollup(spark, t2)
    assert res2["mode"] == "incremental"
    assert res2["from"] > int(cfg_before), "resume ignored the txn stamp"

    want = (events.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"),
                           "event_type")
            .agg(F.sum(F.col("value").cast("decimal(28,6)"))
                 .alias("value_sum"),
                 F.count(F.lit(1)).alias("n_rows")))
    assert _sum_state(spark, t2) == {
        (str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
        for r in want.collect()}, "window 1 was double-applied"


def test_rollup_dv_delete_forces_rebuild(spark, events, tmp_path):
    """Round-9: a deletion-vector delete on an append-only rollup
    source changes no data-file paths — the old append-only check saw
    zero new files and silently never retracted the deleted rows."""
    from starlake_spark.operators import dml

    src = create_table(spark, events, str(tmp_path / "src"))
    t = R.create_rollup(spark, str(tmp_path / "src"), str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "sum"}, hash_bucket_num=4)
    before = _sum_state(spark, t)

    dml.delete(spark, src.store, condition="event_type = 'click'",
               use_dv=True)
    assert any(p.dv_files for p in src.store.snapshot().partitions.values())
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "full", "DV-only window must force the rebuild"
    after = _sum_state(spark, t)
    assert after != before
    assert not any(r[1] == "click" for r in after), \
        "DV-deleted rows were never retracted"


def test_source_rollback_forces_full_rebuild_not_noop(spark, events,
                                                      tmp_path):
    """ADVICE r10 (low): cursor AHEAD of the source's latest version
    (source recreated at the same path) used to report 'noop' and serve
    stale data forever — it must mirror the MV path and full-rebuild."""
    import shutil

    src_path = str(tmp_path / "src")
    src = create_table(spark, events, src_path)
    src.write(events.withColumn("event_id", F.col("event_id") + 10_000_000),
              mode="append")
    src.write(events.withColumn("event_id", F.col("event_id") + 20_000_000),
              mode="append")
    t = R.create_rollup(spark, src_path, str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "sum"}, hash_bucket_num=4)
    assert R.refresh_rollup(spark, t)["mode"] == "noop"

    # recreate the source at the SAME path with fewer commits: its
    # latest version is now BEHIND the rollup's cursor
    shutil.rmtree(src_path)
    half = events.filter(F.col("event_id") % 2 == 0)
    create_table(spark, half, src_path)
    from starlake_spark.meta import ManifestStore
    assert ManifestStore(src_path).latest_version() < \
        int((t.info.configuration or {})["rollup.last_version"])

    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "full", f"rolled-back source must rebuild: {res}"
    got = R.read_rollup(spark, t).select("bucket_ts", "event_type",
                                         "value_sum", "n_rows")
    want = (half.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"),
                         "event_type")
            .agg(F.sum(F.col("value").cast("decimal(28,6)"))
                 .alias("value_sum"),
                 F.count(F.lit(1)).alias("n_rows")))
    a = [(str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
         for r in got.orderBy("bucket_ts", "event_type").collect()]
    b = [(str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
         for r in want.orderBy("bucket_ts", "event_type").collect()]
    assert a == b
    # and the cursor re-anchored: next refresh is a clean noop
    assert R.refresh_rollup(spark, t)["mode"] == "noop"


def _realtime_vs_refreshed(spark, t):
    """read_rollup_realtime must equal refresh-then-read exactly."""
    rt = {tuple(str(v) for v in r)
          for r in R.read_rollup_realtime(spark, t).collect()}
    R.refresh_rollup(spark, t)
    refreshed = {tuple(str(v) for v in r)
                 for r in R.read_rollup(spark, t).collect()}
    assert rt == refreshed
    return rt


def test_realtime_read_append_only(spark, events, tmp_path):
    """Round-10: real-time continuous-aggregate read — rollup partials
    + live tail combined on the fly, no write — equals refresh-then-
    read bit-for-bit on an append-only source, and the read itself
    commits nothing."""
    src = create_table(spark, events.limit(1000), str(tmp_path / "src"))
    t = R.create_rollup(spark, str(tmp_path / "src"), str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "sum", "event_id": "max"},
                        hash_bucket_num=4)
    v0 = t.store.latest_version()
    # steady state: realtime == plain read
    a = {tuple(str(v) for v in r)
         for r in R.read_rollup_realtime(spark, t).collect()}
    b = {tuple(str(v) for v in r) for r in R.read_rollup(spark, t).collect()}
    assert a == b
    src.write(events.filter(F.col("event_id") % 3 == 0), mode="append")
    src.write(events.filter(F.col("event_id") % 3 == 1), mode="append")
    _realtime_vs_refreshed(spark, t)
    # the realtime read itself never wrote to the rollup: exactly ONE
    # commit landed (the refresh inside the comparison helper)
    assert t.store.latest_version() == v0 + 1


def test_realtime_read_hash_source_with_retractions(spark, events,
                                                    tmp_path):
    """Hash source: the live tail is the SIGNED window (upserts net
    new-old, deletes retract), same algebra the refresh applies."""
    from starlake_spark.operators import dml

    src = create_table(spark, events.limit(1000), str(tmp_path / "src"),
                       hash_partitions=["event_id"], hash_bucket_num=4)
    t = R.create_rollup(spark, str(tmp_path / "src"), str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "sum"}, hash_bucket_num=4)
    # un-refreshed window: value doubling + a slice deleted
    src.upsert(events.limit(1000).filter(F.col("event_id") % 4 == 0)
               .withColumn("value", F.col("value") * 2))
    dml.delete(spark, src.store, condition="event_id % 5 = 1",
               use_delta=True)
    got = _realtime_vs_refreshed(spark, t)
    # and the answer is right in absolute terms, not just consistent
    import duckdb  # noqa: F401  (proves determinism vs plain SQL)
    live = src.to_df()
    want = {tuple(str(v) for v in r) for r in
            live.groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"),
                         "event_type")
            .agg(F.sum(F.col("value").cast("decimal(28,6)"))
                 .alias("value_sum"),
                 F.count(F.lit(1)).alias("n_rows")).collect()}
    # groups whose rows were ALL deleted persist as n_rows=0 partials
    # (refresh-path behavior; realtime matches it exactly) — exclude
    # them from the absolute comparison
    norm = {(r[0], r[1], str(r[2]), r[3]) for r in got if r[3] != '0'}
    assert {(str(w[0]), w[1], str(w[2]), str(w[3])) for w in want} == norm


def test_realtime_read_full_fallbacks(spark, events, tmp_path):
    """Rolled-back source and rewritten history both force the full
    recompute — same guards as the refresh, read-only."""
    import shutil

    src_path = str(tmp_path / "src")
    src = create_table(spark, events.limit(600), src_path)
    t = R.create_rollup(spark, src_path, str(tmp_path / "ru"),
                        time_col="ts", group_cols=[],
                        aggs={"value": "sum"}, hash_bucket_num=4)
    src.write(events.limit(300), mode="append")
    R.refresh_rollup(spark, t)
    # recreate smaller at the same path → realtime must serve the NEW
    # source's content (full recompute), not the stale rollup
    shutil.rmtree(src_path)
    create_table(spark, events.limit(100), src_path)
    got = R.read_rollup_realtime(spark, t)
    assert got.agg(F.sum("n_rows")).collect()[0][0] == 100


def _want_sum_state(df):
    """(bucket, event_type, value_sum, n_rows) of an hourly sum rollup,
    recomputed from the source rows ``df`` with plain Spark."""
    return {(str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
            for r in df.groupBy(F.date_trunc("hour", "ts")
                                .alias("bucket_ts"), "event_type")
            .agg(F.sum(F.col("value").cast("decimal(28,6)"))
                 .alias("value_sum"),
                 F.count(F.lit(1)).alias("n_rows")).collect()}


def _live_sum_state(df):
    return {(str(r.bucket_ts), r.event_type, str(r.value_sum), r.n_rows)
            for r in df.select("bucket_ts", "event_type", "value_sum",
                               "n_rows").collect()}


@pytest.mark.parametrize("hashed", [False, True],
                         ids=["append_only", "hash"])
def test_expired_cursor_version_rebuilds_in_full(spark, events, tmp_path,
                                                 hashed):
    """Manifest log retention ages out the source version at the
    rollup's cursor: the window can no longer be resolved, so the
    real-time read serves a full recompute and the refresh rebuilds in
    full (as an MV refresh does) instead of failing."""
    from starlake_spark.meta import MetaError

    rows = events.limit(600)
    kw = ({"hash_partitions": ["event_id"], "hash_bucket_num": 2}
          if hashed else {})
    src_path = str(tmp_path / "src")
    src = create_table(spark, rows.filter(F.col("event_id") % 4 == 0),
                       src_path,
                       configuration={"meta.checkpoint.interval": "2"},
                       **kw)
    t = R.create_rollup(spark, src_path, str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "sum"}, hash_bucket_num=2)
    cursor = int(t.info.configuration["rollup.last_version"])
    for i in range(1, 4):
        part = rows.filter(F.col("event_id") % 4 == i)
        if hashed:
            src.upsert(part)
        else:
            src.write(part, mode="append")
    src.store.expire_manifests(retention_s=0.0)
    with pytest.raises(MetaError):
        src.store.snapshot(cursor)
    want = _want_sum_state(src.to_df())
    assert _live_sum_state(R.read_rollup_realtime(spark, t)) == want
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "full", res
    assert _live_sum_state(R.read_rollup(spark, t)) == want
    assert R.refresh_rollup(spark, t)["mode"] == "noop"


def test_empty_append_is_noop_and_advances_cursor(spark, events, tmp_path):
    """An empty append commits a version with no new data files: the
    refresh is a noop that still moves the cursor past it, and the next
    real append folds incrementally."""
    rows = events.limit(600)
    src_path = str(tmp_path / "src")
    src = create_table(spark, rows.filter(F.col("event_id") % 2 == 0),
                       src_path)
    t = R.create_rollup(spark, src_path, str(tmp_path / "ru"),
                        time_col="ts", group_cols=["event_type"],
                        aggs={"value": "sum"}, hash_bucket_num=2)
    cursor = int(t.info.configuration["rollup.last_version"])
    src.write(rows.limit(0), mode="append")
    empty_v = src.store.latest_version()
    assert empty_v > cursor
    before = _live_sum_state(R.read_rollup(spark, t))
    assert _live_sum_state(R.read_rollup_realtime(spark, t)) == before
    res = R.refresh_rollup(spark, t)
    assert res == {"mode": "noop", "from": cursor, "to": empty_v}, res
    assert int(t.info.configuration["rollup.last_version"]) == empty_v
    assert _live_sum_state(R.read_rollup(spark, t)) == before

    src.write(rows.filter(F.col("event_id") % 2 == 1), mode="append")
    res = R.refresh_rollup(spark, t)
    assert res["mode"] == "incremental", res
    assert res["from"] == empty_v
    assert _live_sum_state(R.read_rollup(spark, t)) == _want_sum_state(rows)


# ---------------------------------------------------------------------------
# round 10: rollup-serving query rewrite
# ---------------------------------------------------------------------------


@pytest.fixture()
def rsess(spark, tmp_path):
    from starlake_spark.sql import StarSession

    return StarSession(spark, warehouse=str(tmp_path / "wh"))


def _mk_rewrite_fixture(spark, rsess, tmp_path, events):
    """Hash source with a DECIMAL measure (bit-exact partial algebra),
    an hourly sum+count+avg rollup registered for rewrite, and an
    UN-refreshed window (upsert + delete)."""
    from decimal import Decimal  # noqa: F401

    from pyspark.sql import functions as F

    from starlake_spark import create_table
    from starlake_spark.operators import dml

    src_df = (events.limit(2000)
              .withColumn("value", F.col("value").cast("decimal(18,4)")))
    src = create_table(spark, src_df, str(tmp_path / "ev"),
                       hash_partitions=["event_id"], hash_bucket_num=4,
                       short_name="ev", warehouse=rsess.warehouse)
    rsess.register("ev", src)
    ru = R.create_rollup(spark, str(tmp_path / "ev"), str(tmp_path / "ru"),
                         time_col="ts", group_cols=["event_type"],
                         aggs={"value": "avg", "event_id": "count"},
                         hash_bucket_num=4)
    R.register_rollup(rsess, "ev_hourly", ru)
    # un-refreshed window the served answers must absorb
    src.upsert(src_df.filter(F.col("event_id") % 3 == 0)
               .withColumn("value", (F.col("value") * 2)
                           .cast("decimal(18,4)")))
    dml.delete(spark, src.store, condition="event_id % 7 = 1",
               use_delta=True)
    return src, ru


def _served(rsess, q):
    from starlake_spark.plans import mv

    rsess._sync_views()
    return mv.try_rewrite(rsess, q)


def _same(rsess, hit, q):
    got = sorted(tuple(str(x) for x in r) for r in hit.collect())
    want = sorted(tuple(str(x) for x in r)
                  for r in rsess.spark.sql(q).collect())
    assert got == want, (got[:3], want[:3])
    assert len(got) > 0


def test_rollup_rewrite_exact_and_regrouped(spark, rsess, tmp_path,
                                            events):
    _mk_rewrite_fixture(spark, rsess, tmp_path, events)
    # exact bucket + full group set
    q1 = ("SELECT date_trunc('hour', ts) AS h, event_type, "
          "sum(value) AS sv, count(*) AS n FROM ev GROUP BY 1, 2")
    hit = _served(rsess, q1)
    assert hit is not None, "rollup rewrite missed the exact shape"
    _same(rsess, hit, q1)
    # coarser bucket + dropped group col + avg + count(col)
    q2 = ("SELECT date_trunc('day', ts) AS d, avg(value) AS av, "
          "count(event_id) AS ne FROM ev GROUP BY 1")
    hit = _served(rsess, q2)
    assert hit is not None
    _same(rsess, hit, q2)
    # week is servable from hour; global aggregate too
    for q in ("SELECT date_trunc('week', ts) AS w, sum(value) AS sv "
              "FROM ev GROUP BY 1",
              "SELECT count(*) AS n, sum(value) AS sv FROM ev"):
        hit = _served(rsess, q)
        assert hit is not None, q
        _same(rsess, hit, q)
    # group-col WHERE compensates on the rollup
    q5 = ("SELECT date_trunc('day', ts) AS d, count(*) AS n FROM ev "
          "WHERE event_type IN ('click', 'view') GROUP BY 1")
    hit = _served(rsess, q5)
    assert hit is not None
    _same(rsess, hit, q5)


def test_rollup_rewrite_refuses_unsafe_shapes(spark, rsess, tmp_path,
                                              events):
    _mk_rewrite_fixture(spark, rsess, tmp_path, events)
    for q in (
        # predicate on a measure: not group-determined
        "SELECT date_trunc('day', ts) AS d, count(*) AS n FROM ev "
        "WHERE value > 5 GROUP BY 1",
        # aggregate the rollup does not track
        "SELECT date_trunc('day', ts) AS d, min(value) AS mv FROM ev "
        "GROUP BY 1",
        # finer bucket than materialized
        "SELECT date_trunc('minute', ts) AS m, count(*) AS n FROM ev "
        "GROUP BY 1",
        # grouping by a non-rollup column
        "SELECT user_id, count(*) AS n FROM ev GROUP BY 1",
        # raw (unbucketed) time grouping
        "SELECT ts, count(*) AS n FROM ev GROUP BY 1",
    ):
        assert _served(rsess, q) is None, f"unsafely served: {q}"


def test_rollup_rewrite_through_session_sql(spark, rsess, tmp_path,
                                            events):
    """sess.sql transparently serves from the rollup (the mv rewriter
    consults the rollup registry after the MV loop misses) and the
    answer tracks the source's LATEST commit with no refresh."""
    src, ru = _mk_rewrite_fixture(spark, rsess, tmp_path, events)
    v_ru = ru.store.latest_version()
    q = ("SELECT date_trunc('day', ts) AS d, sum(value) AS sv, "
         "count(*) AS n FROM ev GROUP BY 1")
    got = {tuple(str(x) for x in r) for r in rsess.sql(q).collect()}
    want = {tuple(str(x) for x in r)
            for r in rsess.sql(q, rewrite=False).collect()}
    assert got == want
    assert ru.store.latest_version() == v_ru  # the serve wrote nothing
    # identity guard: a recreated source must not be served from the
    # stale rollup
    import shutil

    from starlake_spark import create_table

    shutil.rmtree(src.store.table_path)
    s2 = create_table(spark, events.limit(50), src.store.table_path,
                      short_name="ev", warehouse=rsess.warehouse)
    rsess.register("ev", s2)
    assert _served(rsess, q) is None
