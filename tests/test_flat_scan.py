"""Flat-scan fast path (optimization round 10): when every commit
group of a snapshot is schema-homogeneous, `_merge_scan`/`_plain_scan`
serve the whole history through ONE parquet relation (version
attributed from the file's directory) instead of a union of per-commit
reads. These tests pin (a) bit-identical results vs the union path
(``STARLAKE_FLAT_SCAN=off``), including tombstone deltas, in-batch
churn and resurrect-after-delete, (b) the single-relation plan shape,
and (c) that evolution shapes the gate cannot serve fall back to the
union path and stay correct."""

import os

import pytest
from pyspark.sql import functions as F

from starlake_spark.table import StarTable, create_table


def _mk_df(spark, n=600):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("grp"),
        (F.col("id") * 1.5).alias("bal"),
        F.concat(F.lit("name_"), F.col("id")).alias("nm"))


NO_COMPACT = {"compaction.auto": "false", "compaction.maxDeltas": "0"}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def churned_table(spark, tmp_table_dir):
    df = _mk_df(spark)
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    for i in range(3):
        t.upsert(df.filter(F.col("k") % (i + 2) == 0)
                   .withColumn("bal", F.col("bal") + F.lit(10.0 * (i + 1))))
    t.delete("k % 13 = 0", use_delta=True)
    t.upsert(df.filter(F.col("k") % 26 == 0)
               .withColumn("nm", F.lit("resurrected")))
    return t


def test_merge_scan_flat_equals_union(spark, churned_table, monkeypatch):
    monkeypatch.setenv("STARLAKE_FLAT_SCAN", "off")
    ref = _rows(churned_table.to_df())
    monkeypatch.delenv("STARLAKE_FLAT_SCAN")
    fast_df = churned_table.to_df()
    assert _rows(fast_df) == ref
    # ONE parquet relation for the whole 6-commit history
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1


def test_plain_scan_flat_equals_union(spark, tmp_table_dir, monkeypatch):
    df = _mk_df(spark)
    t = create_table(spark, df, tmp_table_dir, configuration=NO_COMPACT)
    t.write(df.withColumn("k", F.col("k") + 10_000))
    t.write(df.withColumn("k", F.col("k") + 20_000))
    monkeypatch.setenv("STARLAKE_FLAT_SCAN", "off")
    ref = _rows(t.to_df())
    monkeypatch.delenv("STARLAKE_FLAT_SCAN")
    fast_df = t.to_df()
    assert _rows(fast_df) == ref
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1


def test_flat_serves_add_column_evolution(spark, tmp_table_dir,
                                          monkeypatch):
    """ADD COLUMN mid-history (round 11): heterogeneous exist_cols are
    now served by the single relation — absent columns null-backfill
    from the explicit schema and their merge ORDERING nulls out on the
    absent commits (the union path's per-branch literal as a CASE), so
    'absent = keep existing' survives."""
    df = _mk_df(spark)
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    t.upsert(df.filter(F.col("k") % 2 == 0)
               .withColumn("bal", F.col("bal") + 5.0))
    t.add_columns([("extra", "int")])
    t.upsert(df.filter(F.col("k") % 3 == 0)
               .withColumn("bal", F.col("bal") + 7.0)
               .withColumn("extra", F.lit(42)))
    from starlake_spark.operators import reader as R
    store = t.store
    info = store.table_info(refresh=True)
    files = store.snapshot().all_files()
    groups = R._group_files(files)
    assert R._flat_read_plan(store, info, groups) is not None
    monkeypatch.setenv("STARLAKE_FLAT_SCAN", "off")
    ref = _rows(t.to_df())
    monkeypatch.delenv("STARLAKE_FLAT_SCAN")
    fast_df = t.to_df()
    assert _rows(fast_df) == ref
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    assert plan.split("== Initial Plan ==")[0].count("FileScan") == 1
    out = {r.k: r for r in t.to_df().collect()}
    assert out[6].extra == 42 and out[6].bal == pytest.approx(6 * 1.5 + 7)
    assert out[4].extra is None and out[4].bal == pytest.approx(4 * 1.5 + 5)


def test_flat_gate_refuses_rename(spark, tmp_table_dir):
    """A renamed column leaves old commits' exist_cols under the OLD
    name — outside the declared set, so the gate must keep the
    alias-aware union path (and stay correct)."""
    df = _mk_df(spark)
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    t.upsert(df.filter(F.col("k") % 2 == 0)
               .withColumn("bal", F.col("bal") + 5.0))
    t.rename_column("nm", "label")
    from starlake_spark.operators import reader as R
    info = t.store.table_info(refresh=True)
    groups = R._group_files(t.store.snapshot().all_files())
    assert R._flat_read_plan(t.store, info, groups) is None
    out = {r.k: r for r in t.to_df().collect()}
    assert out[7].label == "name_7"


def test_flat_gate_refuses_shared_probe_key(churned_table, tmp_path):
    """Two different dirs whose last segments coincide would probe the
    same key: the gate must refuse rather than attribute one dir's
    version to the other's files."""
    import dataclasses
    import shutil
    from starlake_spark.operators import reader as R
    store = churned_table.store
    groups = R._group_files(store.snapshot().all_files())
    (_wv, cdir), fs = next(iter(groups.items()))
    twin_path = str(tmp_path / fs[0].path)  # same commit dir name
    os.makedirs(os.path.dirname(twin_path))
    shutil.copy(os.path.join(store.table_path, fs[0].path), twin_path)
    groups[(10_000, os.path.dirname(twin_path))] = [
        dataclasses.replace(fs[0], write_version=10_000, path=twin_path)]
    assert R._flat_read_plan(store, store.table_info(), groups) is None


def test_flat_gate_refuses_merge_on_in_batch_ties(spark, churned_table):
    """The flat path and union path must collapse in-batch duplicate
    keys identically (both order by commit version only — ties within
    a commit are pre-collapsed by upsert before writing)."""
    t = churned_table
    # merge operators ride the same sort_array(collect_list) shape:
    from starlake_spark import merge_ops as mo
    df_ops = t.to_df(merge_operators={"bal": mo.SumMergeOp()})
    os.environ["STARLAKE_FLAT_SCAN"] = "off"
    try:
        ref = _rows(t.to_df(merge_operators={"bal": mo.SumMergeOp()}))
    finally:
        os.environ.pop("STARLAKE_FLAT_SCAN", None)
    assert _rows(df_ops) == ref


def _mk_range_df(spark, n=600):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("r"), (F.col("id") % 3)).alias("region"),
        (F.col("id") * 1.5).alias("bal"),
        F.concat(F.lit("name_"), F.col("id")).alias("nm"))


@pytest.fixture()
def churned_range_table(spark, tmp_table_dir):
    """Range×hash table with a delta history: the round-11 extension of
    the flat scan (hive dirs under per-commit dirs, values rebuilt from
    the file path), tombstone deltas included. (NULL range values are
    impossible — the writer's NOT NULL partition invariant.)"""
    df = _mk_range_df(spark)
    t = create_table(spark, df, tmp_table_dir,
                     range_partitions=["region"],
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    for i in range(3):
        t.upsert(df.filter(F.col("k") % (i + 2) == 0)
                   .withColumn("bal", F.col("bal") + F.lit(10.0 * (i + 1))))
    t.delete("k % 13 = 0", use_delta=True)
    t.upsert(df.filter(F.col("k") % 26 == 0)
               .withColumn("nm", F.lit("resurrected")))
    return t


def test_range_merge_scan_flat_equals_union(spark, churned_range_table,
                                            monkeypatch):
    monkeypatch.setenv("STARLAKE_FLAT_SCAN", "off")
    ref = _rows(churned_range_table.to_df())
    monkeypatch.delenv("STARLAKE_FLAT_SCAN")
    fast_df = churned_range_table.to_df()
    assert _rows(fast_df) == ref
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1  # one relation, whole history


def test_range_flat_version_pinned_reads(spark, churned_range_table,
                                         monkeypatch):
    _flat_equals_union_every_version(churned_range_table, monkeypatch)


def _flat_equals_union_every_version(t, monkeypatch):
    for v in range(1, t.store.latest_version() + 1):
        monkeypatch.setenv("STARLAKE_FLAT_SCAN", "off")
        ref = _rows(t.to_df(version=v))
        monkeypatch.delenv("STARLAKE_FLAT_SCAN")
        assert _rows(t.to_df(version=v)) == ref, f"version {v}"


def test_range_flat_uri_escaped_values(spark, tmp_table_dir,
                                       monkeypatch):
    """Partition values the file-path URI encoding alters (space, %,
    +, non-ASCII) must come back byte-exactly through the flat scan's
    per-file constants — the TPC-H priority strings ('4-NOT
    SPECIFIED') are the everyday case."""
    df = spark.range(0, 80).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 4 == 0, F.lit("plain"))
         .when(F.col("id") % 4 == 1, F.lit("has space"))
         .when(F.col("id") % 4 == 2, F.lit("ünï çødé"))
         .otherwise(F.lit("odd%2B+val")).alias("region"),
        (F.col("id") * 1.5).alias("bal"))
    t = create_table(spark, df, tmp_table_dir,
                     range_partitions=["region"],
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    t.upsert(df.filter("k % 5 = 0").withColumn("bal", F.lit(0.0)))
    from starlake_spark.operators import reader as rd
    groups = rd._group_files(t.store.snapshot().all_files())
    assert rd._flat_read_plan(t.store, t.store.table_info(),
                              groups) is not None
    _flat_equals_union_every_version(t, monkeypatch)
    assert {r.region for r in t.to_df().collect()} == {
        "plain", "has space", "ünï çødé", "odd%2B+val"}


def test_range_flat_null_partition_value(spark, tmp_path, monkeypatch):
    """The hive default partition of an adopted layout reads as NULL
    through the flat plain scan, as Spark's partition discovery reads
    it on the union path."""
    src = str(tmp_path / "adopt")
    spark.range(0, 30).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, F.lit(None))
         .otherwise(F.concat(F.lit("r"), F.col("id") % 2)).alias("region"),
        (F.col("id") * 1.5).alias("bal"),
    ).write.partitionBy("region").parquet(src)
    from starlake_spark.table import convert_to_star
    t = convert_to_star(spark, src, range_partitions=["region"],
                        configuration=NO_COMPACT)
    t.write(spark.range(100, 110).select(
        F.col("id").alias("k"), F.lit("ünï").alias("region"),
        (F.col("id") * 1.5).alias("bal")))
    from starlake_spark.operators import reader as rd
    groups = rd._group_files(t.store.snapshot().all_files())
    flat = rd._flat_read_plan(t.store, t.store.table_info(), groups,
                              per_row_cost=False)
    assert flat is not None
    assert (None,) in {vals for _wv, vals in flat[1].values()}
    _flat_equals_union_every_version(t, monkeypatch)
    rows = t.to_df().collect()
    assert sum(r.region is None for r in rows) == 10
    assert sum(r.region == "ünï" for r in rows) == 10


def test_range_flat_gate_refuses_comma_values(spark, tmp_table_dir,
                                              monkeypatch):
    """A ',' in a partition value is the manifest range_value segment
    separator — unrepresentable, so the gate must keep the union path
    (and stay correct)."""
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.lit("a,b"))
         .otherwise(F.lit("plain")).alias("region"),
        (F.col("id") * 1.5).alias("bal"))
    t = create_table(spark, df, tmp_table_dir,
                     range_partitions=["region"],
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    t.upsert(df.filter("k % 5 = 0").withColumn("bal", F.lit(0.0)))
    from starlake_spark.operators import reader as rd
    groups = rd._group_files(t.store.snapshot().all_files())
    assert rd._flat_read_plan(t.store, t.store.table_info(),
                              groups) is None
    monkeypatch.setenv("STARLAKE_FLAT_SCAN", "off")
    ref = _rows(t.to_df())
    monkeypatch.delenv("STARLAKE_FLAT_SCAN")
    assert _rows(t.to_df()) == ref


@pytest.mark.parametrize("tombstones", [False, True])
def test_key_only_hash_table_mor_scan(spark, tmp_table_dir, monkeypatch,
                                      tombstones):
    """A hash table whose columns are all keys merges to its distinct
    live keys on both arms, though it has no column to aggregate."""
    t = create_table(spark, spark.range(0, 20).select(
        F.col("id").alias("k")), tmp_table_dir,
        hash_partitions=["k"], hash_bucket_num=2, configuration=NO_COMPACT)
    t.upsert(spark.range(15, 25).select(F.col("id").alias("k")))
    want = set(range(25))
    if tombstones:
        t.delete("k % 4 = 0", use_delta=True)
        want = {k for k in want if k % 4}
    for flat in ("off", None):
        if flat:
            monkeypatch.setenv("STARLAKE_FLAT_SCAN", flat)
        else:
            monkeypatch.delenv("STARLAKE_FLAT_SCAN", raising=False)
        got = [r.k for r in t.to_df().collect()]
        assert sorted(got) == sorted(want)
        assert [r.k for r in t.to_df(where="k = 17").collect()] == [17]


def test_flat_probe_fails_loudly_on_unmapped_dir(spark, churned_range_table,
                                                 monkeypatch):
    """A file whose dir is missing from the per-file constants map fails
    the scan instead of reading as a NULL version."""
    from starlake_spark.operators import reader as rd
    orig = rd._flat_read_plan

    def drop_one(*a, **kw):
        out = orig(*a, **kw)
        if out is not None:
            dir_map = dict(out[1])
            dir_map.pop(next(iter(dir_map)))
            out = (out[0], dir_map, *out[2:])
        return out

    monkeypatch.setattr(rd, "_flat_read_plan", drop_one)
    with pytest.raises(Exception, match="no commit dir mapped"):
        churned_range_table.to_df().collect()


@pytest.mark.parametrize("region", ["r=1", "r=has space é", "r=odd%252B+v"])
def test_probe_key_is_scheme_independent(spark, region):
    """The probe key is a path suffix: an s3a:// file and the local
    rendering of the same table layout derive the key the map holds."""
    from starlake_spark.operators import reader as rd
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    cid = "0a83e6080b6b"
    want = rd._dir_key(f"/tmp/t/data/{cid}/{region}", 2)
    rendered = [jpath(f"{root}/t/data/{cid}/{region}/part-0.parquet")
                .toUri().toString()
                for root in ("s3a://b", "/tmp", "file:///tmp")]
    got = spark.createDataFrame([(p,) for p in rendered], "p string") \
        .select(rd._path_key_col(F.col("p"), 2).alias("key")).collect()
    assert [r.key for r in got] == [want] * 3


def _plan_and_jobs(spark, df):
    """(executed plan text, jobs, tasks) of collecting ``df``."""
    import uuid
    sc = spark.sparkContext
    gid = "flat-" + uuid.uuid4().hex
    plan = df._jdf.queryExecution().executedPlan().toString()
    sc.setJobGroup(gid, "plan hygiene probe")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    tasks = sum(st.getStageInfo(s).numTasks for j in jobs
                for s in st.getJobInfo(j).stageIds)
    return plan, len(jobs), tasks, rows


def _bucket_of(spark, keys, n=2):
    return {r.id: r.b for r in spark.createDataFrame(
        [(k,) for k in keys], "id bigint").select(
        "id", F.expr(f"pmod(hash(id), {n})").alias("b")).collect()}


def test_single_bucket_lookup_has_no_exchange(spark, churned_range_table,
                                              monkeypatch):
    """A MoR point lookup touches one bucket's files: the reference's
    per-bucket merge runs as one task, with no shuffle and one job.
    Multi-bucket lookups and full scans keep their Exchange."""
    t = churned_range_table
    plan, jobs, tasks, rows = _plan_and_jobs(
        spark, t.to_df(where="region = 'r1' AND k = 7"))
    assert "Exchange" not in plan, plan
    assert (jobs, tasks) == (1, 1)
    monkeypatch.setenv("STARLAKE_FLAT_SCAN", "off")
    assert _rows(t.to_df(where="region = 'r1' AND k = 7")) == \
        sorted(tuple(r) for r in rows)
    monkeypatch.delenv("STARLAKE_FLAT_SCAN")

    b = _bucket_of(spark, range(1, 40, 3))
    pair = [next(k for k, v in b.items() if v == 0),
            next(k for k, v in b.items() if v == 1)]
    where = f"region = 'r1' AND k IN ({pair[0]}, {pair[1]})"
    plan, _, _, rows = _plan_and_jobs(spark, t.to_df(where=where))
    assert "Exchange" in plan
    assert sorted(r.k for r in rows) == sorted(pair)
    plan, _, _, _ = _plan_and_jobs(spark, t.to_df())
    assert "Exchange" in plan


def test_single_bucket_merge_above_split_size_keeps_exchange(
        spark, churned_range_table):
    """The one-task merge is sized on spark.sql.files.maxPartitionBytes:
    a single-bucket merge larger than one split keeps its shuffle."""
    t = churned_range_table
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    smallest = min(f.size for f in t.store.snapshot().all_files())
    spark.conf.set(key, str(smallest - 1))
    try:
        plan, _, _, rows = _plan_and_jobs(
            spark, t.to_df(where="region = 'r1' AND k = 7"))
    finally:
        spark.conf.set(key, old)
    assert "Exchange" in plan
    assert [r.k for r in rows] == [7]


# -- exact footer types: Spark's row metadata, INT96 as TimestampType --

def _ts_table(spark, path, ts_type):
    """A churned MoR table with a ``ts_type`` column: updates move the
    timestamps, a tombstone delete and a resurrect follow."""
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.expr(f"CAST(timestamp_seconds(1700000000 + id * 3600) "
               f"AS {ts_type})").alias("ts"),
        (F.col("id") * 1.5).alias("bal"))
    t = create_table(spark, df, path, hash_partitions=["k"],
                     hash_bucket_num=2, configuration=NO_COMPACT)
    t.upsert(df.filter("k % 3 = 0").withColumn(
        "ts", F.expr(f"CAST(ts + INTERVAL 1 DAY AS {ts_type})")))
    t.delete("k % 11 = 0", use_delta=True)
    t.upsert(df.filter("k % 22 = 0").withColumn("bal", F.lit(-1.0)))
    return t


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_flat_serves_timestamp_columns(spark, tmp_table_dir, monkeypatch,
                                       ts_type):
    """Spark writes a TimestampType column as INT96, which pyarrow reads
    tz-naive; the gate types it from Spark's own footer row metadata,
    so timestamp tables take the single-relation merge like any other
    (and timestamp_ntz keeps working)."""
    from starlake_spark.operators import reader as rd
    t = _ts_table(spark, tmp_table_dir, ts_type)
    first = t.store.snapshot().all_files()[0].path
    assert rd._file_spark_schema(
        os.path.join(t.store.table_path, first))["ts"].dataType \
        .simpleString() == ts_type
    groups = rd._group_files(t.store.snapshot().all_files())
    assert rd._flat_read_plan(t.store, t.store.table_info(),
                              groups) is not None
    plan = t.to_df()._jdf.queryExecution().executedPlan().toString()
    assert plan.split("== Initial Plan ==")[0].count("FileScan") == 1
    _flat_equals_union_every_version(t, monkeypatch)


def test_flat_serves_int96_file_without_spark_metadata(spark, tmp_path,
                                                       monkeypatch):
    """A file no Spark wrote (pyarrow, INT96 timestamps, no row
    metadata) adopted by CONVERT TO STAR: its INT96 column reads as
    TimestampType, as Spark's schema converter reads it, so the flat
    plain scan serves it next to a Spark-written commit."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from starlake_spark.operators import reader as rd
    from starlake_spark.table import convert_to_star
    src = tmp_path / "adopt"
    src.mkdir()
    tbl = pa.table({
        "k": pa.array(range(20), pa.int64()),
        "ts": pa.array([1_700_000_000_000_000 + i * 10**9
                        for i in range(20)], pa.timestamp("us")),
        "tags": pa.array([[i, i + 1] for i in range(20)],
                         pa.list_(pa.int64())),
    })
    path = str(src / "part-0.parquet")
    pq.write_table(tbl, path, use_deprecated_int96_timestamps=True)
    assert pq.ParquetFile(path).schema.column(1).physical_type == "INT96"
    assert pq.ParquetFile(path).schema_arrow.metadata is None or \
        rd._SPARK_ROW_METADATA not in pq.ParquetFile(
            path).schema_arrow.metadata
    assert rd._file_spark_schema(path).simpleString() == \
        "struct<k:bigint,ts:timestamp,tags:array<bigint>>"
    t = convert_to_star(spark, str(src), configuration=NO_COMPACT)
    assert t.to_df().schema["ts"].dataType.simpleString() == "timestamp"
    t.write(spark.sql("SELECT CAST(id AS BIGINT) AS k, "
                      "timestamp_seconds(1800000000 + id) AS ts, "
                      "array(id) AS tags FROM range(100, 105)"))
    groups = rd._group_files(t.store.snapshot().all_files())
    assert len(groups) == 2
    assert rd._flat_read_plan(t.store, t.store.table_info(), groups,
                              per_row_cost=False) is not None
    _flat_equals_union_every_version(t, monkeypatch)
    assert t.to_df().count() == 25


def test_range_changes_on_timestamp_keyed_table(spark, tmp_table_dir,
                                                monkeypatch):
    """The rollup's shape — a hash table keyed on a TimestampType column
    — diffs through the flat arm to the union arm's rows."""
    df = spark.sql(
        "SELECT timestamp_seconds(1700000000 + (id % 40) * 86400) AS ts, "
        "CAST(id DIV 40 AS INT) AS g, CAST(id AS DECIMAL(18,2)) AS s "
        "FROM range(0, 160)")
    t = create_table(spark, df, tmp_table_dir, hash_partitions=["ts", "g"],
                     hash_bucket_num=2, configuration=NO_COMPACT)
    t.upsert(df.filter("g = 1").withColumn("s", F.col("s") + 1))
    t.delete("g = 2", use_delta=True)
    t.upsert(df.filter("g = 2").withColumn("s", F.lit(0).cast(
        "decimal(18,2)")))
    from starlake_spark.operators import reader as rd
    from starlake_spark.sources import datasource as ds
    groups = rd._group_files(t.store.snapshot().all_files())
    assert rd._flat_read_plan(t.store, t.store.table_info(),
                              groups) is not None
    for start in range(1, t.store.latest_version()):
        for end in range(start + 1, t.store.latest_version() + 1):
            monkeypatch.setenv("STARLAKE_FLAT_SCAN", "off")
            ref = _rows(ds.range_changes(spark, tmp_table_dir, start, end))
            monkeypatch.delenv("STARLAKE_FLAT_SCAN")
            got = _rows(ds.range_changes(spark, tmp_table_dir, start, end))
            assert got == ref, (start, end)
            assert got, (start, end)


def test_window_key_frame_of_one_commit_runs_no_job(spark, tmp_table_dir):
    """A one-commit window's key frame reads with the declared key
    schema: building it launches no schema-inference job."""
    from starlake_spark.sources import datasource as ds
    df = _mk_df(spark, 100)
    t = create_table(spark, df, tmp_table_dir, hash_partitions=["k"],
                     hash_bucket_num=2, configuration=NO_COMPACT)
    before = {f.path for f in t.store.snapshot().all_files()}
    t.upsert(df.filter("k % 9 = 0").withColumn("bal", F.lit(0.0)))
    new = [f for f in t.store.snapshot().all_files()
           if f.path not in before]
    sc = spark.sparkContext
    gid = "keyframe-probe"
    sc.setJobGroup(gid, "key frame build")
    try:
        kdf = ds._window_key_frame(spark, t.store, t.store.table_info(),
                                   ["k"], new)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    assert sorted(r.k for r in kdf.collect()) == list(range(0, 100, 9))


def test_flat_gate_logs_its_refusal(spark, tmp_table_dir, caplog):
    """Each refusal says why at DEBUG level on the reader's logger."""
    import logging
    from starlake_spark.operators import reader as R
    df = _mk_df(spark)
    t = create_table(spark, df, tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=2,
                     configuration=NO_COMPACT)
    t.upsert(df.filter(F.col("k") % 2 == 0))
    t.rename_column("nm", "label")
    groups = R._group_files(t.store.snapshot().all_files())
    with caplog.at_level(logging.DEBUG, logger=R.__name__):
        assert R._flat_read_plan(t.store, t.store.table_info(refresh=True),
                                 groups) is None
    msgs = [r.getMessage() for r in caplog.records if r.name == R.__name__]
    assert any("undeclared column(s) ['nm']" in m for m in msgs), msgs
