"""format('star') Python DataSource: batch snapshot reads + the
version-tailing change-stream source (beyond the reference, which has
a streaming sink only — StarLakeDataSource.scala:41-133, SURVEY §2.7)."""

import pytest
from pyspark.sql import functions as F

from starlake_spark import sources
from starlake_spark.table import create_table


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    sources.register(spark)


@pytest.fixture()
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def test_batch_read_all_base(spark, orders, tmp_path):
    create_table(spark, orders, str(tmp_path / "t"))
    df = spark.read.format("star").load(str(tmp_path / "t"))
    assert df.count() == orders.count()
    assert df.columns == orders.columns + ["_commit_version"]
    assert df.select("_commit_version").distinct().collect()[0][0] == 1
    # values really round-trip (not just counts)
    a = df.drop("_commit_version").orderBy("o_orderkey").collect()
    b = orders.orderBy("o_orderkey").collect()
    assert a == b


def test_batch_read_version_time_travel(spark, orders, tmp_path):
    t = create_table(spark, orders, str(tmp_path / "t"))
    t.write(orders.limit(7), mode="overwrite")
    latest = spark.read.format("star").load(str(tmp_path / "t"))
    v1 = spark.read.format("star").option("version", "1").load(str(tmp_path / "t"))
    assert latest.count() == 7
    assert v1.count() == orders.count()


def test_batch_read_refuses_mor_deltas(spark, orders, tmp_path):
    t = create_table(spark, orders, str(tmp_path / "t"),
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    t.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(0.0)))
    with pytest.raises(Exception, match="to_df|delta"):
        spark.read.format("star").load(str(tmp_path / "t")).count()


def _run_stream(spark, path, ckpt, out):
    q = (spark.readStream.format("star").load(path)
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_stream_tail_exactly_once_and_compaction_skip(spark, orders, tmp_path):
    path, ckpt, out = str(tmp_path / "t"), str(tmp_path / "ck"), str(tmp_path / "out")
    t = create_table(spark, orders, path,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    n = orders.count()
    t.upsert(orders.limit(20).withColumn("o_totalprice", F.lit(1.0)))

    got = _run_stream(spark, path, ckpt, out)
    by_v = dict(got.groupBy("_commit_version").count().collect())
    assert by_v == {1: n, 2: 20}

    # compaction (v3) must not re-emit; a following upsert (v4) must
    t.compaction()
    t.upsert(orders.limit(5).select(
        "o_orderkey", F.lit("Z").alias("o_orderstatus")))
    got = _run_stream(spark, path, ckpt, out)
    by_v = dict(got.groupBy("_commit_version").count().collect())
    assert by_v == {1: n, 2: 20, 4: 5}

    # restart with nothing new: no duplicate emissions
    got = _run_stream(spark, path, ckpt, out)
    assert got.count() == n + 20 + 5


def test_stream_starting_version(spark, orders, tmp_path):
    path = str(tmp_path / "t")
    t = create_table(spark, orders, path,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    t.upsert(orders.limit(10).withColumn("o_totalprice", F.lit(2.0)))
    # startingVersion=1 skips the initial load, sees only the delta
    q = (spark.readStream.format("star").option("startingVersion", "1").load(path)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out3"))
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out3"))
    assert dict(got.groupBy("_commit_version").count().collect()) == {2: 10}


def test_stream_change_types_and_delete_rows(spark, tmp_path):
    """changeTypes=true: _change_type column tags inserts, MoR upserts
    and tombstone deletes; delete_delta commits emit the deleted keys.
    Without the option, a delete in range fails the stream unless
    ignoreDeletes=true acknowledges the append-only view."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i * 10) for i in range(1, 6)], "id int, v int")
    t = create_table(spark, df, path, hash_partitions=["id"], hash_bucket_num=2)
    t.set_properties({"compaction.auto": "false"})
    t.upsert(spark.createDataFrame([(2, 999)], "id int, v int"))
    t.delete("id = 3", use_delta=True)

    q = (spark.readStream.format("star").option("changeTypes", "true").load(path)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out_ct"))
         .option("checkpointLocation", str(tmp_path / "ck_ct"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out_ct"))
    by_type = dict(got.groupBy("_change_type").count().collect())
    assert by_type == {"insert": 5, "update_postimage": 1, "delete": 1}
    del_row = got.filter("_change_type = 'delete'").collect()[0]
    assert (del_row["id"], del_row["v"]) == (3, None)

    # default mode: the delete commit must fail the stream...
    q2 = (spark.readStream.format("star").load(path)
          .writeStream.format("parquet")
          .option("path", str(tmp_path / "out_plain"))
          .option("checkpointLocation", str(tmp_path / "ck_plain"))
          .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="delete_delta|changeTypes"):
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()

    # ...and ignoreDeletes=true restores the (explicit) append-only view
    q3 = (spark.readStream.format("star").option("ignoreDeletes", "true").load(path)
          .writeStream.format("parquet")
          .option("path", str(tmp_path / "out_ign"))
          .option("checkpointLocation", str(tmp_path / "ck_ign"))
          .trigger(availableNow=True).start())
    q3.awaitTermination(120)
    got3 = spark.read.parquet(str(tmp_path / "out_ign"))
    assert got3.count() == 6  # 5 inserts + 1 upsert, no delete rows
    assert "_change_type" not in got3.columns


def test_table_changes_preimages_full_fidelity(spark, tmp_path):
    """with_preimages: delta commits emit MoR-merged states at v-1 and
    v per affected key — update_preimage/update_postimage pairs carry
    real old/new values, deletes carry the deleted row's values, and a
    PARTIAL-column upsert's postimage shows the merged row (not the
    raw delta file's nulls)."""
    from starlake_spark import sources

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 10, f"n{i}") for i in range(1, 5)], "id int, v int, name string")
    t = create_table(spark, df, path, hash_partitions=["id"], hash_bucket_num=2)
    t.set_properties({"compaction.auto": "false"})
    # v2: partial-column upsert touches id 2 (update) and id 9 (insert)
    t.upsert(spark.createDataFrame([(2, 999), (9, 90)], "id int, v int"))
    # v3: tombstone delete of id 3
    t.delete("id = 3", use_delta=True)

    ch = sources.table_changes(spark, path, start_version=1,
                               with_change_type=True, with_preimages=True)
    rows = {(r["_commit_version"], r["_change_type"], r["id"]):
            (r["v"], r["name"]) for r in ch.collect()}
    assert rows[(2, "insert", 9)] == (90, None)
    assert rows[(2, "update_preimage", 2)] == (20, "n2")
    # partial upsert: postimage merges the untouched column
    assert rows[(2, "update_postimage", 2)] == (999, "n2")
    assert rows[(3, "delete", 3)] == (30, "n3")
    assert len(rows) == 4


def test_stream_sees_schema_evolution_nulls(spark, orders, tmp_path):
    path = str(tmp_path / "t")
    t = create_table(spark, orders, path,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    t.add_columns([("note", "string")])
    # stream schema pinned after evolution: old v1 files yield null note
    q = (spark.readStream.format("star").load(path)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == orders.count()
    assert got.filter(F.col("note").isNotNull()).count() == 0


def test_batch_read_recovers_range_partition_values(spark, orders, tmp_path):
    """Range-partition columns live in the directory layout / manifest,
    not the parquet files — the reader must materialize them as typed
    constants per file (regression: they read back as nulls)."""
    t = create_table(spark, orders, str(tmp_path / "t"),
                     range_partitions=["o_orderpriority"])
    df = spark.read.format("star").load(str(tmp_path / "t"))
    assert df.filter(F.col("o_orderpriority").isNull()).count() == 0
    a = {(r.o_orderkey, r.o_orderpriority)
         for r in df.select("o_orderkey", "o_orderpriority").collect()}
    b = {(r.o_orderkey, r.o_orderpriority)
         for r in orders.select("o_orderkey", "o_orderpriority").collect()}
    assert a == b


def test_stream_recovers_range_partition_values(spark, orders, tmp_path):
    t = create_table(spark, orders.filter(F.col("o_orderkey") % 2 == 0),
                     str(tmp_path / "t"), range_partitions=["o_orderpriority"])
    t.write(orders.filter(F.col("o_orderkey") % 2 == 1), mode="append")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_stream(spark, str(tmp_path / "t"), ckpt, out)
    got = spark.read.parquet(out)
    assert got.count() == orders.count()
    assert got.filter(F.col("o_orderpriority").isNull()).count() == 0


def test_batch_read_int_range_partition_typed(spark, sf_dir, tmp_path):
    """Non-string range column round-trips with its declared type."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    create_table(spark, sup, str(tmp_path / "t"), range_partitions=["s_nationkey"])
    df = spark.read.format("star").load(str(tmp_path / "t"))
    assert dict(df.dtypes)["s_nationkey"] == "int"
    a = {(r.s_suppkey, r.s_nationkey) for r in df.select("s_suppkey", "s_nationkey").collect()}
    b = {(r.s_suppkey, r.s_nationkey) for r in sup.select("s_suppkey", "s_nationkey").collect()}
    assert a == b


def test_partition_filter_option_prunes_files(spark, orders, tmp_path):
    """The partition_filter load option drops whole files at the
    manifest layer (reader-level check) and the end-to-end result
    equals a post-hoc filter of the full read."""
    from starlake_spark.sources.datasource import _StarBatchReader

    create_table(spark, orders, str(tmp_path / "t"),
                 range_partitions=["o_orderpriority"])
    schema = spark.read.format("star").load(str(tmp_path / "t")).schema

    all_parts = _StarBatchReader(str(tmp_path / "t"), schema, None).partitions()
    pruned = _StarBatchReader(
        str(tmp_path / "t"), schema, None,
        "o_orderpriority = '1-URGENT'").partitions()
    assert 0 < len(pruned) < len(all_parts)
    assert all(dict(p.const_cols)["o_orderpriority"] == "1-URGENT" for p in pruned)

    got = (spark.read.format("star")
           .option("partition_filter", "o_orderpriority = '1-URGENT'")
           .load(str(tmp_path / "t"))
           .select("o_orderkey").orderBy("o_orderkey").collect())
    want = (orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey").orderBy("o_orderkey").collect())
    assert got == want


def test_partition_filter_option_is_query_stable(spark, orders, tmp_path):
    """Unlike pushFilters pruning (Spark 4.1 reuses the last planned
    scan for filterless re-queries of the same DataFrame), the option
    is part of the load — every query on either frame sees a
    consistent file set."""
    create_table(spark, orders, str(tmp_path / "t"),
                 range_partitions=["o_orderpriority"])
    full = spark.read.format("star").load(str(tmp_path / "t"))
    part = (spark.read.format("star")
            .option("partition_filter",
                    "o_orderpriority IN ('1-URGENT', '2-HIGH')")
            .load(str(tmp_path / "t")))
    n_part = part.count()
    n_full = full.count()
    assert n_full == orders.count()
    assert 0 < n_part < n_full
    # interleave filtered and unfiltered actions on both frames
    assert full.filter(F.col("o_orderpriority") == "5-LOW").count() > 0
    assert full.count() == n_full
    assert part.count() == n_part
    # non-range predicate in the option: file set unchanged (no range
    # column named), rows still correct because Spark doesn't even see
    # the option as a row filter
    assert part.filter(F.col("o_orderkey") % 2 == 0).count() < n_part


def test_stream_partition_filter_option(spark, orders, tmp_path):
    from starlake_spark.sources.datasource import _StarStreamReader

    create_table(spark, orders, str(tmp_path / "t"),
                 range_partitions=["o_orderpriority"])
    schema = spark.read.format("star").load(str(tmp_path / "t")).schema
    r = _StarStreamReader(str(tmp_path / "t"), schema, 0,
                          "o_orderpriority = '1-URGENT'")
    end = r.latestOffset()
    parts = r.partitions({"version": 0}, end)
    assert parts and all(
        dict(p.const_cols)["o_orderpriority"] == "1-URGENT" for p in parts)


def test_read_star_jvm_fast_path_matches_python_reader(spark, orders, tmp_path):
    """sources.read_star is the JVM batch hot path: identical results to
    the Python DataSource (including _commit_version and typed range
    columns) but planned as a plain parquet relation — no Python
    data-source scan node anywhere in the plan."""
    path = str(tmp_path / "t")
    t = create_table(spark, orders, path, range_partitions=["o_orderpriority"])
    t.write(orders.limit(9).withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000),
            mode="append")

    fast = sources.read_star(spark, path, with_version_col=True)
    slow = spark.read.format("star").load(path)
    cols = sorted(fast.columns)
    assert cols == sorted(slow.columns)
    a = fast.select(*cols).orderBy("o_orderkey").collect()
    b = slow.select(*cols).orderBy("o_orderkey").collect()
    assert a == b

    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "PythonDataSource" not in plan and "BatchEvalPython" not in plan
    assert "FileScan parquet" in plan


def test_read_star_version_and_partition_filter(spark, orders, tmp_path):
    path = str(tmp_path / "t")
    t = create_table(spark, orders, path, range_partitions=["o_orderpriority"])
    t.write(orders.limit(7), mode="overwrite")
    assert sources.read_star(spark, path, version=1).count() == orders.count()
    assert sources.read_star(spark, path).count() == 7

    pruned = sources.read_star(spark, path, version=1,
                               partition_filter="o_orderpriority = '1-URGENT'")
    want = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert pruned.count() == want
    # pruning happened at the manifest layer: the scan reads fewer files
    full_files = set(sources.read_star(spark, path, version=1).inputFiles())
    pruned_files = set(pruned.inputFiles())
    assert pruned_files and pruned_files < full_files


def test_read_star_refuses_mor_deltas(spark, orders, tmp_path):
    t = create_table(spark, orders, str(tmp_path / "t"),
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    t.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(0.0)))
    with pytest.raises(Exception, match="to_df|delta"):
        sources.read_star(spark, str(tmp_path / "t"))


def test_table_changes_batch_cdf(spark, orders, tmp_path):
    """Batch change feed matches the streaming source's semantics:
    (start, end] additions only, compaction rewrites suppressed,
    _commit_version tagged per row."""
    path = str(tmp_path / "t")
    t = create_table(spark, orders, path,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    n = orders.count()
    t.upsert(orders.limit(20).withColumn("o_totalprice", F.lit(1.0)))   # v2
    t.compaction(force=True)                                            # v3
    t.upsert(orders.limit(5).withColumn("o_orderstatus", F.lit("Z")))   # v4

    all_changes = sources.table_changes(spark, path)
    by_v = dict(all_changes.groupBy("_commit_version").count().collect())
    assert by_v == {1: n, 2: 20, 4: 5}

    tail = sources.table_changes(spark, path, start_version=2)
    assert dict(tail.groupBy("_commit_version").count().collect()) == {4: 5}

    window = sources.table_changes(spark, path, start_version=1, end_version=2)
    assert dict(window.groupBy("_commit_version").count().collect()) == {2: 20}

    # empty window -> empty frame with the right schema
    none = sources.table_changes(spark, path, start_version=4)
    assert none.count() == 0
    assert "_commit_version" in none.columns

    # JVM plan (no python data source node)
    plan = all_changes._jdf.queryExecution().executedPlan().toString()
    assert "PythonDataSource" not in plan and "FileScan parquet" in plan


def test_stream_with_preimages_reads_cdc_logs(spark, tmp_path):
    """Full-fidelity streaming CDC off the write-time logs: update
    pre/post pairs with real values, deletes carrying the merged
    pre-state (a raw tombstone would stream nulls)."""
    path = str(tmp_path / "pcdc")
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 3)], "id int, name string, v int")
    t = create_table(spark, df, path, hash_partitions=["id"],
                     hash_bucket_num=2,
                     configuration={"compaction.auto": "false",
                                    "cdf.enabled": "true"})
    t.upsert(spark.createDataFrame([(1, "A", 10)], "id int, name string, v int"))
    t.delete("id = 2", use_delta=True)
    q = (spark.readStream.format("star")
         .option("changeTypes", "true").option("withPreimages", "true")
         .option("startingVersion", "1").load(path)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.id, r._change_type): (r.name, r.v, r._commit_version)
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {
        (1, "update_preimage"): ("a", 1, 2),
        (1, "update_postimage"): ("A", 10, 2),
        (2, "delete"): ("b", 2, 3),   # REAL merged values, not nulls
    }


def test_stream_with_preimages_requires_logs(spark, tmp_path):
    """A delta commit without a CDC log fails the preimage stream
    loudly (plan workers cannot re-derive: no SparkSession)."""
    path = str(tmp_path / "nolog")
    df = spark.createDataFrame([(1, "a")], "id int, name string")
    t = create_table(spark, df, path, hash_partitions=["id"],
                     hash_bucket_num=2,
                     configuration={"compaction.auto": "false"})
    t.upsert(spark.createDataFrame([(1, "A")], "id int, name string"))
    q = (spark.readStream.format("star")
         .option("changeTypes", "true").option("withPreimages", "true")
         .load(path)
         .writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="no CDC log|cdf.enabled"):
        q.awaitTermination(120)


def test_python_batch_reader_resolves_renamed_columns(spark, tmp_path):
    """format('star') pure-python batch path serves pre-rename files
    under the new logical name (the plan-worker twin of the JVM
    reader's alias resolution)."""
    path = str(tmp_path / "ren")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    t = create_table(spark, df, path, hash_partitions=["id"], hash_bucket_num=2)
    t.rename_column("name", "label")
    got = spark.read.format("star").load(path)
    assert "label" in got.columns and "name" not in got.columns
    assert {r.id: r.label for r in got.collect()} == {1: "a", 2: "b"}


def test_batch_write_append_and_overwrite(spark, tmp_path):
    """df.write.format('star'): delayed-commit V2 write — append lands
    atomically, overwrite truncates, range partitioning splits in-task,
    stats are harvested, and reads (table API + format('star')) agree."""
    path = str(tmp_path / "w")
    base = spark.createDataFrame(
        [(1, "a", "r1"), (2, "b", "r2")], "id int, v string, r string")
    t = create_table(spark, base, path, range_partitions=["r"])
    more = spark.createDataFrame(
        [(3, "c", "r1"), (4, "d", "r3")], "id int, v string, r string")
    more.write.format("star").mode("append").save(path)
    got = {r.id: (r.v, r.r) for r in t.to_df().collect()}
    assert got == {1: ("a", "r1"), 2: ("b", "r2"),
                   3: ("c", "r1"), 4: ("d", "r3")}
    # partition dirs + manifest range values + footer stats all present
    snap = t.store.snapshot()
    assert "r=r3" in snap.partitions
    newf = [f for f in snap.all_files() if f.write_version == 2]
    assert newf and all(f.stats and "id" in f.stats for f in newf)
    # pruning works on the new files
    assert {r.id for r in t.to_df(where="r = 'r3'").collect()} == {4}

    spark.createDataFrame([(9, "z", "r9")], "id int, v string, r string") \
        .write.format("star").mode("overwrite").save(path)
    assert {r.id for r in t.to_df().collect()} == {9}


def test_batch_write_guards(spark, tmp_path):
    hashed = create_table(spark,
                          spark.createDataFrame([(1, "a")], "id int, v string"),
                          str(tmp_path / "h"),
                          hash_partitions=["id"], hash_bucket_num=2)
    df = spark.createDataFrame([(2, "b")], "id int, v string")
    with pytest.raises(Exception, match="upsert"):
        df.write.format("star").mode("append").save(str(tmp_path / "h"))

    checked = create_table(spark,
                           spark.createDataFrame([(1, "a")], "id int, v string"),
                           str(tmp_path / "c"))
    checked.add_constraint("idpos", "id > 0")
    with pytest.raises(Exception, match="CHECK"):
        df.write.format("star").mode("append").save(str(tmp_path / "c"))

    # extra columns EVOLVE under autoMerge (SchemaEnforcementSuite batch
    # behavior — see test_v2_write_schema_evolution); with it disabled
    # the write rejects
    plain = create_table(spark,
                         spark.createDataFrame([(1, "a")], "id int, v string"),
                         str(tmp_path / "p"),
                         configuration={"schema.autoMerge.enabled": "false"})
    bad = spark.createDataFrame([(1, "a", 3.0)], "id int, v string, extra double")
    with pytest.raises(Exception, match="autoMerge"):
        bad.write.format("star").mode("append").save(str(tmp_path / "p"))


def test_native_stream_sink_exactly_once(spark, tmp_path):
    """writeStream.format('star'): the native streaming SINK — drained
    rate-limited input lands append-exactly-once through the
    (sink id, batch id) registry; a checkpoint-restart with no new
    input re-commits nothing."""
    src_dir = str(tmp_path / "src")
    path = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    df = spark.createDataFrame([(i, f"v{i}", f"r{i % 2}") for i in range(8)],
                               "id int, v string, r string")
    df.coalesce(1).write.json(src_dir)
    t = create_table(spark, df.limit(0), path, range_partitions=["r"])

    def _drain():
        q = (spark.readStream.schema("id int, v string, r string")
             .option("maxFilesPerTrigger", "1").json(src_dir)
             .writeStream.format("star")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start(path))
        q.awaitTermination(120)

    _drain()
    got = sorted((r.id, r.v, r.r) for r in t.to_df().collect())
    assert got == sorted((r.id, r.v, r.r) for r in df.collect())
    assert "r=r0" in t.store.snapshot().partitions
    v0 = t.store.latest_version()
    _drain()  # restart, nothing new: no duplicate rows, no new commits
    assert t.to_df().count() == 8
    assert t.store.latest_version() == v0
    # batch registry recorded the sink id
    assert any(k == "star-stream-sink"
               for k in t.store.snapshot().streaming)


def _drain_paced(spark, path, ckpt, out, expected, opts):
    """Run a paced stream with a fast processing-time trigger until
    `expected` rows land (or 120s), then stop and return the output."""
    import os
    import time
    reader = spark.readStream.format("star")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (reader.load(path)
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(processingTime="50 milliseconds").start())
    deadline = time.time() + 120
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= expected:
                break
        except Exception:
            pass
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    offsets = [f for f in os.listdir(os.path.join(ckpt, "offsets"))
               if not f.startswith(".") and not f.endswith(".tmp")]
    return spark.read.parquet(out), len(offsets)


def test_stream_paced_max_versions_per_trigger(spark, orders, tmp_path):
    """maxVersionsPerTrigger=1 (Delta maxFilesPerTrigger analog) drains
    a 4-commit backlog one commit per micro-batch — no lost or duplicate
    rows, and at least one planned batch per version (the backlog never
    collapses into one giant catch-up batch)."""
    path = str(tmp_path / "t")
    t = create_table(spark, orders, path,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    n = orders.count()
    for i in range(3):
        t.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(float(i))))
    got, n_batches = _drain_paced(
        spark, path, str(tmp_path / "ck"), str(tmp_path / "out"),
        expected=n + 15,
        opts={"maxVersionsPerTrigger": "1", "paceId": "p1"})
    by_v = dict(got.groupBy("_commit_version").count().collect())
    assert by_v == {1: n, 2: 5, 3: 5, 4: 5}
    assert n_batches >= 4


def test_stream_paced_max_bytes_never_stalls(spark, orders, tmp_path):
    """A 1-byte maxBytesPerTrigger still advances ≥1 commit per batch
    (Delta semantics: the cap is a soft target, an oversized commit is
    admitted alone rather than wedging the stream forever)."""
    path = str(tmp_path / "t")
    t = create_table(spark, orders, path,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    n = orders.count()
    t.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(9.0)))
    got, n_batches = _drain_paced(
        spark, path, str(tmp_path / "ck"), str(tmp_path / "out"),
        expected=n + 5,
        opts={"maxBytesPerTrigger": "1", "paceId": "pb"})
    by_v = dict(got.groupBy("_commit_version").count().collect())
    assert by_v == {1: n, 2: 5}
    assert n_batches >= 2


def test_stream_paced_requires_pace_id(spark, orders, tmp_path):
    path = str(tmp_path / "t")
    create_table(spark, orders, path)
    with pytest.raises(Exception, match="paceId"):
        q = (spark.readStream.format("star")
             .option("maxVersionsPerTrigger", "1").load(path)
             .writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(60)


def test_stream_paced_restart_no_rewind(spark, orders, tmp_path):
    """Restarting a paced stream resumes from the checkpoint + pacing
    cursor: a new commit made between runs is emitted exactly once and
    already-processed versions are never re-emitted."""
    path = str(tmp_path / "t")
    t = create_table(spark, orders, path,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    n = orders.count()
    t.upsert(orders.limit(5).withColumn("o_totalprice", F.lit(1.0)))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    opts = {"maxVersionsPerTrigger": "1", "paceId": "pr"}
    got, _ = _drain_paced(spark, path, ck, out, expected=n + 5, opts=opts)
    assert got.count() == n + 5
    t.upsert(orders.limit(3).withColumn("o_totalprice", F.lit(2.0)))
    got, _ = _drain_paced(spark, path, ck, out, expected=n + 8, opts=opts)
    by_v = dict(got.groupBy("_commit_version").count().collect())
    assert by_v == {1: n, 2: 5, 3: 3}


def test_stream_starting_timestamp(spark, orders, tmp_path):
    """startingTimestamp (Delta parity): the stream begins at the FIRST
    commit at or after the timestamp; a timestamp past the last commit
    tails from the end; combining with startingVersion is rejected."""
    import time

    path = str(tmp_path / "t")
    t = create_table(spark, orders, path,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    time.sleep(0.05)
    ts_mid = time.time()
    time.sleep(0.05)
    t.upsert(orders.limit(4).withColumn("o_totalprice", F.lit(5.0)))

    def _drain(opts, tag):
        reader = spark.readStream.format("star")
        for kk, vv in opts.items():
            reader = reader.option(kk, vv)
        q = (reader.load(path)
             .writeStream.format("parquet")
             .option("path", str(tmp_path / f"out{tag}"))
             .option("checkpointLocation", str(tmp_path / f"ck{tag}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(str(tmp_path / f"out{tag}"))

    # mid-timestamp: only the post-timestamp commit (v2) streams
    got = _drain({"startingTimestamp": str(ts_mid)}, "a")
    assert dict(got.groupBy("_commit_version").count().collect()) == {2: 4}
    # future timestamp: nothing historical; new commits still stream
    future = _drain({"startingTimestamp": str(time.time() + 1)}, "b")
    assert future.count() == 0
    with pytest.raises(Exception, match="mutually exclusive"):
        q = (spark.readStream.format("star")
             .option("startingTimestamp", str(ts_mid))
             .option("startingVersion", "1").load(path)
             .writeStream.format("noop")
             .option("checkpointLocation", str(tmp_path / "ckc"))
             .trigger(availableNow=True).start())
        q.awaitTermination(60)


def test_table_changes_timestamp_window(spark, orders, tmp_path):
    """Batch CDF timestamp bounds: starting_timestamp includes the
    first commit at or after it, ending_timestamp the last at or
    before; mixing with version bounds is rejected."""
    import time

    from starlake_spark.sources.datasource import table_changes

    path = str(tmp_path / "t")
    t = create_table(spark, orders, path,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    time.sleep(0.05)
    ts1 = time.time()
    time.sleep(0.05)
    t.upsert(orders.limit(4).withColumn("o_totalprice", F.lit(1.0)))  # v2
    time.sleep(0.05)
    ts2 = time.time()
    time.sleep(0.05)
    t.upsert(orders.limit(6).withColumn("o_totalprice", F.lit(2.0)))  # v3

    win = table_changes(spark, path, starting_timestamp=ts1,
                        ending_timestamp=ts2)
    assert dict(win.groupBy("_commit_version").count().collect()) == {2: 4}
    tail = table_changes(spark, path, starting_timestamp=ts2)
    assert dict(tail.groupBy("_commit_version").count().collect()) == {3: 6}
    with pytest.raises(ValueError, match="mutually exclusive"):
        table_changes(spark, path, start_version=1, starting_timestamp=ts1)
    with pytest.raises(ValueError, match="mutually exclusive"):
        table_changes(spark, path, end_version=2, ending_timestamp=ts2)


def test_v2_write_dynamic_partition_overwrite(spark, orders, tmp_path):
    """df.write.format('star').mode('overwrite')
    .option('partitionOverwriteMode','dynamic') replaces only the
    partitions present in the written data."""
    path = str(tmp_path / "t")
    t = create_table(spark, orders, path, range_partitions=["o_orderstatus"])
    statuses = sorted(r[0] for r in
                      orders.select("o_orderstatus").distinct().collect())
    tgt = statuses[0]
    (orders.filter(F.col("o_orderstatus") == tgt).limit(2)
     .withColumn("o_totalprice", F.lit(0.0))
     .write.format("star").mode("overwrite")
     .option("partitionOverwriteMode", "dynamic").save(path))
    df = t.to_df()
    assert df.filter(F.col("o_orderstatus") == tgt).count() == 2
    assert df.count() == 2 + orders.filter(
        F.col("o_orderstatus") != tgt).count()
    # static default still truncates everything
    (orders.limit(3).write.format("star").mode("overwrite").save(path))
    assert t.to_df().count() == 3


def test_batch_read_timestamp_as_of(spark, orders, tmp_path):
    import time

    path = str(tmp_path / "t")
    t = create_table(spark, orders, path)
    time.sleep(0.05)
    ts = time.time()
    time.sleep(0.05)
    t.write(orders.limit(7), mode="overwrite")
    old = (spark.read.format("star").option("timestampAsOf", str(ts))
           .load(path))
    assert old.count() == orders.count()
    assert spark.read.format("star").load(path).count() == 7
    with pytest.raises(Exception, match="mutually exclusive"):
        (spark.read.format("star").option("timestampAsOf", str(ts))
         .option("version", "1").load(path).count())


def test_v2_write_schema_evolution(spark, sf_dir, tmp_path):
    """SchemaEnforcementSuite batch tests: format('star') append with a
    new column evolves the schema under autoMerge (nulls backfill old
    rows on read); autoMerge=false rejects with the merge-schema hint."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from starlake_spark import sources
    from starlake_spark.table import StarTable, create_table

    sources.register(spark)
    df = spark.range(10).toDF("id")
    create_table(spark, df, str(tmp_path / "t"))
    (spark.range(5).withColumn("part", F.col("id") + 1)
     .write.format("star").mode("append")
     .option("path", str(tmp_path / "t")).save())
    t = StarTable.for_path(spark, str(tmp_path / "t"))
    out = t.to_df()
    assert set(out.columns) == {"id", "part"}
    assert out.count() == 15
    assert out.filter("part IS NULL").count() == 10  # old rows backfill
    create_table(spark, df, str(tmp_path / "t2"),
                 configuration={"schema.autoMerge.enabled": "false"})
    with pytest.raises(AnalysisException, match="autoMerge"):
        (spark.range(5).withColumn("part", F.col("id"))
         .write.format("star").mode("append")
         .option("path", str(tmp_path / "t2")).save())


def test_stream_sink_schema_evolution(spark, tmp_path):
    """SchemaEnforcementSuite streaming: the native sink evolves schema
    under autoMerge the same way the batch path does."""
    from pyspark.sql import functions as F

    from starlake_spark import sources
    from starlake_spark.table import StarTable, create_table

    sources.register(spark)
    path, src_dir = str(tmp_path / "t"), str(tmp_path / "src")
    create_table(spark, spark.range(3).toDF("id"), path)
    spark.range(3).withColumn("part", F.col("id") * 2) \
        .write.parquet(src_dir)
    q = (spark.readStream.schema("id long, part long").parquet(src_dir)
         .writeStream.format("star")
         .option("path", path)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = StarTable.for_path(spark, path).to_df()
    assert set(out.columns) == {"id", "part"}
    assert out.count() == 6 and out.filter("part IS NULL").count() == 3


def test_write_nulltype_column_dropped(spark, tmp_path):
    """A bare lit(None) column (NullType) is silently DROPPED on both
    the create and append paths — NullType columns never enter a
    declared schema (merge_source_schema rule). Regression for the r5
    ADVICE KeyError: merge skipped the column but cast_types/out_names
    still expected a declaration for it."""
    path = str(tmp_path / "nt")
    base = spark.createDataFrame([(1, "a")], "id int, v string") \
        .withColumn("ghost", F.lit(None))
    base.write.format("star").mode("append").save(path)  # create: ghost dropped
    from starlake_spark.table import StarTable

    t = StarTable.for_path(spark, path)
    assert t.to_df().columns == ["id", "v"]

    more = spark.createDataFrame([(2, "b")], "id int, v string") \
        .withColumn("ghost", F.lit(None))
    more.write.format("star").mode("append").save(path)  # append: dropped
    assert {r.id for r in t.to_df().collect()} == {1, 2}
    assert t.to_df().columns == ["id", "v"]
    with pytest.raises(Exception, match="NullType"):
        spark.range(1).select(F.lit(None).alias("only")) \
            .write.format("star").mode("append").save(str(tmp_path / "nt2"))


def test_first_write_adoption_refuses_incompatible_schema(tmp_path):
    """A racing first-writer may adopt the winner's table only when the
    schemas agree (or differ by a numeric widen): its files were cast
    to its OWN pending schema, so a cross-family conflict must refuse
    instead of committing mis-declared parquet (r5 ADVICE)."""
    import pyspark.sql.types as T

    from starlake_spark.meta import ManifestStore, MetaError, TableInfo
    from starlake_spark.sources.datasource import _persist_pending_create

    path = str(tmp_path / "race")
    winner = TableInfo(
        table_path=path, table_id="winner",
        schema_json=T.StructType([
            T.StructField("id", T.IntegerType()),
            T.StructField("v", T.IntegerType())]).json())
    ManifestStore(path).create(winner)

    # same layout, v is a STRING here → cross-family conflict
    loser_bad = TableInfo(
        table_path=path, table_id="loser",
        schema_json=T.StructType([
            T.StructField("id", T.IntegerType()),
            T.StructField("v", T.StringType())]).json())
    with pytest.raises(MetaError, match="incompatible schema"):
        _persist_pending_create(loser_bad)

    # a numeric widen adopts AND widens the winner's declaration
    loser_ok = TableInfo(
        table_path=path, table_id="loser2",
        schema_json=T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.IntegerType())]).json())
    _persist_pending_create(loser_ok)
    import json as _json

    decl = T.StructType.fromJson(_json.loads(
        ManifestStore(path).table_info(refresh=True).schema_json))
    assert decl["id"].dataType == T.LongType()


def test_first_write_replace_where_violation_leaves_no_table(spark, tmp_path):
    """replaceWhere scope is validated BEFORE a pending first-write
    create persists: a violating write must not leave behind a
    committed empty table or a shortTableName registration (r5
    ADVICE datasource orphan)."""
    import os as _os

    path = str(tmp_path / "rw")
    df = spark.createDataFrame(
        [(1, "r1"), (2, "r2")], "id int, r string")
    with pytest.raises(Exception, match="outside the predicate"):
        df.write.format("star").mode("overwrite") \
            .option("rangePartitions", "r") \
            .option("shortTableName", "rw_orphan_probe") \
            .option("replaceWhere", "r = 'r1'") \
            .save(path)
    assert not _os.path.exists(_os.path.join(path, "_star_meta"))
    from starlake_spark import catalog

    with pytest.raises(KeyError):
        catalog.resolve("rw_orphan_probe")


def test_replace_where_literal_with_and_inside_quotes(spark, tmp_path):
    """replaceWhere splits at top-level ANDs only: `r = 'x and y'` is
    one comparison, not two broken halves."""
    path = str(tmp_path / "rq")
    df = spark.createDataFrame(
        [(1, "x and y"), (2, "z")], "id int, r string")
    df.write.format("star").mode("overwrite") \
        .option("rangePartitions", "r").save(path)
    spark.createDataFrame([(3, "x and y")], "id int, r string") \
        .write.format("star").mode("overwrite") \
        .option("replaceWhere", "r = 'x and y'").save(path)
    got = spark.read.format("star").load(path)
    assert sorted((r.id, r.r) for r in got.collect()) == \
        [(2, "z"), (3, "x and y")]
