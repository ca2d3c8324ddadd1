"""Footer-stats data skipping: write-side harvesting, read-side file
pruning via to_df(where=...), MoR safety rules."""

import pytest
from pyspark.sql import functions as F

from starlake_spark.table import StarTable, create_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def _banded_table(spark, orders, path, n_bands=4):
    """One commit per o_orderkey band → disjoint per-file key ranges."""
    hi = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    step = hi // n_bands + 1
    t = create_table(spark, orders.filter(F.col("o_orderkey") < step), path)
    for b in range(1, n_bands):
        t.write(orders.filter((F.col("o_orderkey") >= b * step)
                              & (F.col("o_orderkey") < (b + 1) * step)),
                mode="append")
    return t


def test_stats_recorded_on_write(spark, orders, tmp_path):
    t = create_table(spark, orders, str(tmp_path / "t"))
    files = t.store.snapshot().all_files()
    assert files
    for f in files:
        assert f.stats and "o_orderkey" in f.stats
        b = f.stats["o_orderkey"]
        assert isinstance(b["min"], int) and b["min"] <= b["max"]
        # timestamp bounds serialized as ISO strings
        assert isinstance(f.stats["o_orderdate"]["min"], str)


def test_where_skips_files_and_matches_filter(spark, orders, tmp_path):
    t = _banded_table(spark, orders, str(tmp_path / "t"))
    n_files = len(t.store.snapshot().all_files())
    assert n_files >= 4

    lo = t.to_df(where="o_orderkey < 100")
    assert len(lo.inputFiles()) < n_files  # files actually skipped
    want = (t.to_df().filter("o_orderkey < 100")
            .orderBy("o_orderkey").collect())
    assert lo.orderBy("o_orderkey").collect() == want

    # string + timestamp conjuncts stay correct (skip or not)
    pred = "o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '1996-01-01'"
    got = t.to_df(where=pred).count()
    assert got == t.to_df().filter(pred).count() > 0


def test_or_predicate_never_skips_wrongly(spark, orders, tmp_path):
    t = _banded_table(spark, orders, str(tmp_path / "t"))
    pred = "o_orderkey < 50 OR o_orderkey > 1300"
    assert t.to_df(where=pred).count() == t.to_df().filter(pred).count() > 0


def test_where_prunes_range_partitions(spark, orders, tmp_path):
    t = create_table(spark, orders, str(tmp_path / "t"),
                     range_partitions=["o_orderpriority"])
    df = t.to_df(where="o_orderpriority = '1-URGENT' AND o_orderkey >= 0")
    files = df.inputFiles()
    assert files and all("o_orderpriority=1-URGENT" in f for f in files)
    assert df.count() == orders.filter("o_orderpriority = '1-URGENT'").count()


def test_mor_delta_not_skipped_on_value_cols(spark, orders, tmp_path):
    """A delta whose non-key bounds fall outside the predicate still
    participates in the merge — skipping it would resurrect stale
    values. Key-column conjuncts may skip; value-column ones must not
    change results."""
    t = create_table(spark, orders, str(tmp_path / "t"),
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    # delta: push 100 keys' totalprice far below the predicate range
    delta = (orders.filter(F.col("o_orderkey") < 100)
             .withColumn("o_totalprice", F.lit(-1.0)))
    t.upsert(delta)
    pred = "o_totalprice > 0"
    got = t.to_df(where=pred).count()
    want = t.to_df().filter(pred).count()
    assert got == want == orders.count() - 100

    # key-column conjunct on the MoR path still equals plain filter
    pred2 = "o_orderkey < 100"
    assert t.to_df(where=pred2).count() == t.to_df().filter(pred2).count() == 100


def test_old_manifest_without_stats_kept(spark, orders, tmp_path):
    t = create_table(spark, orders, str(tmp_path / "t"))
    # simulate a pre-stats manifest
    import json
    import glob
    stripped = 0
    for mf in glob.glob(str(tmp_path / "t" / "_star_meta" / "versions" / "*.json")):
        d = json.loads(open(mf).read())
        for p in d.get("partitions", {}).values():
            for f in p.get("files", []):
                if f.pop("stats", None) is not None:
                    stripped += 1
        open(mf, "w").write(json.dumps(d))
    assert stripped > 0, "simulation must actually remove stats"
    t2 = StarTable.for_path(spark, str(tmp_path / "t"))
    assert (t2.to_df(where="o_orderkey < 100").count()
            == orders.filter("o_orderkey < 100").count())


def test_clustered_compaction_tightens_skipping(spark, orders, tmp_path):
    """Random layout (salted multi-file write) can't skip; after
    compaction(sort_columns=...) bounds are tight and skipping fires.
    Content is invariant through the rewrite."""
    t = create_table(spark, orders, str(tmp_path / "t"),
                     configuration={"write.files.per.partition": "8"})
    n0 = len(t.store.snapshot().all_files())
    assert n0 >= 4  # salted into multiple overlapping files
    before = t.to_df(where="o_orderkey < 100")
    assert len(before.inputFiles()) == n0  # overlapping bounds: no skip
    sum0 = t.to_df().agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0][0]

    t.compaction(sort_columns=["o_orderkey"], target_files=8)
    n1 = len(t.store.snapshot().all_files())
    assert n1 > 1
    after = t.to_df(where="o_orderkey < 100")
    assert 0 < len(after.inputFiles()) < n1  # clustered: skip fires
    assert (after.orderBy("o_orderkey").collect()
            == before.orderBy("o_orderkey").collect())
    sum1 = t.to_df().agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0][0]
    assert sum0 == sum1


def test_clustered_compaction_rejects_hash_tables(spark, orders, tmp_path):
    t = create_table(spark, orders, str(tmp_path / "t"),
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)
    with pytest.raises(ValueError, match="non-hash"):
        t.compaction(sort_columns=["o_totalprice"])


def test_clustered_compaction_on_range_table(spark, orders, tmp_path):
    """Clustering composes with range partitions: files split per range
    directory, bounds tight per file within each."""
    t = create_table(spark, orders, str(tmp_path / "t"),
                     range_partitions=["o_orderpriority"],
                     configuration={"write.files.per.partition": "4"})
    t.compaction(sort_columns=["o_orderkey"], target_files=4)
    pred = "o_orderpriority = '1-URGENT' AND o_orderkey < 100"
    df = t.to_df(where=pred)
    files = t.store.snapshot().all_files()
    urgent = [f for f in files if "1-URGENT" in f.range_value]
    assert len(df.inputFiles()) < len(urgent) or len(urgent) == 1
    assert df.count() == orders.filter(pred).count()


def test_zorder_compaction_skips_on_every_clustered_dimension(spark, tmp_path):
    """Z-order clustering (compaction(cluster_mode='zorder')): a
    predicate on the NON-prefix clustered column must skip files, which
    the linear sort provably cannot (its files span the full range of
    every column after the first)."""
    from pyspark.sql import functions as F

    from starlake_spark.table import StarTable, create_table

    # 64x64 grid: a and b independent uniform — worst case for linear
    grid = spark.range(4096).select(
        F.col("id"), (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b"))

    lin = create_table(spark, grid, str(tmp_path / "lin"))
    lin.compaction(force=True, sort_columns=["a", "b"], target_files=16)
    zod = create_table(spark, grid, str(tmp_path / "zod"))
    zod.compaction(force=True, sort_columns=["a", "b"], target_files=16,
                   cluster_mode="zorder")

    n_lin = len(lin.to_df().inputFiles())
    n_zod = len(zod.to_df().inputFiles())
    assert n_zod >= 8  # clustering really split the data

    # predicate on b (non-prefix): zorder skips, linear cannot
    lin_read = len(lin.to_df(where="b = 7").inputFiles())
    zod_read = len(zod.to_df(where="b = 7").inputFiles())
    assert lin_read == n_lin, "linear sort should not skip on the non-prefix column"
    assert zod_read < n_zod / 2, f"zorder should skip most files ({zod_read}/{n_zod})"

    # predicate on a (prefix): both skip
    assert len(zod.to_df(where="a = 3").inputFiles()) < n_zod / 2
    assert len(lin.to_df(where="a = 3").inputFiles()) < n_lin / 2

    # results identical either way
    assert zod.to_df(where="b = 7").count() == 64
    assert lin.to_df(where="b = 7").count() == 64
    assert sorted(r["id"] for r in zod.to_df(where="a = 3 AND b = 7").collect()) == [451]


def test_sql_optimize_zorder_routes_to_zorder(spark, tmp_path):
    from pyspark.sql import functions as F

    from starlake_spark.sql import StarSession
    from starlake_spark.table import create_table

    grid = spark.range(4096).select(
        F.col("id"), (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b"))
    create_table(spark, grid, str(tmp_path / "t"), short_name="zot")
    ss = StarSession(spark)
    ss.sql("OPTIMIZE zot ZORDER BY (a, b)")
    t = ss.table("zot")
    n = len(t.to_df().inputFiles())
    assert len(t.to_df(where="b = 9").inputFiles()) < n
    t.drop_table()


def _parquet_blooms(spark, path):
    """{column: (bloom offset, bitset bytes or None)} of the first row
    group, read through parquet-mr's own reader."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), conf)
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        cols = rdr.getFooter().getBlocks().get(0).getColumns()
        out = {}
        for i in range(cols.size()):
            c = cols.get(i)
            bf = rdr.readBloomFilter(c)
            out[c.getPath().toDotString()] = (
                c.getBloomFilterOffset(),
                None if bf is None else bf.getBitsetSize())
        return out
    finally:
        rdr.close()


def test_parquet_bloom_index_written_for_hash_cols(spark, tmp_table_dir):
    """Point-lookup skipping inside files: data files of a hash table
    carry a parquet-native Bloom filter on the hash columns (consumed
    automatically by the scan on equality pushdown); other columns
    don't pay the index cost. Disabled via bloom.index.cols=''."""
    import os

    from starlake_spark.table import create_table

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    t = create_table(spark, o, tmp_table_dir,
                     hash_partitions=["o_orderkey"], hash_bucket_num=4)

    def bloom_offsets(path):
        return {c: off for c, (off, _) in _parquet_blooms(spark, path).items()}

    f = t.store.snapshot().all_files()[0]
    offs = bloom_offsets(os.path.join(tmp_table_dir, f.path))
    assert offs["o_orderkey"] >= 0
    assert offs["o_custkey"] == -1
    # point lookup stays correct through the indexed scan
    assert t.to_df().filter("o_orderkey = 32").count() == 1

    # opt-out property suppresses the index on subsequent writes
    t.set_properties({"bloom.index.cols": ""})
    t.upsert(o.limit(10))
    newest = max(t.store.snapshot().all_files(), key=lambda x: x.write_version)
    offs2 = bloom_offsets(os.path.join(tmp_table_dir, newest.path))
    assert offs2["o_orderkey"] == -1


def test_parquet_bloom_bitset_sized_to_file_rows(spark, tmp_table_dir):
    """Adaptive bloom sizing reaches small files: a tiny delta commit
    keeps its bloom on the hash column (same FPP) at a bitset of at most
    1 KB, not a fixed 64 KB floor, and a 2k-row file gets the
    FPP-optimal bitset for its NDV. Lookups stay exact."""
    import os

    t = create_table(spark, spark.range(2000).withColumnRenamed("id", "k")
                     .withColumn("v", F.col("k") * 3), tmp_table_dir,
                     hash_partitions=["k"], hash_bucket_num=1)
    base, = t.store.snapshot().all_files()
    assert base.num_rows == 2000
    off, size = _parquet_blooms(
        spark, os.path.join(tmp_table_dir, base.path))["k"]
    assert off >= 0
    jvm = spark._jvm
    fpp = float(spark._jsc.hadoopConfiguration().get(
        "parquet.bloom.filter.fpp", "0.01"))
    optimal = jvm.org.apache.parquet.column.values.bloomfilter \
        .BlockSplitBloomFilter.optimalNumOfBits(2000, fpp) // 8
    # the smallest power-of-two bitset holding 2000 keys at the FPP
    assert optimal <= size < 2 * optimal

    t.upsert(spark.range(5000, 5050).withColumnRenamed("id", "k")
             .withColumn("v", F.lit(-1).cast("long")))
    delta, = [f for f in t.store.snapshot().all_files() if not f.is_base_file]
    blooms = _parquet_blooms(spark, os.path.join(tmp_table_dir, delta.path))
    off, size = blooms["k"]
    assert off >= 0 and size <= 1024
    assert blooms["v"] == (-1, None)

    for k, v in [(7, 21), (1999, 5997), (5000, -1), (5049, -1)]:
        assert [r["v"] for r in t.to_df(where=f"k = {k}").collect()] == [v]
    for k in (-1, 2000, 4999, 5050):
        assert t.to_df(where=f"k = {k}").count() == 0


def test_skipping_handles_in_between_and_mixed_predicates(spark, tmp_table_dir):
    """IN-lists skip by range envelope, BETWEEN normalizes to a
    comparison pair, and unanalyzable conjuncts (OR/NOT/functions) are
    dropped from the skipping decision without disabling it — results
    always match an unskipped filter."""
    from starlake_spark.table import create_table

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    t = create_table(spark, o, tmp_table_dir)
    t.compaction(force=True, sort_columns=["o_orderkey"], target_files=8)

    preds = [
        "o_orderkey IN (5, 6, 7)",
        "o_orderkey BETWEEN 10 AND 40",
        "o_orderkey BETWEEN 10 AND 40 AND o_totalprice > 1000.0",
        "o_orderkey IN (5, 6) AND (o_orderstatus = 'F' OR o_orderstatus = 'O')",
        "o_orderkey < 100 AND upper(o_orderstatus) = 'F'",
    ]
    for p in preds:
        skipped = t.to_df(where=p)
        full = t.to_df().filter(p)
        assert sorted(r["o_orderkey"] for r in skipped.collect()) == \
               sorted(r["o_orderkey"] for r in full.collect()), p

    # the IN and BETWEEN forms actually skip files on the clustered table
    all_n = len(t.to_df().inputFiles())
    for p in ("o_orderkey IN (5, 6, 7)", "o_orderkey BETWEEN 10 AND 40"):
        assert len(t.to_df(where=p).inputFiles()) < all_n, p


def test_null_count_skipping(spark, tmp_path):
    """IS NULL / IS NOT NULL prune on footer null counts: a commit with
    zero nulls is skipped by IS NULL; an all-null commit is skipped by
    IS NOT NULL; results always match the row-level filter."""
    def _df(rows):
        return spark.createDataFrame(rows, "id int, tag string").coalesce(1)

    t = create_table(spark, _df([(1, "a"), (2, "b")]), str(tmp_path / "t"))
    t.write(_df([(3, None), (4, None)]), mode="append")
    t.write(_df([(5, "e"), (6, None)]), mode="append")
    files = [f for f in t.store.snapshot().all_files() if f.num_rows > 0]
    assert {f.stats["tag"].get("nulls") for f in files} == {0, 1, 2}
    n_files = len(t.to_df().inputFiles())

    isnull = t.to_df(where="tag IS NULL")
    assert len(isnull.inputFiles()) < n_files      # no-null commit skipped
    assert sorted(r.id for r in isnull.collect()) == [3, 4, 6]

    notnull = t.to_df(where="tag IS NOT NULL")
    assert len(notnull.inputFiles()) < n_files     # all-null commit skipped
    assert sorted(r.id for r in notnull.collect()) == [1, 2, 5]

    # combined with a comparison conjunct
    both = t.to_df(where="tag IS NOT NULL AND id >= 5")
    assert sorted(r.id for r in both.collect()) == [5]


def test_null_count_on_all_null_column_without_bounds(spark, tmp_path):
    """An all-null column has NO min/max (parquet writes no bounds) but
    a perfectly good null count — stats must still carry it and range
    predicates on the column must stay correct (pass-through)."""
    t = create_table(
        spark,
        spark.createDataFrame([(1, None), (2, None)], "id int, v double")
        .coalesce(1),
        str(tmp_path / "t"))
    f = [f for f in t.store.snapshot().all_files() if f.num_rows > 0][0]
    assert f.stats["v"] == {"nulls": 2}
    assert t.to_df(where="v IS NOT NULL").count() == 0
    assert t.to_df(where="v > 1.0").count() == 0
    assert t.to_df(where="v IS NULL").count() == 2


@pytest.mark.parametrize("gexpr,gtype", [
    ("date_trunc('hour', ts)", "timestamp"),
    ("year(ts)", "int"),
    ("substring(ts, 1, 10)", "string"),
    ("date_format(ts, 'yyyy-MM-dd')", "string"),
])
def test_generated_partition_pruning_monotone_forms(spark, tmp_path, gexpr, gtype):
    """Predicates on the SOURCE column prune generated partitions for
    every monotone layout form, not just to_date."""
    df = spark.sql("""
        SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts,
               CAST(id AS DOUBLE) AS v
        FROM range(0, 96) AS r(id)
    """)
    t = create_table(spark, df, str(tmp_path / "t"),
                     range_partitions=["g"], generated={"g": gexpr})
    n_all = len(t.to_df().inputFiles())
    pred = ("ts >= TIMESTAMP '2024-01-02 00:00:00' AND "
            "ts < TIMESTAMP '2024-01-03 00:00:00'")
    got = t.to_df(where=pred)
    if gexpr != "year(ts)":  # year(): one partition holds everything
        assert 0 < len(got.inputFiles()) < n_all, gexpr
    assert got.count() == df.filter(pred).count() > 0
    assert sorted(r.id for r in got.collect()) == list(range(24, 48))


def test_partition_prune_python_path_matches_spark(spark):
    """The in-process partition-predicate evaluator must agree EXACTLY
    with the Spark-coercion path (replaceWhere expiry rides on this
    result) — differential over the supported forms, and provable
    bail-out (None) on the unsupported ones."""
    from starlake_spark.meta import TableInfo
    from starlake_spark.operators import predicate as P
    from starlake_spark.operators import reader as R

    info = TableInfo(
        table_path="/tmp/x", table_id="t",
        range_cols=["day", "seg", "n", "amt", "flag"],
        hash_cols=[], bucket_num=-1,
        schema_json='{"type":"struct","fields":['
                    '{"name":"day","type":"date","nullable":true,"metadata":{}},'
                    '{"name":"seg","type":"string","nullable":true,"metadata":{}},'
                    '{"name":"n","type":"integer","nullable":true,"metadata":{}},'
                    '{"name":"amt","type":"decimal(10,2)","nullable":true,"metadata":{}},'
                    '{"name":"flag","type":"boolean","nullable":true,"metadata":{}},'
                    '{"name":"v","type":"double","nullable":true,"metadata":{}}]}',
        configuration={})
    rvs = [f"day=2024-01-{d:02d},seg={s},n={i},amt={a},flag={f}"
           for i, (d, s, a, f) in enumerate([
               (1, "A", "9.50", "true"), (5, "B", "10.00", "false"),
               (9, "A", "3.00", "true"), (12, "C", "100.25", "false"),
               (20, "B", "10.5", "true")])]
    preds = [
        "day >= to_date(TIMESTAMP '2024-01-04 12:00:00')",
        "`day` >= to_date(TIMESTAMP '2024-01-05 00:00:00') AND "
        "`day` <= to_date(TIMESTAMP '2024-01-12 23:59:59')",
        "seg = 'B'",
        "seg IN ('A', 'C') AND n >= 2",
        "day = DATE '2024-01-09'",
        "n < 3",
        "day IS NOT NULL",
        "seg = 'A' OR seg = 'B'",
        "amt > 9.5",
        "amt = 10",
        "amt IN (3, 100.25) AND flag = true",
        "amt BETWEEN '9.5' AND 10.50",
        "flag = false",
        "flag != true AND seg <> 'C'",
    ]
    for p in preds:
        rows = [R.decode_range_value(rv) for rv in rvs]
        fast = R._try_prune_partitions_python(info, rows, P.parse(p))
        assert fast is not None, f"fast path must handle: {p}"
        slow_in = R._try_prune_partitions_python
        R._try_prune_partitions_python = lambda *a: None  # force Spark path
        try:
            slow = R._prune_partitions_sql(spark, info, rvs, P.parse(p))
        finally:
            R._try_prune_partitions_python = slow_in
        assert fast == slow, (p, fast, slow)
    # unsupported forms bail rather than approximate
    rows = [R.decode_range_value(rv) for rv in rvs]
    for p in ["seg = 'A' OR n = 2", "upper(seg) = 'A'",
              "n + 1 > 2", "seg RLIKE 'x'", "seg = 5"]:
        assert R._try_prune_partitions_python(info, rows, P.parse(p)) is None, p


def test_like_prefix_pruning(spark, orders, tmp_path):
    """c LIKE 'prefix%' prunes files by the string range [prefix,
    prefix+1): after clustering on o_orderpriority, a prefix probe
    reads a strict file subset and stays exact; wildcard-bearing or
    non-prefix patterns prune nothing but stay correct."""
    t = create_table(spark, orders, str(tmp_path / "t"),
                     configuration={"write.files.per.partition": "8"})
    t.compaction(sort_columns=["o_orderpriority"], target_files=8)
    n_all = len(t.store.snapshot().all_files())
    assert n_all > 1
    pred = "o_orderpriority LIKE '1-%'"
    df = t.to_df(where=pred)
    assert 0 < len(df.inputFiles()) < n_all
    assert df.count() == orders.filter(pred).count() > 0
    # no-match prefix: every file pruned, empty result
    none = t.to_df(where="o_orderpriority LIKE 'zzz%'")
    assert len(none.inputFiles()) == 0 and none.count() == 0
    # underscore wildcard in the pattern: not analyzable, no pruning,
    # still exact
    pred2 = "o_orderpriority LIKE '_-LOW%'"
    df2 = t.to_df(where=pred2)
    assert len(df2.inputFiles()) == n_all
    assert df2.count() == orders.filter(pred2).count() > 0
    # conjunct composition with a comparison
    pred3 = "o_orderpriority LIKE '5-%' AND o_orderkey < 100"
    df3 = t.to_df(where=pred3)
    assert df3.count() == orders.filter(pred3).count()


def test_long_string_stats_truncated_but_conservative(spark, tmp_path):
    """Manifest string stats are capped at 64 chars (a long-text corpus
    must not push kilobytes into every file entry), with the max
    widened so skipping stays conservative: probes inside and outside
    the truncated range stay exact, and a just-beyond-max probe still
    prunes."""
    from starlake_spark.operators.writer import _widen_truncate

    rows = [(i, chr(ord("a") + i % 4) * 500 + f"tail{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "id int, text string")
    t = create_table(spark, df, str(tmp_path / "t"),
                     configuration={"write.files.per.partition": "4"})
    t.compaction(sort_columns=["text"], target_files=4)
    for f in t.store.snapshot().all_files():
        st = (f.stats or {}).get("text") or {}
        assert len(st.get("min", "")) <= 64 and len(st.get("max", "")) <= 64
    n_all = len(t.store.snapshot().all_files())
    hit = t.to_df(where="text LIKE 'dddd%'")
    assert hit.count() == 10
    assert 0 < len(hit.inputFiles()) < n_all
    miss = t.to_df(where="text LIKE 'zz%'")
    assert miss.count() == 0 and len(miss.inputFiles()) == 0
    eq = t.to_df(where=f"text = '{'b' * 500}tail1'")
    assert eq.count() == 1
    # widen-truncate unit edges
    assert _widen_truncate("abc", 2) == "ac"
    assert _widen_truncate("a" + chr(0xD7FF) + "zz", 2) == "a" + chr(0xE000)
    assert _widen_truncate(chr(0x10FFFF) * 3, 2) is None


def test_or_equalities_prune_as_in_list(spark, orders, tmp_path):
    """`a = x OR a = y` normalizes to an IN list for the pruning stack:
    files outside the value envelope skip; mixed columns / quoted ORs
    stay unanalyzed but exact."""
    t = create_table(spark, orders, str(tmp_path / "t"),
                     configuration={"write.files.per.partition": "8"})
    t.compaction(sort_columns=["o_orderkey"], target_files=8)
    n_all = len(t.store.snapshot().all_files())
    pred = "(o_orderkey = 5 OR o_orderkey = 7)"
    df = t.to_df(where=pred)
    assert len(df.inputFiles()) < n_all
    assert df.count() == orders.filter(pred).count() == 2
    # cross-column OR: no pruning, still exact
    pred2 = "o_orderkey = 5 OR o_custkey = 7"
    df2 = t.to_df(where=pred2)
    assert len(df2.inputFiles()) == n_all
    assert df2.count() == orders.filter(pred2).count()
    # OR inside a string literal must not be mis-split
    pred3 = "o_orderpriority = 'X OR Y' OR o_orderkey = 5"
    assert t.to_df(where=pred3).count() == orders.filter(pred3).count() == 1
    # composes with a conjunct + hash-bucket pruning on PK tables
    th = create_table(spark, orders, str(tmp_path / "h"),
                      hash_partitions=["o_orderkey"], hash_bucket_num=8)
    dfh = th.to_df(where="o_orderkey = 5 OR o_orderkey = 7")
    n_all_h = len(th.to_df().inputFiles())
    assert 0 < len(dfh.inputFiles()) < n_all_h
    assert dfh.count() == 2


def test_or_with_and_precedence_never_loses_rows(spark, orders, tmp_path):
    """Regression (found by test_skipping_property): in
    `a = x OR b = y AND a = z`, AND binds tighter, so `a = z` is NOT a
    global conjunct — treating it as one pruned files holding the
    `a = x` rows. The analyzer must refuse to decompose an OR-rooted
    predicate."""
    t = create_table(spark, orders, str(tmp_path / "t"),
                     configuration={"write.files.per.partition": "8"})
    t.compaction(sort_columns=["o_orderkey"], target_files=8)
    row = orders.filter("o_orderkey = 3").collect()[0]
    pred = (f"o_orderkey = 3 OR o_custkey = {row['o_custkey']} "
            f"AND o_orderkey = 1400")
    assert t.to_df(where=pred).count() == orders.filter(pred).count() >= 1


def test_numeric_literal_on_string_column_never_prunes(spark, tmp_path):
    """`k = 5` on a STRING column: Spark casts the COLUMN to a number,
    so '05' matches as well as '5'. Hashing '5' for the bucket, or
    comparing string-ordered footer bounds as numbers, drops matching
    rows; such atoms must skip nothing and leave the row filter to
    decide."""
    keys = sorted({f"{i:02d}" for i in range(40)} | {str(i) for i in range(40)})
    df = spark.createDataFrame([(k, i) for i, k in enumerate(keys)],
                               "k string, v int")
    hashed = create_table(spark, df, str(tmp_path / "h"),
                          hash_partitions=["k"], hash_bucket_num=4)
    plain = create_table(spark, df, str(tmp_path / "p"),
                         configuration={"write.files.per.partition": "8"})
    plain.compaction(sort_columns=["k"], target_files=8)
    assert len(plain.store.snapshot().all_files()) > 1
    cases = [(hashed, "k = 5"), (hashed, "k = 15"), (hashed, "k IN (5, 7)"),
             (hashed, "k > 38"), (plain, "k < 3"), (plain, "k = 5")]
    for t, pred in cases:
        got = sorted(r.k for r in t.to_df(where=pred).collect())
        want = sorted(r.k for r in t.to_df().filter(pred).collect())
        assert got == want and want, (pred, got, want)
    # a string literal is cast to the column's type: still prunes
    assert len(hashed.to_df(where="k = '05'").inputFiles()) < \
        len(hashed.to_df().inputFiles())


def test_stats_prune_python_path_matches_spark(spark, orders, tmp_path):
    """The in-process stats pruner must keep exactly the files the
    Spark-coercion path keeps, over one multi-file table and every atom
    shape the parser produces."""
    from starlake_spark.operators import predicate as P
    from starlake_spark.operators import reader as R

    t = create_table(
        spark, orders.withColumn("ck_s", F.col("o_custkey").cast("string")),
        str(tmp_path / "t"), configuration={"write.files.per.partition": "8"})
    t.compaction(sort_columns=["o_orderkey"], target_files=8)
    info = t.store.table_info()
    files = t.store.snapshot().all_files()
    assert len(files) > 1
    types = R._types(info)
    preds = [
        "o_orderkey < 100",
        "o_orderkey >= 5000 AND o_totalprice > 1000.5",
        "o_orderkey = 33",
        "o_orderkey IN (5, 6, 7)",
        "o_orderkey BETWEEN 10 AND 40",
        "o_orderkey NOT BETWEEN 10 AND 40",
        "o_orderpriority LIKE '1-%'",
        "o_orderstatus IS NULL",
        "o_orderstatus IS NOT NULL AND o_orderkey <= 3",
        "(o_orderkey = 5 OR o_orderkey = 7)",
        "`o_orderkey` < 100 AND `o_orderstatus` = 'F'",
        "o_orderpriority = 'x or y' AND o_orderkey > 10",
        "o_orderstatus = 'a and b'",
        "o_orderdate >= DATE '1996-01-01' AND o_orderdate < '1996-02-01'",
        "ck_s < 300",
        "ck_s = 5",
    ]
    for p in preds:
        atoms = P.prunable(P.parse(p).atoms, types)
        fast = R._try_prune_python(info, files, atoms, types.keys())
        assert fast is not None, f"fast path must handle: {p}"
        slow_in = R._try_prune_python
        R._try_prune_python = lambda *a: None  # force the Spark path
        try:
            slow = R._prune_files_by_stats(spark, info, files, atoms, types.keys())
        finally:
            R._try_prune_python = slow_in
        assert [f.path for f in fast] == [f.path for f in slow], p
        want = t.to_df().filter(p).count()
        assert t.to_df(where=p).count() == want, p
