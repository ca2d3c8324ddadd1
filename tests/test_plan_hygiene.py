"""Plan-hygiene assertions: the properties that make the engine viable
at scale must be visible in the physical plan, not just hoped for.

Mirrors the reference's ParquetScanSuite.scala:33-155 (scan-type
selection) and :188-293 (efficient PK-op plans), re-expressed as
Spark-plan checks."""

import pytest
from pyspark.sql import functions as F

from starlake_spark.table import StarTable, create_table

SF = "/root/testdata/sf0.001"


def _phys(df) -> str:
    df.collect()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def orders_t(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    return create_table(spark, orders, str(tmp_path / "t"),
                        range_partitions=["o_orderstatus"],
                        hash_partitions=["o_orderkey"], hash_bucket_num=4)


def test_filter_pushdown_reaches_parquet(orders_t):
    df = orders_t.to_df().filter(F.col("o_totalprice") > 100000.0).select(
        "o_orderkey", "o_totalprice")
    plan = _phys(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice" in plan


def test_column_pruning_in_read_schema(orders_t):
    df = orders_t.to_df().select("o_orderkey", "o_totalprice")
    plan = _phys(df)
    # the parquet ReadSchema must not materialize unrelated wide columns
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "o_comment" not in read_cols and "o_orderpriority" not in read_cols


def test_partition_pruning_limits_input_files(orders_t):
    all_files = set(orders_t.to_df().inputFiles())
    pruned = set(orders_t.to_df(partition_filter="o_orderstatus = 'F'").inputFiles())
    assert pruned and pruned < all_files
    for f in pruned:
        assert "o_orderstatus=F" in f


def test_all_base_scan_skips_mor_shuffle(orders_t, spark):
    # compacted/base-only table → plain parquet scan, no aggregate
    plan = _phys(orders_t.to_df())
    assert "Aggregate" not in plan

    # add a delta → MoR path appears; compaction removes it again
    o = spark.read.parquet(f"{SF}/orders.parquet")
    orders_t.upsert(o.limit(20).withColumn("o_totalprice", F.lit(1.0)))
    assert "Aggregate" in _phys(orders_t.to_df())
    orders_t.compaction(force=True)
    assert "Aggregate" not in _phys(orders_t.to_df())


def test_mor_shuffle_only_touches_delta_partitions(orders_t, spark):
    """Partitions without deltas ride the plain path even when other
    partitions merge (OnePartitionMergeBucketScan-style split,
    StarLakeScanBuilder.scala:127-157)."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    delta = o.filter(F.col("o_orderstatus") == "F").limit(10) \
             .withColumn("o_totalprice", F.lit(2.0))
    orders_t.upsert(delta)
    plan = _phys(orders_t.to_df(partition_filter="o_orderstatus = 'O'"))
    assert "Aggregate" not in plan  # untouched partition: no merge


def test_small_dim_join_broadcasts(spark):
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    j = customer.join(nation, customer.c_nationkey == nation.n_nationkey)
    assert "BroadcastHashJoin" in _phys(j)


# ---------------------------------------------------------------------------
# TPC-H suite plan shape: broadcasts, pushdown, no nested-loop blowups
# ---------------------------------------------------------------------------

def test_tpch_dim_joins_broadcast(spark):
    """Every dimension join in the heavy TPC-H queries must broadcast —
    a shuffled 25-row nation join at 100 TB wastes a full exchange."""
    from starlake_spark.queries.tpch_rest import (
        q2_min_cost_supplier, q7_volume_shipping, q9_product_type_profit)

    for fn, min_bcast in [(q2_min_cost_supplier, 3),
                          (q7_volume_shipping, 4),
                          (q9_product_type_profit, 3)]:
        plan = _phys(fn(spark, SF))
        assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= min_bcast, \
            f"{fn.__name__}: expected >= {min_bcast} broadcast joins\n{plan}"


def test_tpch_filters_push_to_scan(spark):
    """Selective predicates (p_size, p_type, date ranges) must reach the
    parquet scan, not evaluate post-scan."""
    from starlake_spark.queries.tpch_rest import q2_min_cost_supplier, q20_potential_promotion

    plan = _phys(q2_min_cost_supplier(spark, SF))
    assert "PushedFilters: [IsNotNull(p_size), IsNotNull(p_type), EqualTo(p_size,15)" in plan \
        or "EqualTo(p_size,15)" in plan, plan
    plan = _phys(q20_potential_promotion(spark, SF))
    assert "StringStartsWith(p_name,red)" in plan, plan


def test_q21_correlations_compile_to_semi_anti(spark):
    """The EXISTS/NOT-EXISTS double correlation must plan as semi/anti
    hash joins keyed on l_orderkey — never a nested-loop over lineitem."""
    from starlake_spark.queries.tpch_rest import q21_waiting_suppliers

    plan = _phys(q21_waiting_suppliers(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_scalar_subqueries_broadcast_not_collect(spark):
    """q11/q15/q22-style scalar aggregates join via a broadcast of a
    1-row relation (no driver collect in the query function)."""
    from starlake_spark.queries.tpch_rest import q15_top_supplier

    plan = _phys(q15_top_supplier(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_bucketed_table_elides_pk_join_shuffle_and_sort(spark, tmp_path):
    """to_bucketed_table materialization: PK merge-join between two
    same-bucketed tables plans with no hash exchange and no pre-join
    sort, and a groupBy on the bucket keys aggregates without exchange
    (reference ParquetScanSuite.scala:188-293 via
    SetPartitionAndOrdering.scala:52-141)."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    t1 = create_table(spark, orders, str(tmp_path / "t1"),
                      hash_partitions=["o_orderkey"], hash_bucket_num=4)
    t2 = create_table(spark, orders.withColumn("o_totalprice", F.col("o_totalprice") * 2),
                      str(tmp_path / "t2"),
                      hash_partitions=["o_orderkey"], hash_bucket_num=4)
    n1, n2 = t1.to_bucketed_table(), t2.to_bucketed_table()
    a, b = spark.table(n1), spark.table(n2)

    j = a.hint("merge").join(
        b.select("o_orderkey", F.col("o_totalprice").alias("p2")).hint("merge"),
        "o_orderkey")
    plan = _phys(j)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Sort " not in plan.replace("SortMergeJoin", "SMJ"), plan

    # result correctness vs the plain join
    got = j.agg(F.sum(F.col("p2") - F.col("o_totalprice"))).collect()[0][0]
    want = orders.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(got - want) < 1e-6 * max(abs(want), 1)

    # groupBy on the bucket key: no exchange before the aggregate
    g = a.groupBy("o_orderkey").agg(F.sum("o_totalprice").alias("s"))
    gplan = _phys(g)
    assert "Exchange hashpartitioning" not in gplan, gplan


def test_bucketed_table_requires_hash_partitions(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    t = create_table(spark, orders, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="hash"):
        t.to_bucketed_table()


def test_gopher_filter_is_pure_projection(spark):
    """The quality-filter battery must stay a scan-side projection:
    zero Exchange in the plan (every signal is a per-row array fold)."""
    from starlake_spark.functions import curation as cu

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _phys(cu.gopher_filter_flags(d, "doc_id", "text"))
    assert "Exchange" not in plan, plan


def test_bloom_probe_is_join_free(spark):
    """The Bloom decontamination probe is a scan-side filter — the
    corpus side must see NO join and NO shuffle before the per-doc
    hit-count aggregate (the whole point vs the overlap-join path)."""
    from starlake_spark.functions import dedup as dd

    d = spark.read.parquet(f"{SF}/documents.parquet")
    cont = d.filter(F.col("doc_id") % 17 == 0)
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    kept = dd.bloom_decontaminate(corpus, cont, "doc_id", "text", 4, 2)
    # AQE plan strings repeat the tree under "== Initial Plan ==" — count
    # joins in the final section only
    plan = _phys(kept).split("== Initial Plan ==")[0]
    # one anti-join stitches the kept set back; no other join may appear
    assert plan.count("Join") == 1, plan
    # the probe itself is a scan-side Python filter, not a join
    assert "ArrowEvalPython" in plan


def test_bm25_filters_before_shuffle_and_broadcasts_stats(spark):
    """BM25's token explode must filter to the query vocabulary BEFORE
    any exchange (shuffles carry matches, not the corpus), and the
    corpus-stats side must attach via broadcast, never a shuffled join."""
    from starlake_spark.functions import text as tx

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _phys(tx.bm25_topk(d, ["merge", "batch", "hash"], k=20))
    final = plan.split("== Initial Plan ==")[0]
    # the stats/idf frames are 1-row/3-row: every join with them must be
    # a broadcast variant (the doclen join may hash — it is doc-keyed)
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final
    assert "CartesianProduct" not in final
    # vocabulary filter exists pre-aggregation (IN-list on the token)
    assert "_w#" in plan and ("IN (" in plan or "in(" in plan.lower())


def test_substring_spans_shuffles_hashes_not_strings(spark):
    """The duplicated-span pipeline must never shuffle window STRINGS:
    every exchange key set is (hash long | doc id), and there is no
    cartesian/self-join on text."""
    from starlake_spark.functions import dedup as dd

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _phys(dd.duplicated_span_stats(d, "doc_id", "text", k=8))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final and "BroadcastNestedLoopJoin" not in final
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", final):
        keys = m.group(1)
        assert "s#" not in keys, f"window string in shuffle keys: {keys}"


def test_funnel_is_user_keyed_aggregation_tree(spark):
    """The funnel must stay user-keyed: no cartesian product anywhere;
    only the 1-row denominator may ride a broadcast nested-loop."""
    from starlake_spark.queries.analytics import events_funnel

    out = events_funnel(spark, SF)
    plan = _phys(out)
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final


def test_span_removal_shuffles_hashes_not_strings(spark):
    """The span-REMOVAL pipeline inherits the stats pipeline's plan
    property: no window strings in any exchange key set, no cartesian."""
    from starlake_spark.functions import dedup as dd

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _phys(dd.remove_duplicated_spans(d, "doc_id", "text", k=8))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final and "BroadcastNestedLoopJoin" not in final
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", final):
        assert "s#" not in m.group(1), m.group(1)


def test_pq_adc_scoring_is_pure_codegen(spark):
    """PQ ADC ranking must keep Python OUT of the scoring loop: once
    codes exist, the distance evaluation is array lookups in codegen —
    no ArrowEvalPython/BatchEvalPython between the codes scan and the
    top-k window (encode is the one sanctioned Arrow kernel and is
    materialized before scoring here)."""
    import numpy as np

    from starlake_spark.functions import similarity as sim

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(100)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    books = sim.pq_train(df, "embedding", m=16, ksub=16, iters=2)
    codes = sim.pq_encode(df, books, "vec_id", "embedding").localCheckpoint()
    q = df.filter("vec_id < 2")
    plan = _phys(sim.pq_topk(codes, q, books, k=3))
    final = plan.split("== Initial Plan ==")[0]
    assert "EvalPython" not in final, final
    assert "CartesianProduct" not in final


def test_bigram_perplexity_no_python_and_bounded_shuffles(spark):
    """The bigram LM is built-ins end to end (no UDF anywhere) and no
    exchange carries raw text or positions — only bigram/word keys and
    the doc id."""
    from starlake_spark.functions import curation as cu

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _phys(cu.bigram_perplexity(d, "doc_id", "text"))
    final = plan.split("== Initial Plan ==")[0]
    assert "EvalPython" not in final, final
    assert "CartesianProduct" not in final  # only the 1-row total broadcasts


def test_contamination_shuffles_hashes_not_strings(spark):
    """n-gram contamination: grams travel as xxhash64 longs; no
    exchange key set contains a gram STRING."""
    import re

    from starlake_spark.functions import dedup as dd

    d = spark.read.parquet(f"{SF}/documents.parquet")
    ev = d.filter("doc_id % 17 = 0")
    corpus = d.filter("doc_id % 17 != 0")
    plan = _phys(dd.ngram_overlap_frac(corpus, ev, "doc_id", "text", n=5))
    final = plan.split("== Initial Plan ==")[0]
    assert "EvalPython" not in final
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", final):
        keys = m.group(1)
        assert "_h#" in keys or "doc_id#" in keys, keys


def test_bucket_pruning_for_point_lookups(spark, tmp_path):
    """A full-hash-key equality lookup reads exactly ONE bucket's files
    per partition (1/bucket_num of the table) — and stays correct for
    every key, including through the MoR path."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    t = create_table(spark, orders, str(tmp_path / "bp"),
                     hash_partitions=["o_orderkey"], hash_bucket_num=8,
                     configuration={"compaction.auto": "false"})
    all_files = len(t.to_df().inputFiles())
    keys = [r["o_orderkey"] for r in orders.limit(30).collect()]
    for k in keys[:5]:
        df = t.to_df(where=f"o_orderkey = {k}")
        assert len(df.inputFiles()) * 8 <= all_files * 1.01, k
        rows = df.collect()
        assert len(rows) == 1 and rows[0]["o_orderkey"] == k
    # every key still found (hash parity writer<->lookup, all buckets)
    for k in keys:
        assert t.to_df(where=f"o_orderkey = {k}").count() == 1, k
    # MoR: upsert one key, point lookup sees the delta through pruning
    t.upsert(orders.filter(F.col("o_orderkey") == keys[0])
             .withColumn("o_totalprice", F.lit(0.5)))
    row = t.to_df(where=f"o_orderkey = {keys[0]}").collect()
    assert len(row) == 1 and row[0]["o_totalprice"] == 0.5
    # non-point predicates never prune by bucket
    assert t.to_df(where="o_orderkey >= 0").count() == orders.count()

def test_bucket_pruning_for_in_list_lookups(spark, tmp_path):
    """k IN (a, b, c) reads at most three buckets' files — and exactly
    the right rows; a too-wide IN list silently skips pruning."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    t = create_table(spark, orders, str(tmp_path / "bi"),
                     hash_partitions=["o_orderkey"], hash_bucket_num=8,
                     configuration={"compaction.auto": "false"})
    all_files = len(t.to_df().inputFiles())
    keys = [r["o_orderkey"] for r in orders.limit(3).collect()]
    inlist = ", ".join(str(k) for k in keys)
    df = t.to_df(where=f"o_orderkey IN ({inlist})")
    assert len(df.inputFiles()) * 8 <= all_files * 3.01
    assert sorted(r.o_orderkey for r in df.collect()) == sorted(keys)
    # width guard: >64 combos → no pruning, still exact
    wide = ", ".join(str(k) for k in
                     [r["o_orderkey"] for r in orders.limit(70).collect()])
    assert t.to_df(where=f"o_orderkey IN ({wide})").count() == 70

def test_mor_small_dim_broadcasts_from_manifest_hint(spark, tmp_path):
    """A small hash table WITH a delta (MoR collapse defeats Catalyst's
    relation-size estimate) still broadcast-joins: the manifest byte
    total under autoBroadcastJoinThreshold attaches the hint inside
    scan(). Plain-path reads need no hint (parquet sizeInBytes)."""
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    t = create_table(spark, nation, str(tmp_path / "dim_n"),
                     hash_partitions=["n_nationkey"], hash_bucket_num=2,
                     configuration={"compaction.auto": "false"})
    t.upsert(nation.limit(3).withColumn("n_name", F.lit("X")))
    dim = t.to_df()
    assert "Aggregate" in _phys(dim)  # really the MoR path
    j = customer.join(dim, customer.c_nationkey == dim.n_nationkey)
    assert "BroadcastHashJoin" in _phys(j), _phys(j)

    # threshold disabled -> no hint, plan falls back to shuffle join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        dim2 = t.to_df()
        j2 = customer.join(dim2, customer.c_nationkey == dim2.n_nationkey)
        assert "BroadcastHashJoin" not in _phys(j2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")

def _plan_shape(plan: str) -> str:
    """A plan string without the ids that differ between two builds."""
    import re

    return re.sub(r"#\d+L?|plan_id=\d+", "#", plan)


def test_semi_probe_scans_carry_no_broadcast_hint(spark, tmp_path):
    """MoR scans that only feed the probe side of a left-semi join (the
    CDC boundary scans, the MV backing-table prune) are built without
    the manifest-size broadcast hint: Spark never builds that side and
    logged the refused hint on every refresh. Dropping it leaves the
    physical plan unchanged."""
    from starlake_spark.operators import reader as rd
    from starlake_spark.sources.datasource import range_changes

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    nation = spark.read.parquet(f"{SF}/nation.parquet")
    t = create_table(spark, nation, str(tmp_path / "dim_n"),
                     hash_partitions=["n_nationkey"], hash_bucket_num=2,
                     configuration={"compaction.auto": "false"})
    t.upsert(nation.limit(3).withColumn("n_name", F.lit("X")))
    assert "ResolvedHint" in analyzed(t.to_df())  # the hint is live here
    assert "ResolvedHint" not in analyzed(
        range_changes(spark, t.store.table_path, 0, 1))
    keys = spark.range(3).select(F.col("id").cast(
        nation.schema["n_nationkey"].dataType).alias("n_nationkey"))
    plans = {}
    for hint in (True, False):
        df = rd.scan(spark, t.store, broadcast_hint=hint).join(
            keys, "n_nationkey", "left_semi")
        assert ("ResolvedHint" in analyzed(df)) == hint
        plans[hint] = _plan_shape(_phys(df))
    assert plans[True] == plans[False]


def test_python_murmur3_matches_spark_hash(spark):
    """Bucket pruning's in-process murmur3 must be bit-exact vs the
    JVM hash() the writer shuffled with — a single mismatch would read
    the wrong bucket and silently LOSE rows, so this is a correctness
    pin, not a perf test."""
    import random
    from pyspark.sql import types as T
    from starlake_spark.operators.reader import _spark_hash_py

    random.seed(11)
    ints = [0, 1, -1, 2**31 - 1, -2**31] + \
        [random.randint(-2**31, 2**31 - 1) for _ in range(40)]
    longs = [0, -1, 2**63 - 1, -2**63] + \
        [random.randint(-2**63, 2**63 - 1) for _ in range(40)]
    strs = ["", "a", "abc", "abcd", "hello world", "x" * 33] + \
        ["".join(random.choice("abcXYZ019_- ") for _ in range(n % 17))
         for n in range(40)]
    df = spark.createDataFrame([(v,) for v in ints], "v int")
    for r in df.select("v", F.hash("v").alias("h")).collect():
        assert _spark_hash_py([r["v"]], [T.IntegerType()]) == r["h"]
    df = spark.createDataFrame([(v,) for v in longs], "v long")
    for r in df.select("v", F.hash("v").alias("h")).collect():
        assert _spark_hash_py([r["v"]], [T.LongType()]) == r["h"]
    df = spark.createDataFrame([(v,) for v in strs], "v string")
    for r in df.select("v", F.hash("v").alias("h")).collect():
        assert _spark_hash_py([r["v"]], [T.StringType()]) == r["h"]
    df = spark.createDataFrame(
        [(1, "a", 5), (None, "b", 7), (3, None, None)], "a int, b string, c long")
    for r in df.select("a", "b", "c", F.hash("a", "b", "c").alias("h")).collect():
        got = _spark_hash_py([r["a"], r["b"], r["c"]],
                             [T.IntegerType(), T.StringType(), T.LongType()])
        assert got == r["h"]
    # unsupported type bails to the JVM path rather than guessing
    assert _spark_hash_py([1.5], [T.DoubleType()]) is None


def test_ivfpq_probe_is_pure_codegen_over_pruned_scan(spark, tmp_path):
    """IVF-PQ probe path: the ADC scoring over the PRUNED codes scan is
    codegen-only (no EvalPython — cells/LUTs are computed driver-side
    from the single query snapshot), the probe joins via broadcast, and
    the pruned read touches fewer files than the index holds."""
    import numpy as np

    from starlake_spark.functions import similarity as sim

    rng = np.random.RandomState(5)
    vecs = [(i, [float(x) for x in rng.standard_normal(64)])
            for i in range(300)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    idx = sim.build_ivfpq_index(spark, df, str(tmp_path / "ivfpq"),
                                nlist=6, m=16, ksub=16, pq_iters=2)
    q = df.filter("vec_id < 2")
    topk = sim.ivfpq_topk(spark, idx, q, k=3, nprobe=2)
    plan = _phys(topk)
    final = plan.split("== Initial Plan ==")[0]
    assert "EvalPython" not in final, final
    assert "CartesianProduct" not in final
    assert "BroadcastExchange" in final  # probes broadcast to the cells
    # pruning: the probe plan reads fewer index files than exist
    n_all = len(idx.to_df().inputFiles())
    assert len(topk.inputFiles()) < n_all, (len(topk.inputFiles()), n_all)


def test_semantic_decontaminate_never_shuffles_corpus(spark):
    """semantic_decontaminate's plan: the corpus streams through ONE
    mapInPandas matmul (no corpus shuffle, no cartesian product) and
    the hit-id anti-join is a broadcast — the eval side is the only
    thing collected."""
    import numpy as np

    from starlake_spark.functions import similarity as sim

    rng = np.random.RandomState(5)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)])
         for i in range(400)],
        "vec_id long, embedding array<double>")
    ev = corpus.filter("vec_id % 29 = 0")
    kept = sim.semantic_decontaminate(corpus, ev, threshold=0.99)
    plan = _phys(kept)
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, final
    # the anti-join broadcasts the hit ids (a sliver of the corpus)
    assert "BroadcastHashJoin" in final and "LeftAnti" in final, final
    # the corpus itself is never exchanged: the ONE hashpartitioning
    # exchange in the plan is the hits-distinct feeding the broadcast,
    # and the MapInPandas matmul reads the corpus scan directly
    assert final.count("Exchange hashpartitioning") <= 1, final
    map_branch = final[final.index("MapInPandas"):]
    assert "Exchange" not in map_branch, map_branch


def test_setop_pk_join_rewrite_on_bucketed_tables(spark, tmp_path):
    """Round-8 verdict task #5 (reference
    rules/StarLakePostHocAnalysis.scala:29-96 +
    StarLakePostHocAnalysisSuite.scala): INTERSECT/EXCEPT over the PK
    columns of two same-bucketed star tables rewrites to a
    left-semi/left-anti join on PLAIN equality with no dedup
    (intersect_keys / except_keys + the StarSession SQL route).

    Documented divergence probed here: Catalyst's own
    ReplaceIntersectWithSemiJoin is correct but emits NULL-SAFE join
    keys (coalesce(k,0)/isnull(k)) plus a Distinct — expressions a
    bucketed scan's reported partitioning can never satisfy, so the
    merge regime shuffles both sides and the dedup again. The engine's
    rewrite exploits what Catalyst cannot know (hash cols are non-null
    unique PKs): raw-key join, no dedup — over two CURRENT
    to_bucketed_table materializations the merge regime plans
    ZERO exchanges."""
    from starlake_spark.sql import StarSession

    sess = StarSession(spark, warehouse=str(tmp_path / "wh"))
    o = spark.read.parquet(f"{SF}/orders.parquet")
    t1 = create_table(spark, o.select("o_orderkey", "o_totalprice"),
                      str(tmp_path / "s1"), short_name="sop_a",
                      warehouse=sess.warehouse,
                      hash_partitions=["o_orderkey"], hash_bucket_num=4)
    t2 = create_table(
        spark,
        o.select((F.col("o_orderkey") + 3).alias("o_orderkey"),
                 F.col("o_totalprice")),
        str(tmp_path / "s2"), short_name="sop_b",
        warehouse=sess.warehouse,
        hash_partitions=["o_orderkey"], hash_bucket_num=4)
    t1.to_bucketed_table("sop_bt1")
    t2.to_bucketed_table("sop_bt2")

    want = {
        "INTERSECT": ("LeftSemi",
                      {r[0] for r in o.select("o_orderkey").intersect(
                          o.select((F.col("o_orderkey") + 3)
                                   .alias("o_orderkey"))).collect()}),
        "EXCEPT": ("LeftAnti",
                   {r[0] for r in o.select("o_orderkey").exceptAll(
                       o.select((F.col("o_orderkey") + 3)
                                .alias("o_orderkey"))).distinct()
                    .collect()}),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for op, (join_type, rows) in want.items():
            df = sess.sql(f"SELECT o_orderkey FROM sop_a {op} "
                          f"SELECT o_orderkey FROM sop_b")
            plan = _phys(df)
            assert join_type in plan, plan
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan, plan          # zero-exchange
            assert "HashAggregate" not in plan, plan     # no dedup pass
            assert {r[0] for r in df.collect()} == rows
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # staleness guard: a write invalidates the bucketed stamp — the
    # rewrite falls back to live MoR scans and stays CORRECT
    t1.upsert(spark.createDataFrame([(1_000_001, 1.0)],
                                    "o_orderkey long, o_totalprice double"))
    df = sess.sql("SELECT o_orderkey FROM sop_a EXCEPT "
                  "SELECT o_orderkey FROM sop_b")
    got = {r[0] for r in df.collect()}
    assert got == want["EXCEPT"][1] | {1_000_001}
    assert "LeftAnti" in _phys(df)

    # outside the rule (non-PK projection) → falls through to Spark,
    # still correct
    df = sess.sql("SELECT o_totalprice FROM sop_a INTERSECT "
                  "SELECT o_totalprice FROM sop_b")
    assert df.count() == (o.select("o_totalprice").intersect(
        o.select("o_totalprice")).count())


def test_setop_keys_layout_mismatch_refused(spark, tmp_path):
    """StarLakePostHocAnalysis.scala:79-95: the rewrite requires
    identical key columns AND bucket count."""
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice")
    t1 = create_table(spark, o, str(tmp_path / "m1"),
                      hash_partitions=["o_orderkey"], hash_bucket_num=4)
    t2 = create_table(spark, o, str(tmp_path / "m2"),
                      hash_partitions=["o_orderkey"], hash_bucket_num=8)
    with pytest.raises(ValueError, match="bucket"):
        t1.intersect_keys(t2)
    t3 = create_table(spark, o, str(tmp_path / "m3"))
    with pytest.raises(ValueError, match="hash-partitioned"):
        t1.intersect_keys(t3)
