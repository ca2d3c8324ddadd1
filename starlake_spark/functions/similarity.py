"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline: broadcast the query
  set, JVM-side dot products via zip_with/aggregate, per-query top-k by
  window. Scales linearly in corpus size with zero Python in the loop.
* LSH-bucketed ANN (random hyperplanes) — the scale path: sign-bit
  signatures put near vectors in the same buckets, so the join touches
  a small candidate set instead of the full corpus. Probing multiple
  band tables recovers recall.
* IVF-style variant — coarse k-means-ish centroids picked
  deterministically, each vector assigned to nearest centroid; queries
  probe the nearest `nprobe` cells only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.types import LongType

from starlake_spark.local import local_df


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in codegen: zip_with + aggregate (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_pairs_broadcast(
    small: DataFrame,
    corpus: DataFrame,
    threshold: float,
    small_id: str = "id_a",
    corpus_id: str = "id_b",
    vec_col_small: str = "_va",
    vec_col_corpus: str = "_vb",
    require_lt: bool = True,
    exclude_same_id: bool = True,
) -> DataFrame:
    """All-pairs cosine ≥ threshold between a SMALL side and a corpus.

    The small side (a sample / query set) is collected and broadcast as
    a normalized numpy matrix — same memory envelope as a broadcast
    join; the corpus side streams through mapInPandas, one
    (batch × dim) @ (dim × n_small) matmul per Arrow batch, emitting
    only surviving (id_a, id_b) pairs. Nothing quadratic ever leaves
    an executor, and the corpus is never collected — this scales to
    arbitrarily large corpora as long as the sampled side stays
    broadcastable (use the LSH path when both sides are huge).
    ``require_lt`` keeps pairs with id_a < id_b (dedup semantics);
    False keeps all (query × corpus) pairs, minus equal-id ones unless
    ``exclude_same_id=False`` (the two sides may live in UNRELATED id
    spaces — decontamination must not skip a corpus row that happens to
    share an eval row's id)."""
    a_pd = small.select(small_id, vec_col_small).toPandas()
    a_ids = a_pd[small_id].to_numpy()
    A = np.vstack(a_pd[vec_col_small].values).astype(np.float64)
    a_norms = np.linalg.norm(A, axis=1)
    safe = a_norms > 0
    A[safe] = A[safe] / a_norms[safe, None]
    spark = small.sparkSession
    bc = spark.sparkContext.broadcast((a_ids, A, safe))

    def score(batches):
        ids_a, mat_a, a_safe = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.vstack(pdf[vec_col_corpus].values).astype(np.float64)
            b_ids = pdf[corpus_id].to_numpy()
            b_norms = np.linalg.norm(B, axis=1)
            b_safe = b_norms > 0
            B[b_safe] = B[b_safe] / b_norms[b_safe, None]
            sims = B @ mat_a.T
            # zero-norm vectors score 0.0 (matches the `cosine` Column)
            sims[~b_safe, :] = 0.0
            sims[:, ~a_safe] = 0.0
            hit = sims >= threshold
            if require_lt:
                hit &= ids_a[None, :] < b_ids[:, None]
            elif exclude_same_id:
                hit &= ids_a[None, :] != b_ids[:, None]
            bi, ai = np.nonzero(hit)
            if len(bi):
                yield pd.DataFrame({small_id: ids_a[ai], corpus_id: b_ids[bi]})

    out_schema = f"{small_id} long, {corpus_id} long"
    return corpus.select(corpus_id, vec_col_corpus).mapInPandas(score, out_schema)


def pair_dot(a: Column, b: Column) -> Column:
    """Arrow-batched Σ a_i·b_i for high-volume pair scoring.

    The zip_with/aggregate ``dot`` is interpreted per element, which
    dominates all-pairs workloads (hundreds of thousands of rows ×
    dim); one einsum per Arrow batch is ~5× faster end-to-end despite
    shipping both arrays through Arrow. Use ``dot`` for low-volume
    scoring where UDF setup isn't amortized."""

    @F.pandas_udf("double")
    def pd_dot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series(np.zeros(0))
        mx = np.vstack(xs.values)
        my = np.vstack(ys.values)
        return pd.Series(np.einsum("ij,ij->i", mx, my))

    return pd_dot(a, b)


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus scan.

    Output: (query_id, neighbor_id, sim, rank). Rank ties break on
    neighbor id for determinism. The corpus side is never shuffled —
    one scan, one window over (query, sim) which AQE splits by query.
    """
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"), _as_double(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def hyperplane_signature(vec: Column, dim: int, num_planes: int = 16, seed: int = 42) -> Column:
    """Sign-bit signature against `num_planes` pseudo-random hyperplanes.

    Arrow-batched numpy: one (batch × dim) @ (dim × planes) matmul per
    batch, then sign bits packed into a long. Plane matrix is derived
    deterministically from the seed on each executor (no side data to
    ship). The expression-tree alternative (per-plane zip_with +
    aggregate with hashed coefficients) re-traverses the vector
    num_planes× per row and measured ~10× slower."""

    @F.pandas_udf(LongType())
    def hp_sig(vs: pd.Series) -> pd.Series:
        rng = np.random.RandomState(seed)
        planes = rng.standard_normal((dim, num_planes))
        if len(vs) == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        mat = np.array([
            v if v is not None and len(v) == dim else np.zeros(dim)
            for v in vs
        ], dtype=np.float64)
        bits = (mat @ planes) >= 0
        weights = (1 << np.arange(num_planes, dtype=np.int64))
        return pd.Series((bits @ weights).astype(np.int64))

    return hp_sig(vec)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    num_tables: int = 4,
    exclude_self: bool = True,
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: multi-probe hyperplane-LSH bucket join.

    Each of ``num_tables`` signature tables hashes vectors to a bucket;
    a query probes its own bucket plus every bucket within
    ``probe_bits`` flipped signature bits (multi-probe LSH — recall of
    extra hash tables at the cost of extra probes instead of extra
    index copies, which is the right trade at scale where the corpus
    side dominates storage). Candidates then get exact cosine + window
    top-k."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv"))
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("_qv"))

    # every table's signature in ONE corpus scan (posexplode), instead of
    # num_tables scans unioned — the corpus side is the big side
    c_sigs = [hyperplane_signature(F.col("_cv"), dim, num_planes, seed=42 + t)
              for t in range(num_tables)]
    cs = c.select(
        "neighbor_id", "_cv",
        F.posexplode(F.array(*c_sigs)).alias("_table", "_sig"),
    )

    def probes(sig: Column) -> Column:
        # the signature itself + one entry per flipped bit (probe_bits=1)
        variants = [sig]
        if probe_bits >= 1:
            variants += [sig.bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)]
        return F.array(*variants)

    q_sigs = [probes(hyperplane_signature(F.col("_qv"), dim, num_planes, seed=42 + t))
              for t in range(num_tables)]
    qs = q.select(
        "query_id", "_qv",
        F.posexplode(F.array(*q_sigs)).alias("_table", "_probes"),
    ).select("query_id", "_qv", "_table", F.explode("_probes").alias("_sig"))

    cand = cs.join(F.broadcast(qs), on=["_table", "_sig"]).select(
        "query_id", "_qv", "neighbor_id", "_cv"
    )
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _centroid_matrix(centroids: DataFrame, vec_col: str):
    """Collect the (tiny) centroid model state to the driver as a
    cosine-normalized numpy matrix, rows sorted by centroid_id so that
    numpy argmax tie-breaks on the lowest id — the same tie-break the
    window-based formulation used. Centroid counts are O(√N) (FAISS
    coarse-quantizer sizing), so this is model state, not data — the
    corpus itself is never collected."""
    pdf = centroids.select(
        F.col("centroid_id"), _as_double(F.col(vec_col)).alias("_c")
    ).toPandas()
    order = np.argsort(pdf["centroid_id"].to_numpy(), kind="stable")
    ids = pdf["centroid_id"].to_numpy()[order].astype(np.int64)
    M = np.vstack(pdf["_c"].values)[order].astype(np.float64)
    norms = np.linalg.norm(M, axis=1)
    safe = norms > 0
    M[safe] = M[safe] / norms[safe, None]
    return ids, M


def _batch_matrix(vs: pd.Series, dim: int) -> np.ndarray:
    return np.array(
        [v if v is not None and len(v) == dim else np.zeros(dim) for v in vs],
        dtype=np.float64,
    )


def nearest_centroid_col(vec: Column, ids: np.ndarray, cent_mat: np.ndarray,
                         spark) -> Column:
    """centroid_id of the nearest (cosine) centroid, one Arrow-batched
    (batch × dim) @ (dim × nlist) matmul per batch. Row-norm scaling
    doesn't change the argmax, so only centroids are pre-normalized;
    zero-norm rows score 0 everywhere and fall to the lowest id, matching
    the Column-cosine formulation."""
    bc = spark.sparkContext.broadcast((ids, cent_mat))
    dim = cent_mat.shape[1]

    @F.pandas_udf(LongType())
    def assign(vs: pd.Series) -> pd.Series:
        cids, M = bc.value
        if len(vs) == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        mat = _batch_matrix(vs, dim)
        return pd.Series(cids[np.argmax(mat @ M.T, axis=1)])

    return assign(vec)


def _normalize_rows(M: np.ndarray) -> np.ndarray:
    """Row-normalize a centroid matrix (zero rows untouched) — the
    same normalization ``_centroid_matrix`` applies after its DataFrame
    round trip, exposed for callers that already hold the numpy fit."""
    M = M.astype(np.float64, copy=True)
    norms = np.linalg.norm(M, axis=1)
    safe = norms > 0
    M[safe] = M[safe] / norms[safe, None]
    return M


def _kmeans_fit(
    df: DataFrame,
    nlist: int = 40,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = None,
) -> "tuple[np.ndarray, np.ndarray]":
    """The k-means fit behind ``kmeans_centroids``, returning the raw
    (ids, centroid-matrix) pair directly. Builders that immediately
    need the numpy model (``build_ivf_index``/``build_ivfpq_index``/
    ``semantic_dedup``) call this instead of round-tripping the matrix
    through a driver-local DataFrame + toPandas job (~1.3 s of pure
    fixed cost per build at any scale — the model never needs to
    leave the driver)."""
    cap = train_cap if train_cap is not None else max(256 * nlist, 8192)
    sample = (
        df.select(F.col(id_col).alias("_id"),
                  _as_double(F.col(vec_col)).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(max(cap, nlist))
        .toPandas()
    )
    X = np.vstack(sample["_v"].values).astype(np.float64)
    M = X[:nlist].copy()

    for _ in range(iters):
        Mn = M.copy()
        norms = np.linalg.norm(Mn, axis=1)
        safe = norms > 0
        Mn[safe] = Mn[safe] / norms[safe, None]
        cid = np.argmax(X @ Mn.T, axis=1)
        sums = np.zeros_like(M)
        counts = np.zeros(M.shape[0], dtype=np.int64)
        np.add.at(sums, cid, X)
        np.add.at(counts, cid, 1)
        keep = counts > 0
        if not keep.any():
            break
        M = sums[keep] / counts[keep, None]
    return np.arange(M.shape[0], dtype=np.int64), M


def kmeans_centroids(
    df: DataFrame,
    nlist: int = 40,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int | None = None,
) -> DataFrame:
    """Coarse spherical-k-means centroids for IVF — FAISS's train/add
    discipline: centroids FIT on a bounded deterministic sample
    (``train_cap``, default ``max(256*nlist, 8192)`` — FAISS trains IVF
    coarse quantizers on ~256 points per centroid) pulled in ONE job;
    every Lloyd iteration then runs driver-side on that sample matrix
    (≤ cap × dim floats of bounded model state — same class as the
    centroid/codebook matrices). ASSIGNMENT stays exact and distributed
    (ivf_assign). The previous shape paid one full-corpus job per
    iteration (MLlib treeAggregate partial sums) — correct, but at
    100 TB that's ``iters`` extra corpus scans for centroid quality
    sampling matches, and at bench scale it was the single biggest
    fixed cost of an index build.

    Init = first ``nlist`` of the sample's deterministic pseudo-random
    order (``xxhash64(id)`` — identical to the previous top-nlist
    init). Empty cells drop out (nlist may shrink). Output:
    (centroid_id, ``vec_col``) with centroid_id = 0..nlist-1."""
    spark = df.sparkSession
    _ids, M = _kmeans_fit(df, nlist=nlist, iters=iters, id_col=id_col,
                          vec_col=vec_col, train_cap=train_cap)

    return local_df(spark, 
        [(int(i), [float(x) for x in row]) for i, row in enumerate(M)],
        f"centroid_id long, {vec_col} array<double>",
    )


def ivf_assign(df: DataFrame, centroids: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (IVF cell) — at
    100 TB this is the scan-side partitioner that makes ANN queries
    touch ~nprobe/nlist of the data. One narrow projection, no join."""
    ids, M = _centroid_matrix(centroids, vec_col)
    return df.select(
        F.col(id_col),
        nearest_centroid_col(_as_double(F.col(vec_col)), ids, M,
                             df.sparkSession).alias("centroid_id"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are binned by nearest centroid
    (``ivf_assign``), a query probes only its ``nprobe`` nearest cells,
    then exact cosine + top-k inside the probed cells. At scale the
    assignment is computed once at ingest and stored as a partition
    column, making each query touch ~nprobe/nlist of the data."""
    ids, M = _centroid_matrix(centroids, vec_col)
    spark = corpus.sparkSession
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn(
        "centroid_id",
        nearest_centroid_col(F.col("_cv"), ids, M, spark),
    )

    # nprobe nearest cells per query — same matmul kernel, top-nprobe
    # by (sim desc, centroid_id asc) per row, exploded to probe rows
    bc = spark.sparkContext.broadcast((ids, M))
    dim = M.shape[1]

    @F.pandas_udf("array<long>")
    def top_cells(vs: pd.Series) -> pd.Series:
        cids, Mb = bc.value
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = _batch_matrix(vs, dim)
        sims = mat @ Mb.T
        # stable argsort on -sims: ties fall to the lowest centroid_id
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([cids[row] for row in top])

    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("_qv"))
    probes = q.select(
        "query_id", "_qv", F.explode(top_cells(F.col("_qv"))).alias("centroid_id")
    )

    cand = c.join(F.broadcast(probes), on="centroid_id")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select("query_id", "neighbor_id",
                         cosine(F.col("_qv"), F.col("_cv")).alias("sim"))
    w2 = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "sim", "rank"))


def embedding_cosine_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    num_planes: int = 12,
    num_tables: int = 6,
) -> DataFrame:
    """Embedding near-dup pairs (cosine >= threshold), LSH-bucketed so
    the pair join is bucket-local; returns (id_a, id_b, sim)."""
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    sigs = [hyperplane_signature(F.col("_v"), dim, num_planes, seed=7 + t)
            for t in range(num_tables)]
    # one scan for all tables' signatures, then groupBy-collect pair
    # generation (no self-join: the signature UDF lineage runs exactly
    # once) — vectors are joined back for the few surviving pairs
    s = v.select(
        F.col(id_col), F.posexplode(F.array(*sigs)).alias("_table", "_sig")
    )
    ids = F.col("_ids")

    def pair_with_rest(x, i):
        rest = F.slice(ids, i + 2, F.size(ids))
        return F.transform(rest, lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))

    cand = (
        s.groupBy("_table", "_sig")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("_ids"))
        .filter(F.size("_ids") >= 2)
        .select(F.explode(F.flatten(F.transform(ids, pair_with_rest))).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = (
        cand.join(v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va")), "id_a")
        .join(v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb")), "id_b")
    )
    return scored.select(
        "id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("sim")
    ).filter(F.col("sim") >= threshold)


# ---------------------------------------------------------------------------
# persistent IVF index (star-table backed)
# ---------------------------------------------------------------------------

def build_ivf_index(
    spark,
    corpus: DataFrame,
    path: str,
    nlist: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    short_name: str | None = None,
    hash_bucket_num: int | None = None,
    source=None,
):
    """Persist an IVF index as a star table range-partitioned by cell
    AND hash-partitioned by the vector id: cell dirs give the
    partition-pruned probe reads, the id keys give MoR merge semantics
    so the index can be MAINTAINED — upserts replace a vector's row,
    tombstones remove it (``ivf_index_sync``).

    This is the at-scale shape ``ivf_topk``'s docstring promises: the
    k-means fit and cell assignment run ONCE at build time; each query
    then probes nprobe cells as a manifest partition-pruned read —
    I/O per query ~ nprobe/nlist of the corpus, no per-query fit.
    The centroid matrix (nlist × dim doubles) rides in the table
    properties as JSON — driver-resident model state, same as MLlib;
    beyond ~10⁴ cells store it as a side table instead. Centroids are
    immutable for the index's lifetime (assignment determinism is what
    lets the sync find a changed vector's OLD cell) — refit = rebuild.

    ``source``: the star table the corpus came from (hash-partitioned
    on ``id_col``) — recorded with a version watermark so
    ``ivf_index_sync`` can later advance the index through the
    source's change feed."""
    import json as _json

    from starlake_spark.table import create_table

    src_version = None
    if source is not None:
        # pin the watermark BEFORE any corpus scan: commits landing
        # during the (long) k-means + write would otherwise fall inside
        # the watermark yet be absent from the index — a too-EARLY
        # watermark merely re-applies an overlapping window on the
        # first sync (idempotent), a too-late one skips changes forever
        src_version = source.store.latest_version()
        if corpus is None:
            corpus = source.to_df(version=src_version)
    if nlist is None:
        nlist = max(4, corpus.count() // 50)
    if hash_bucket_num is None:
        hash_bucket_num = _adaptive_bucket_num(corpus, nlist)
    ids, M0 = _kmeans_fit(corpus, nlist=nlist, iters=iters,
                          id_col=id_col, vec_col=vec_col)
    M = _normalize_rows(M0)
    assigned = corpus.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias(vec_col)
    ).withColumn("centroid_id", nearest_centroid_col(F.col(vec_col), ids, M, spark))
    t = create_table(spark, assigned, path,
                     range_partitions=["centroid_id"],
                     hash_partitions=[id_col],
                     hash_bucket_num=hash_bucket_num,
                     short_name=short_name)
    props = {
        "ivf.centroid_ids": _json.dumps([int(i) for i in ids]),
        "ivf.centroids": _json.dumps(M.tolist()),
        "ivf.id_col": id_col,
        "ivf.vec_col": vec_col,
    }
    if source is not None:
        props["ivf.source"] = source.store.table_path
        props["ivf.synced_version"] = str(src_version)
    t.set_properties(props)
    return t


def ivf_index_topk(
    spark,
    index,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Query a persisted IVF index: probe each query's ``nprobe``
    nearest cells, read ONLY those cells through manifest partition
    pruning, exact cosine + top-k inside them.

    The query frame is materialized to the driver EXACTLY ONCE (it is
    small by construction — for huge query batches read unpruned
    instead): both the probed-cell set and the broadcast join input
    derive from that single pandas snapshot, so a nondeterministic
    ``queries`` frame (a ``.sample()``, an unordered ``.limit()``)
    cannot probe one cell set and join another. Cell assignment is a
    single (nq × dim) @ (dim × nlist) numpy matmul against the
    driver-resident centroid matrix — no Spark job."""
    import json as _json

    cfg = index.info.configuration or {}
    if "ivf.centroids" not in cfg:
        raise ValueError(f"{index.store.table_path} is not an IVF index table")
    ids = np.asarray(_json.loads(cfg["ivf.centroid_ids"]), dtype=np.int64)
    # stored matrix is _centroid_matrix output: already cosine-normalized,
    # so probing ranks cells exactly as build-time assignment did
    M = np.asarray(_json.loads(cfg["ivf.centroids"]), dtype=np.float64)
    id_col, vec_col = cfg["ivf.id_col"], cfg["ivf.vec_col"]
    dim = M.shape[1]

    qpdf = queries.select(F.col(id_col).alias("query_id"),
                          _as_double(F.col(vec_col)).alias("_qv")).toPandas()
    if len(qpdf) == 0:
        cells: set[int] = set()
        probe_rows: list[tuple] = []
    else:
        mat = _batch_matrix(qpdf["_qv"], dim)
        top = np.argsort(-(mat @ M.T), axis=1, kind="stable")[:, :nprobe]
        # .tolist() renders numpy scalars (int64/float64 ids from pandas)
        # back to Python natives — createDataFrame's type verifier
        # rejects numpy types against the explicit schema below
        probe_rows = [
            (qid, [float(x) for x in vec] if vec is not None else None,
             int(ids[c]))
            for qid, vec, row in zip(qpdf["query_id"].tolist(),
                                     qpdf["_qv"], top)
            for c in row
        ]
        cells = {cid for _, _, cid in probe_rows}
    qid_type = queries.select(F.col(id_col)).schema[0].dataType
    probes = local_df(spark, 
        probe_rows,
        T.StructType([
            T.StructField("query_id", qid_type),
            T.StructField("_qv", T.ArrayType(T.DoubleType())),
            T.StructField("centroid_id", T.LongType()),
        ]),
    )
    # python-callable partition filter: prunes at the manifest with zero
    # Spark jobs (the SQL-predicate variant spins up a tiny DataFrame
    # job per probe — pure fixed cost on the query path)
    cand = index.to_df(
        partition_filter=lambda d: int(d["centroid_id"]) in cells
    ).select(F.col(id_col).alias("neighbor_id"),
             F.col(vec_col).alias("_cv"), "centroid_id")
    j = cand.join(F.broadcast(probes), on="centroid_id")
    if exclude_self:
        j = j.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = j.select("query_id", "neighbor_id",
                      cosine(F.col("_qv"), F.col("_cv")).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "sim", "rank"))


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster, then intra-cluster cosine)
# ---------------------------------------------------------------------------


def _approx_row_count(df: DataFrame) -> int:
    """Row estimate from Catalyst plan statistics — NO Spark job. Uses
    the optimizer's rowCount when available (CBO / exact relations),
    else sizeInBytes divided by a nominal embedding-row width. Only for
    knob defaulting (cell counts, list sizes), never correctness."""
    try:
        st = df._jdf.queryExecution().optimizedPlan().stats()
        rc = st.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(st.sizeInBytes()))
        # embeddings dominate width; a float64 d≈128 row ≈ 1 KiB in
        # Spark's estimate — right order of magnitude is all nlist needs
        return max(1, size // 1024)
    except Exception:
        return 1000  # opaque plan: a fixed mid-size default, still no job


def _adaptive_bucket_num(corpus: DataFrame, nlist: int) -> int:
    """Scale-adaptive index bucket count (optimization guide §6, output
    file sizing): the index write lands one file per (cell, bucket), so
    a FIXED bucket count multiplies the file count at any corpus size —
    a bench-scale corpus got 4x the files (and parquet/bloom per-file
    overhead) it needs, while a 100 TB corpus would get too few buckets
    for parallel sync writes and per-cell MoR spread. Target ~50k
    vectors per (cell, bucket) slice, from plan statistics (no job);
    callers that pass hash_bucket_num explicitly keep exact control."""
    est = _approx_row_count(corpus)
    per_cell = max(1, est // max(1, nlist))
    return max(1, min(64, -(-per_cell // 50_000)))


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int | None = None,
    iters: int = 2,
    max_cell: int = 2000,
) -> DataFrame:
    """SemDeDup-style embedding dedup: coarse k-means cells
    (``kmeans_centroids``), exact cosine pairs WITHIN each cell, drop
    the larger id of every pair ≥ ``threshold``. Returns the kept rows
    of ``df``.

    This is the scalable shape of embedding dedup: the quadratic pair
    work is bounded per cell (cells are ~corpus/nlist, capped at
    ``max_cell`` like the LSH ``max_bucket``), and at 100 TB the cell
    assignment is a partition column so each cell dedups independently
    with no cross-cell shuffle. Identical vectors always land in the
    same cell (same argmax row), so exact-duplicate recall is a theorem;
    near-dups split across a cell boundary are the standard SemDeDup
    trade-off.

    Precondition: ``df`` must be DETERMINISTIC across evaluations (a
    storage read, a cached frame) — centroid training, cell assignment,
    pair scoring, and the final anti-join each re-evaluate it, and the
    exact-recall theorem assumes they all see the same rows. Persist a
    nondeterministic frame before calling. (See COVERAGE.md
    "Double-consumed frames".)
    """
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    if nlist is None:
        # parameter defaulting must never cost a full-scan count job:
        # estimate rows from the optimizer's plan statistics (file sizes
        # for parquet/star scans — zero jobs). nlist only tunes cell
        # granularity; correctness is independent of the estimate.
        # nlist ∝ rows keeps CELL SIZE (~50) constant: intra-cell pair
        # work then scales linearly with the corpus and recall quality
        # (how often a near-dup pair straddles a cell boundary) stays
        # fixed across scales. Assignment costs N*nlist — quadratic in
        # principle, but measured ~100× cheaper per op than a pair
        # evaluation (codegen dot products vs a shuffled pair join), so
        # on real corpora the pair term dominates until extreme N;
        # past that, pass nlist explicitly or raise max_cell.
        nlist = max(4, _approx_row_count(df) // 50)
    ids, M0 = _kmeans_fit(df, nlist=nlist, iters=iters,
                          id_col=id_col, vec_col=vec_col)
    M = _normalize_rows(M0)
    assigned = v.withColumn(
        "_cell", nearest_centroid_col(F.col("_v"), ids, M, df.sparkSession))

    # groupBy-collect pair generation per cell (the LSH-bucket recipe:
    # one shuffle, the assignment UDF lineage runs once, bounded width)
    cids = F.col("_ids")

    def pair_with_rest(x, i):
        rest = F.slice(cids, i + 2, F.size(cids))
        return F.transform(rest, lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))

    cand = (
        assigned.groupBy("_cell")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_cell))
        .select(F.explode(F.flatten(F.transform(cids, pair_with_rest))).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
    )
    scored = (
        cand.join(v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va")), "id_a")
        .join(v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb")), "id_b")
        .select("id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("sim"))
    )
    losers = (
        scored.filter(F.col("sim") >= threshold)
        .select(F.col("id_b").alias(id_col)).distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# int8 embedding quantization (4× storage cut for the 100 TB vector lake)
# ---------------------------------------------------------------------------

def quantize_int8(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) ∈ [-127, 127] (explicit half-up floor —
    both Spark and duckdb floor doubles identically, unlike their
    round() tie rules). Returns struct<scale double, q array<int>>.
    Pure higher-order-function projection: per-row compute, no shuffle,
    and the quantized table is ¼ the bytes an ANN scan has to read."""
    v = _as_double(vec)
    amax = F.array_max(F.transform(v, F.abs))
    scale = amax / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize(qstruct: Column) -> Column:
    """Inverse of quantize_int8: x̂_i = q_i · scale (array<double>)."""
    return F.transform(qstruct["q"], lambda q: q.cast("double") * qstruct["scale"])


def ivf_index_append(spark, index, new_vectors: DataFrame):
    """Incrementally maintain a persisted IVF index: assign NEW vectors
    to their nearest existing centroid and append them into the
    matching cell partitions — no k-means refit, no index rebuild. The
    production shape for a growing corpus: ingest waves land as
    partition-local appends (write cost O(new vectors)); queries keep
    probing the same centroids. Re-fit (build_ivf_index) only when
    cell-size skew degrades recall — the same rebuild policy as FAISS's
    add() vs train().
    """
    import json as _json

    import numpy as _np

    info = index.info
    cfg = info.configuration or {}
    ids = _np.asarray(_json.loads(cfg["ivf.centroid_ids"]), dtype=_np.int64)
    M = _np.asarray(_json.loads(cfg["ivf.centroids"]), dtype=_np.float64)
    id_col, vec_col = cfg["ivf.id_col"], cfg["ivf.vec_col"]
    assigned = new_vectors.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias(vec_col)
    ).withColumn("centroid_id", nearest_centroid_col(F.col(vec_col), ids, M, spark))
    if info.hash_cols:
        # maintained (range×hash) index: keyed delta-upsert into the
        # matching cell partitions — same O(new) cost, MoR semantics
        index.upsert(assigned)
    else:
        # legacy layout (pre-sync indexes): partition-local append
        index.write(assigned, mode="append")
    return index


def _index_sync(spark, index, source, prefix: str,
                build_upsert_frame):
    """Shared CDC-maintenance skeleton for the vector indexes: resolve
    + validate the source binding (persisting an adoption so it
    sticks), pull the coalesced change window off the watermark,
    tombstone every change key out of its OLD cell (preimage vectors
    re-assigned against the immutable centroids), apply
    ``build_upsert_frame(new_rows)`` for inserts/postimages, then
    advance the watermark. The window is the session's shared,
    materialized one (``shared_range_changes``); its counts come from
    the driver rows when held, and the assignment/encode plans run
    only inside delete_keys/upsert."""
    import json as _json

    import numpy as _np

    from starlake_spark.sources.datasource import (CHANGE_TYPE_COL,
                                                   shared_range_changes)
    from starlake_spark.table import StarTable

    cfg = index.info.configuration or {}
    if f"{prefix}.centroids" not in cfg:
        kind = "an IVF-PQ index" if prefix == "ivfpq" else "an IVF index"
        raise ValueError(f"{index.store.table_path} is not {kind}")
    src_path = cfg.get(f"{prefix}.source")
    if src_path is None and source is None:
        raise ValueError(
            f"index records no {prefix}.source — build with "
            f"source=<StarTable> to make it maintainable, or pass "
            "source= to adopt one")
    src = source if source is not None else StarTable.for_path(spark,
                                                               src_path)
    if src_path is not None and src.store.table_path != src_path:
        raise ValueError(f"index follows {src_path}, not "
                         f"{src.store.table_path}")
    if not index.info.hash_cols:
        raise ValueError(
            "legacy append-only index layout (no hash keys) cannot be "
            "synced — rebuild (range×hash layout)")
    ids = _np.asarray(_json.loads(cfg[f"{prefix}.centroid_ids"]),
                      dtype=_np.int64)
    M = _np.asarray(_json.loads(cfg[f"{prefix}.centroids"]),
                    dtype=_np.float64)
    id_col, vec_col = cfg[f"{prefix}.id_col"], cfg[f"{prefix}.vec_col"]
    if src_path is None:
        # adoption must STICK: persist the binding so the next sync
        # resolves the same source and the mismatch guard works
        index.set_properties({f"{prefix}.source": src.store.table_path})

    v1 = src.store.latest_version()
    v0 = int(cfg.get(f"{prefix}.synced_version", 0))
    if v0 >= v1:
        return index, {"mode": "noop", "from_version": v0, "to_version": v0}
    win = shared_range_changes(spark, src.store.table_path, v0, v1)
    ch = win.frame
    cnt = win.counts()
    old = ch.filter(F.col(CHANGE_TYPE_COL)
                    .isin("update_preimage", "delete"))
    n_del = cnt.get("update_preimage", 0) + cnt.get("delete", 0)
    dead = None
    if n_del:
        dead = (old.select(F.col(id_col),
                           _as_double(F.col(vec_col)).alias("_v"))
                .withColumn("centroid_id",
                            nearest_centroid_col(F.col("_v"), ids, M,
                                                 spark))
                .select("centroid_id", id_col))
    new = ch.filter(F.col(CHANGE_TYPE_COL)
                    .isin("insert", "update_postimage"))
    n_up = cnt.get("insert", 0) + cnt.get("update_postimage", 0)
    if n_del and n_up:
        # one commit for the whole sync transition (tombstones out
        # of old cells + postimages into new cells) — one write
        # job + one manifest version instead of two
        index.upsert_with_tombstones(
            build_upsert_frame(new, ids, M, id_col, vec_col), dead)
    elif n_del:
        index.delete_keys(dead)
    elif n_up:
        index.upsert(build_upsert_frame(new, ids, M, id_col, vec_col))
    index.set_properties({f"{prefix}.synced_version": str(v1)})
    return index, {"mode": "incremental", "from_version": v0,
                   "to_version": v1, "removed": n_del, "upserted": n_up}


def ivf_index_sync(spark, index, source=None):
    """CDC-maintained ANN: advance a persisted IVF index to its SOURCE
    vector table's current snapshot through the coalesced change feed —
    the "index follows the table" discipline ``replication.sync_table``
    applies to replicas, for the index as the derived artifact.

    Per sync window (``range_changes`` off the recorded watermark —
    O(net changed keys) regardless of commit count):

    * every change key leaves its OLD cell first: the preimage vectors
      re-assign against the immutable centroid matrix (deterministic —
      the same assignment that placed them), giving an exact
      (centroid_id, id) tombstone frame (``delete_keys``, O(keys));
    * inserts + update postimages re-assign and delta-upsert into
      their (possibly different) cell — a moved vector is a tombstone
      in the old cell plus a row in the new one, never a duplicate;
    * the watermark property advances only after both commits, so a
      crashed sync re-applies idempotently (tombstoning an absent key
      and re-upserting the same row are both no-ops at merge time).

    Returns (index, stats). Repair = rebuild (centroids are immutable
    per index; refit = build_ivf_index)."""
    def ups(rows, ids, M, id_col, vec_col):
        return rows.select(
            F.col(id_col),
            _as_double(F.col(vec_col)).alias(vec_col)
        ).withColumn("centroid_id",
                     nearest_centroid_col(F.col(vec_col), ids, M, spark))

    return _index_sync(spark, index, source, "ivf", ups)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN path for a 100 TB
# vector lake: m sub-codes of log2(ksub) bits replace the full vector
# (64 float32 dims → 16 bytes at m=16/ksub=32), and queries rank by
# asymmetric distance computation (ADC) over a per-query lookup table,
# entirely JVM-side. FAISS IndexPQ semantics, Spark-first execution.
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 32,
    iters: int = 10,
    sample: int = 20000,
    id_col: str = "vec_id",
    normalize: bool = True,
) -> np.ndarray:
    """Train per-subspace L2 codebooks → ndarray (m, ksub, dim/m).

    Fit runs on a DETERMINISTIC hash-sample collected to the driver —
    codebooks are model state and FAISS likewise trains its quantizers
    on a bounded sample; the corpus itself is never collected. With
    ``normalize`` (the cosine-ANN setup) vectors are L2-normalized so
    ADC's L2 ordering equals the cosine ordering exactly on unit
    vectors (||a-b||² = 2 - 2·cosθ)."""
    pdf = (df.select(F.col(id_col).alias("_id"),
                     _as_double(F.col(vec_col)).alias("_v"))
             .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
             .limit(sample).toPandas())
    X = np.vstack(pdf["_v"].values).astype(np.float64)
    if normalize:
        n = np.linalg.norm(X, axis=1)
        X[n > 0] = X[n > 0] / n[n > 0, None]
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        Xj = X[:, j * dsub:(j + 1) * dsub]
        uniq = np.unique(Xj, axis=0)
        C = uniq[:ksub].copy()
        if len(C) < ksub:  # degenerate subspace: pad by repetition
            C = np.vstack([C] * (ksub // max(1, len(C)) + 1))[:ksub]
        for _ in range(iters):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            for c in range(len(C)):
                hit = Xj[a == c]
                if len(hit):
                    C[c] = hit.mean(0)
        books[j, :len(C)] = C
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """→ (id_col, codes array<int>): per subspace, the index of the
    nearest codebook centroid — one Arrow-batched matmul per subspace
    per batch, no per-row Python."""
    from pyspark.sql.types import ArrayType, IntegerType

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    m, ksub, dsub = codebooks.shape
    dim = m * dsub

    @F.pandas_udf(ArrayType(IntegerType()))
    def enc(vs: pd.Series) -> pd.Series:
        B = bc.value
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        X = _batch_matrix(vs, dim)
        if normalize:
            n = np.linalg.norm(X, axis=1)
            X[n > 0] = X[n > 0] / n[n > 0, None]
        codes = np.zeros((len(X), m), dtype=np.int32)
        for j in range(m):
            Xj = X[:, j * dsub:(j + 1) * dsub]
            C = B[j]
            # ||x-c||² = ||x||² - 2xc + ||c||²; ||x||² constant per row
            d = -2.0 * (Xj @ C.T) + (C ** 2).sum(1)[None, :]
            codes[:, j] = d.argmin(1)
        return pd.Series(list(codes))

    return df.select(F.col(id_col), enc(F.col(vec_col)).alias("codes"))


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """ADC top-k: each query gets an (m × ksub) table of EXACT subspace
    distances to every centroid (computed driver-side — queries are the
    small side by definition), and every code row scores as m array
    lookups summed in codegen: one corpus scan, no Python in the loop,
    16 bytes read per vector instead of 256. Output (query_id,
    neighbor_id, dist, rank) — rank ties break on neighbor id."""
    spark = codes_df.sparkSession
    m, ksub, dsub = codebooks.shape
    dim = m * dsub
    qid = query_id_col or id_col
    qpdf = (queries.select(F.col(qid).alias("query_id"),
                           _as_double(F.col(vec_col)).alias("_qv"))
            .toPandas())
    rows = []
    # .tolist() renders numpy scalars back to Python natives; the id
    # column keeps its ACTUAL type (string/decimal ids must not be
    # coerced to long — mirror ivf_index_topk's qid_type discipline)
    for qid_val, qv_raw in zip(qpdf["query_id"].tolist(), qpdf["_qv"]):
        qv = np.asarray(qv_raw, dtype=np.float64)
        if normalize:
            nn = np.linalg.norm(qv)
            if nn > 0:
                qv = qv / nn
        lut = np.zeros((m, ksub))
        for j in range(m):
            qj = qv[j * dsub:(j + 1) * dsub]
            lut[j] = ((codebooks[j] - qj[None, :]) ** 2).sum(1)
        rows.append((qid_val, [[float(x) for x in row] for row in lut]))
    qid_type = queries.select(F.col(qid)).schema[0].dataType
    luts = local_df(spark, 
        rows,
        T.StructType([
            T.StructField("query_id", qid_type),
            T.StructField("_lut", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]),
    )
    joined = codes_df.select(F.col(id_col).alias("neighbor_id"), "codes") \
                     .crossJoin(F.broadcast(luts))
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    dist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(
            F.element_at(F.col("_lut"), i),
            F.element_at(F.col("codes"), i) + 1),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc())
    return (joined.select("query_id", "neighbor_id", dist.alias("dist"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dist", "rank"))


def build_ivfpq_index(
    spark,
    corpus: DataFrame,
    path: str,
    nlist: int | None = None,
    m: int = 16,
    ksub: int = 32,
    iters: int = 2,
    pq_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    short_name: str | None = None,
    hash_bucket_num: int | None = None,
    source=None,
):
    """IVF-PQ composed index — the FAISS IndexIVFPQ / IVFADC shape
    (by_residual=False variant): coarse k-means cells give partition
    pruning (probe I/O ~ nprobe/nlist of the index), PQ codes give the
    16-bytes-per-vector row width. The persisted table stores ONLY
    (id, codes) range-partitioned by centroid_id — at 100 TB of raw
    vectors the index is ~1/64 the bytes and a query reads ~nprobe/nlist
    of THAT. Centroids and codebooks ride in table properties as
    driver-resident model state (same envelope as build_ivf_index /
    pq_train). Assignment and encoding happen in ONE pass over the
    corpus (single scan, two Arrow-batched kernels)."""
    import json as _json

    from starlake_spark.table import create_table

    src_version = None
    if source is not None:
        # watermark pinned BEFORE the corpus scan (see build_ivf_index)
        src_version = source.store.latest_version()
        if corpus is None:
            corpus = source.to_df(version=src_version)
    if nlist is None:
        nlist = max(4, _approx_row_count(corpus) // 50)
    if hash_bucket_num is None:
        hash_bucket_num = _adaptive_bucket_num(corpus, nlist)
    ids, M0 = _kmeans_fit(corpus, nlist=nlist, iters=iters,
                          id_col=id_col, vec_col=vec_col)
    M = _normalize_rows(M0)
    books = pq_train(corpus, vec_col, m=m, ksub=ksub, iters=pq_iters,
                     id_col=id_col)
    assigned = (
        pq_encode(corpus, books, id_col, vec_col)
        .join(corpus.select(F.col(id_col),
                            _as_double(F.col(vec_col)).alias("_v")), id_col)
        .withColumn("centroid_id",
                    nearest_centroid_col(F.col("_v"), ids, M, spark))
        .select(id_col, "codes", "centroid_id"))
    # range×hash layout: cell dirs for pruned probes, id keys for MoR
    # merge semantics — makes the codes table MAINTAINABLE
    # (ivfpq_index_sync), same discipline as build_ivf_index
    t = create_table(spark, assigned, path,
                     range_partitions=["centroid_id"],
                     hash_partitions=[id_col],
                     hash_bucket_num=hash_bucket_num,
                     short_name=short_name)
    props_extra = {}
    if source is not None:
        props_extra["ivfpq.source"] = source.store.table_path
        props_extra["ivfpq.synced_version"] = str(src_version)
    t.set_properties({
        **props_extra,
        "ivfpq.centroid_ids": _json.dumps([int(i) for i in ids]),
        "ivfpq.centroids": _json.dumps(M.tolist()),
        "ivfpq.codebooks": _json.dumps(books.tolist()),
        "ivfpq.id_col": id_col,
        "ivfpq.vec_col": vec_col,
        "ivfpq.m": str(m),
        "ivfpq.ksub": str(ksub),
    })
    return t


def ivfpq_topk(
    spark,
    index,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Query a persisted IVF-PQ index: probe each query's ``nprobe``
    nearest cells (manifest partition-pruned read of the CODES table —
    probe I/O ~ nprobe/nlist × 16 bytes/vector), then ADC-score only
    the probed rows: per query an exact (m × ksub) subspace-distance
    LUT, summed JVM-side over each row's codes (pure codegen — the
    pq_topk fold, but over a pruned scan instead of the whole index).

    The query frame materializes to the driver EXACTLY ONCE; the probed
    cell set, the LUTs, and the broadcast join input all derive from
    that single snapshot (the ivf_index_topk single-evaluation
    discipline — see COVERAGE.md "Double-consumed frames")."""
    import json as _json

    cfg = index.info.configuration or {}
    if "ivfpq.centroids" not in cfg:
        raise ValueError(f"{index.store.table_path} is not an IVF-PQ index")
    ids = np.asarray(_json.loads(cfg["ivfpq.centroid_ids"]), dtype=np.int64)
    M = np.asarray(_json.loads(cfg["ivfpq.centroids"]), dtype=np.float64)
    books = np.asarray(_json.loads(cfg["ivfpq.codebooks"]), dtype=np.float64)
    id_col, vec_col = cfg["ivfpq.id_col"], cfg["ivfpq.vec_col"]
    m, ksub, dsub = books.shape
    dim = m * dsub

    qpdf = queries.select(F.col(id_col).alias("query_id"),
                          _as_double(F.col(vec_col)).alias("_qv")).toPandas()
    probe_rows: list[tuple] = []
    cells: set[int] = set()
    if len(qpdf):
        mat = _batch_matrix(qpdf["_qv"], dim)
        top = np.argsort(-(mat @ M.T), axis=1, kind="stable")[:, :nprobe]
        # .tolist() → Python natives; id keeps its actual type (no
        # int() coercion — string/decimal ids, ivf_index_topk parity)
        for qid, qv, row in zip(qpdf["query_id"].tolist(), mat, top):
            nn = np.linalg.norm(qv)
            qn = qv / nn if nn > 0 else qv
            lut = np.zeros((m, ksub))
            for j in range(m):
                qj = qn[j * dsub:(j + 1) * dsub]
                lut[j] = ((books[j] - qj[None, :]) ** 2).sum(1)
            lut_py = [[float(x) for x in r] for r in lut]
            for c in row:
                cid = int(ids[c])
                cells.add(cid)
                probe_rows.append((qid, lut_py, cid))
    qid_type = queries.select(F.col(id_col)).schema[0].dataType
    probes = local_df(spark, 
        probe_rows,
        T.StructType([
            T.StructField("query_id", qid_type),
            T.StructField("_lut", T.ArrayType(T.ArrayType(T.DoubleType()))),
            T.StructField("centroid_id", T.LongType()),
        ]),
    )

    cand = index.to_df(
        partition_filter=lambda d: int(d["centroid_id"]) in cells
    ).select(F.col(id_col).alias("neighbor_id"), "codes", "centroid_id")
    j = cand.join(F.broadcast(probes), on="centroid_id")
    if exclude_self:
        j = j.filter(F.col("query_id") != F.col("neighbor_id"))
    dist = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(m))),
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(
            F.element_at(F.col("_lut"), i),
            F.element_at(F.col("codes"), i) + 1),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc())
    return (j.select("query_id", "neighbor_id", dist.alias("dist"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dist", "rank"))


def ivfpq_index_append(spark, index, new_vectors: DataFrame):
    """O(new) maintenance for a growing corpus: encode + assign NEW
    vectors against the EXISTING codebooks/centroids and append into
    the matching cell partitions — no refit, no rebuild (FAISS add()
    vs train() policy, same as ivf_index_append)."""
    import json as _json

    cfg = index.info.configuration or {}
    ids = np.asarray(_json.loads(cfg["ivfpq.centroid_ids"]), dtype=np.int64)
    M = np.asarray(_json.loads(cfg["ivfpq.centroids"]), dtype=np.float64)
    books = np.asarray(_json.loads(cfg["ivfpq.codebooks"]), dtype=np.float64)
    id_col, vec_col = cfg["ivfpq.id_col"], cfg["ivfpq.vec_col"]
    assigned = (
        pq_encode(new_vectors, books, id_col, vec_col)
        .join(new_vectors.select(F.col(id_col),
                                 _as_double(F.col(vec_col)).alias("_v")),
              id_col)
        .withColumn("centroid_id",
                    nearest_centroid_col(F.col("_v"), ids, M, spark))
        .select(id_col, "codes", "centroid_id"))
    if index.info.hash_cols:
        index.upsert(assigned)  # maintained layout: keyed delta into cells
    else:
        index.write(assigned, mode="append")  # legacy append-only layout
    return index


def ivfpq_index_sync(spark, index, source=None):
    """CDC-maintained IVF-PQ: the codes table follows its SOURCE vector
    table through the coalesced change feed — ``ivf_index_sync`` for
    the 16-byte-per-vector lake shape (same skeleton: preimage vectors
    give the exact old-cell tombstone frame, inserts/postimages
    PQ-encode and delta-upsert into their new cell, watermark after
    both commits; idempotent, O(net keys) per sync)."""
    import json as _json

    import numpy as _np

    cfg = index.info.configuration or {}
    books = _np.asarray(_json.loads(cfg.get("ivfpq.codebooks", "[]")),
                        dtype=_np.float64) \
        if "ivfpq.codebooks" in cfg else None

    def ups(rows, ids, M, id_col, vec_col):
        return (
            pq_encode(rows, books, id_col, vec_col)
            .join(rows.select(F.col(id_col),
                              _as_double(F.col(vec_col)).alias("_v")),
                  id_col)
            .withColumn("centroid_id",
                        nearest_centroid_col(F.col("_v"), ids, M, spark))
            .select(id_col, "codes", "centroid_id"))

    return _index_sync(spark, index, source, "ivfpq", ups)


def topic_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Single-pass topic clustering: nearest-centroid assignment over a
    deterministic seed set (the k lowest-id vectors — the same
    determinism-over-randomness choice as kmeans_centroids' init), the
    corpus-bucketing step a training-data pipeline runs before
    per-topic quota sampling / mixture weighting.

    Cross-engine exactness: cosines are computed as double left-folds
    (identical order in Spark's ``aggregate`` and DuckDB's
    ``list_reduce``), rounded to 6 dp BEFORE the argmax, ties broken by
    lowest centroid id, and the per-cluster mean is a DECIMAL sum of
    the rounded values — so assignment and stats hash-match an
    independent SQL oracle. Scale shape: the k centroids broadcast;
    one projection computes all k cosines per row (no shuffle), one
    k-group aggregate; nothing quadratic, no UDF.
    """
    cents = (df.orderBy(F.col(id_col).asc()).limit(k)
               .select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv")))
    scored = (df.select(id_col, vec_col)
                .crossJoin(F.broadcast(cents))
                .select(
                    F.col(id_col),
                    F.col("_cid"),
                    F.round(cosine(_as_double(F.col(vec_col)),
                                   _as_double(F.col("_cv"))), 6).alias("_cos"),
                ))
    best = (scored.groupBy(id_col)
            .agg(F.max(F.struct(
                F.col("_cos"),
                (-F.col("_cid")).alias("_neg"),
                F.col("_cid"))).alias("_b")))
    return (best.select(
                F.col("_b._cid").alias("cluster_id"),
                F.col("_b._cos").alias("_cos"))
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.round(
                     F.sum(F.col("_cos").cast("decimal(16,6)"))
                     .cast("double") / F.count(F.lit(1)), 6)
                 .alias("avg_cos"))
            .orderBy("cluster_id"))


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    eval_id_col: str | None = None,
    eval_vec_col: str | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of the n-gram ``dedup.decontaminate``: drop corpus rows
    whose cosine similarity to ANY eval/benchmark vector reaches
    ``threshold`` (paraphrased or re-tokenized eval leakage that shares
    no exact shingles still lands next to its source in embedding
    space). Returns the KEPT corpus rows.

    Scale posture: eval sets are tiny next to a training corpus — the
    eval side broadcasts as one normalized numpy matrix and the corpus
    streams through ``cosine_pairs_broadcast``'s Arrow kernel (one
    (batch × dim) @ (dim × n_eval) matmul per batch). Nothing quadratic
    leaves an executor, the corpus is never collected, and the
    hit-id anti-join broadcasts (hits ⊆ corpus rows near an eval
    vector — a sliver). Zero-norm vectors score cosine 0.0 on both
    sides, matching the ``cosine`` Column expression.
    """
    eval_id_col = eval_id_col or id_col
    eval_vec_col = eval_vec_col or vec_col
    small = eval_df.select(
        F.col(eval_id_col).alias("_eid"),
        _as_double(F.col(eval_vec_col)).alias("_va"))
    big = corpus.select(
        F.col(id_col).alias("_cid"),
        _as_double(F.col(vec_col)).alias("_vb"))
    hits = cosine_pairs_broadcast(
        small, big, threshold, small_id="_eid", corpus_id="_cid",
        vec_col_small="_va", vec_col_corpus="_vb", require_lt=False,
        exclude_same_id=False,  # unrelated id spaces: an eval row's id
        # coinciding with a corpus id must not exempt that corpus row
    ).select(F.col("_cid").alias(id_col)).distinct()
    return corpus.join(F.broadcast(hits), id_col, "left_anti")
