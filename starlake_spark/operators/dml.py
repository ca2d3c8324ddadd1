"""DML: upsert / update / delete / compaction / overwrite / cleanup.

Reference parity (SURVEY §2.6): commands/UpsertCommand.scala:44-195,
UpdateCommand.scala:39-154, DeleteCommand.scala:41-147,
CompactionCommand.scala:38-185, WriteIntoTable.scala:44-146,
CleanupCommand.scala:36-233 — re-expressed as DataFrame rewrites plus
manifest transactions.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from starlake_spark import merge_ops as mo
from starlake_spark.local import local_df
from starlake_spark.meta import (DataFileInfo, ManifestStore, TableInfo,
                                 decode_range_value)
from starlake_spark.operators import predicate as P, reader, writer

# reference defaults (StarLakeSQLConf.scala:41-58)
DELTA_FILE_COMPACT_TRIGGER = 5
CLEANUP_RETENTION_S = 5 * 3600
CDC_DIR = "_cdc"


def _to_column(cond) -> Column:
    return F.expr(cond) if isinstance(cond, str) else cond


_WIDEN_CHAINS = (
    # reference SchemaUtils.mergeSchemas upcast families
    # (SchemaUtilsSuite.scala:1069-1118): a write with a strictly wider
    # type in the same family WIDENS the declared schema; parquet's
    # reader promotes the narrower on-disk files transparently
    [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()],
    [T.FloatType(), T.DoubleType()],
)


def _widened(cur: T.DataType, new: T.DataType) -> T.DataType | None:
    """The wider of two types when both sit in one upcast family and
    ``new`` is strictly wider; else None (no widening)."""
    for chain in _WIDEN_CHAINS:
        if cur in chain and new in chain:
            if chain.index(new) > chain.index(cur):
                return new
            return None
    return None


def maybe_merge_schema(df: DataFrame, store: ManifestStore) -> TableInfo:
    return merge_source_schema(df.schema, store)


def merge_source_schema(src_schema: T.StructType,
                        store: ManifestStore,
                        allow_merge: bool | None = None) -> TableInfo:
    """Concurrency wrapper around :func:`_merge_source_schema_once`:
    update_table_info CAS-checks against concurrent metadata updates
    ('Schema has been changed for table', reference takeSchemaLock), so
    two writers auto-merging at once race benignly — the loser re-reads
    and re-merges; if its columns are already present (the usual case:
    both merged the SAME addition) the retry is a no-op read."""
    from starlake_spark.meta import MetaError

    last: MetaError | None = None
    for _ in range(10):
        try:
            return _merge_source_schema_once(src_schema, store,
                                             allow_merge=allow_merge)
        except MetaError as e:
            if "Schema has been changed" not in str(e):
                raise
            last = e
    raise last


def _merge_source_schema_once(src_schema: T.StructType,
                              store: ManifestStore,
                              allow_merge: bool | None = None) -> TableInfo:
    """Schema auto-merge on write: new source columns are appended as
    nullable fields (reference ImplicitMetadataOperation.scala:66-165 +
    SchemaUtils.mergeSchemas); a source column STRICTLY WIDER in the
    same numeric family upcasts the declared type (byte→short→int→long,
    float→double — SchemaUtilsSuite 'mergeSchemas performs upcast'),
    so a long value never overflows through a silent down-cast.
    Narrower or equal source types keep the declared type (source is
    cast up on write); NullType columns never enter the schema."""
    info = store.table_info(refresh=True)
    schema = T.StructType.fromJson(json.loads(info.schema_json))
    # case-insensitive matching, declared case preserved (reference
    # CaseSensitivitySuite "schema merging is case insenstive but
    # preserves original case": appending a 'Foo' frame to a table
    # declaring 'foo' is the SAME column, never a new one)
    by_lower = {f.name.lower(): f.name for f in schema.fields}
    widened = {}
    for f in src_schema.fields:
        decl = by_lower.get(f.name.lower())
        if decl is not None:
            cur = schema[decl].dataType
            w = _widened(cur, f.dataType)
            if w is not None:
                widened[decl] = w
    merge_ok = (allow_merge if allow_merge is not None else
                info.configuration.get("schema.autoMerge.enabled",
                                       "true") == "true")
    if widened:
        if not merge_ok:
            raise ValueError(
                f"source widens column types {sorted(widened)}; schema "
                "evolution is disabled — pass option mergeSchema=true "
                "(or table property schema.autoMerge.enabled=true)")
        if info.hash_cols and set(widened) & set(info.hash_cols):
            raise ValueError(
                f"cannot widen hash partition columns "
                f"{sorted(set(widened) & set(info.hash_cols))}: bucket "
                "assignment hashes the stored type — rewrite the table")
        schema = T.StructType([
            T.StructField(f.name, widened.get(f.name, f.dataType),
                          f.nullable, f.metadata)
            for f in schema.fields])
    # a renamed-away name must not silently fork a NEW column: the
    # writer almost certainly predates the rename and means the
    # renamed column — reject loudly instead of splitting the data
    renamed_away = {a.lower(): logical
                    for k, v in (info.configuration or {}).items()
                    if k.startswith("aliases.")
                    for logical in [k[len("aliases."):]]
                    for a in v.split(",") if a}
    added = False
    for f in src_schema.fields:
        if f.name.lower() not in by_lower \
                and not isinstance(f.dataType, T.NullType):
            if f.name.lower() in renamed_away:
                raise ValueError(
                    f"source column '{f.name}' was renamed to "
                    f"'{renamed_away[f.name.lower()]}' — write the new name")
            schema = schema.add(T.StructField(f.name, f.dataType, True))
            by_lower[f.name.lower()] = f.name
            added = True
    if added and not merge_ok:
        raise ValueError(
            "source has new columns; schema evolution is disabled — pass "
            "option mergeSchema=true (or table property "
            "schema.autoMerge.enabled=true) "
            "(SchemaEnforcementSuite 'reject schema changes')")
    if added or widened:
        info.schema_json = schema.json()
        store.update_table_info(info)
    return info


def _maybe_auto_compact(spark: SparkSession, store: ManifestStore,
                        info: TableInfo) -> None:
    """Auto-compaction (reference trigger: delta file count >= 5,
    StarLakeSQLConf.scala:41-45 via CompactionCommand.scala:70-109):
    caps the MoR union fan-out — without it, every un-compacted delta
    commit (upsert, delta UPDATE, tombstone DELETE) adds a plan branch
    to _merge_scan, and a table with hundreds of delta commits plans
    hundreds of union arms. Opt out per table with
    compaction.auto=false.

    Even with compaction.auto=false a hard backstop remains: once any
    partition accumulates >= compaction.maxDeltas delta files
    (default 64; 0 disables), a forced compaction runs with a warning —
    a table upserted hundreds of times without OPTIMIZE would otherwise
    plan hundreds of union arms and regress scans unboundedly. The
    forced compaction itself chunk-folds long histories via the
    part-merge guard (_part_merge_partition), so even the catch-up pass
    never plans more than compaction.part.merge.max arms at once."""
    from starlake_spark.meta import CommitConflictError

    conf = info.configuration or {}
    if conf.get("compaction.auto", "true") == "true":
        try:
            compact(spark, store, force=False)
        except CommitConflictError:
            # maintenance, not the user's write: a persistently-hot
            # partition just compacts on a later delta commit instead
            pass
        return
    try:
        cap = int(conf.get("compaction.maxDeltas", "64"))
    except ValueError:
        cap = 64
    if cap <= 0:
        return
    worst = max((ps.delta_file_num for ps in
                 store.snapshot().partitions.values()), default=0)
    if worst >= cap:
        import warnings

        warnings.warn(
            f"table {store.table_path}: a partition reached {worst} delta "
            f"files with compaction.auto=false — forcing compaction "
            f"(raise/disable via table property compaction.maxDeltas)",
            stacklevel=3)
        try:
            compact(spark, store, force=True)
        except CommitConflictError:
            pass


def upsert(spark: SparkSession, store: ManifestStore, source: DataFrame,
           use_delta: bool = True,
           txn_app_id: str | None = None,
           txn_version: int | None = None,
           condition: str | None = None) -> None:
    """MoR delta upsert (default) or CoW full-outer rewrite.

    Delta path (UpsertCommand.scala:107-111): write the source as
    key-sorted bucket files at a new commit version, expire nothing;
    readers collapse versions per key (reader._merge_scan). O(source)
    write cost — the 100 TB-friendly path. ``condition`` is ignored
    here, as in the reference (UpsertCommand.scala:106-111 — the delta
    write touches no existing file, so there is nothing to scope).

    CoW path (UpsertCommand.scala:112-153, USE_DELTA_FILE=false):
    ``target FULL OUTER JOIN source`` on the merge keys with
    ``coalesce(source.c, target.c)`` per overlapping column — note the
    deliberate semantic difference pinned in SURVEY §7(c): explicit
    source NULLs do *not* win here, unlike the delta path.

    ``condition`` (CoW only, range-partition predicate — reference
    conditionString + targetOnlyPredicates, UpsertCommand.scala:114-124):
    scopes the rewrite to matching range partitions — only their files
    join, only they are expired, and the source is filtered to the same
    predicate (source rows outside it are dropped, the reference's
    columnFilter). On a RANGE-PARTITIONED table the CoW path REQUIRES a
    condition unless the table sets ``upsert.allowFullTable=true``
    (StarLakeErrors.scala:570 upsertConditionNotFoundException — a
    full-table CoW rewrite at 100 TB is exactly the accident this
    guard exists to stop).
    """
    info = store.table_info()
    if not info.hash_cols:
        raise ValueError("upsert requires hash partition columns "
                         "(UpsertCommand.scala:74-76)")
    source = writer.align_case(source, info)
    for c in info.range_cols:
        # generated range columns are derived by normalize_for_write
        if c not in source.columns and \
                f"generated.{c}" not in (info.configuration or {}):
            raise ValueError(f"upsert source must carry range column '{c}' "
                             "(UpsertCommand.scala:83-88)")
    info = maybe_merge_schema(source, store)

    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    txn_key = f"txn:{txn_app_id}" if txn_app_id is not None else None
    if txn_key is not None:
        if not use_delta:
            raise ValueError("idempotent upsert requires the delta path")
        if store.snapshot().streaming.get(txn_key, -1) >= txn_version:
            return

    if use_delta:
        from starlake_spark.meta import DuplicateTxnError

        txn = store.new_transaction()
        txn.commit_type = "delta"
        files = writer.write_files(spark, source, info, txn, is_base=False,
                                   dedup_batch=True)
        txn.add_files(files)
        if txn_key is not None:
            txn.set_streaming_batch(txn_key, txn_version)
            try:
                snap = store.commit(txn)
            except DuplicateTxnError:
                return  # concurrent retry already landed this version
        else:
            snap = store.commit(txn)
        _maybe_log_cdc(spark, store, info, files, snap.version)
        _maybe_auto_compact(spark, store, info)
        return

    keys = info.range_cols + info.hash_cols
    allow_full = (info.configuration or {}).get(
        "upsert.allowFullTable", "false").lower() == "true"
    if info.range_cols and condition is None and not allow_full:
        raise ValueError(
            "Some condition for range partition should be declared to "
            "prevent full table scan when upsert "
            "(StarLakeErrors.scala:570); pass condition=..., or set table "
            "property upsert.allowFullTable=true")
    matching: set[str] | None = None
    if condition is not None:
        _require_range_only_predicate(info, condition)
        matching = _partitions_matching(spark, store, info, condition)
        target = reader.scan(spark, store, partition_filter=condition)
    else:
        target = reader.scan(spark, store)
    src = writer.normalize_for_write(source, info, enforce_schema=False)
    # CoW dedups the SOURCE before the join (post-join, input order is
    # gone); the standalone window's shuffle is noise next to the rewrite
    src = writer.dedup_batch_last_wins(src, info)
    if condition is not None:
        src = src.filter(F.expr(condition))
    t = target.alias("t")
    s = src.alias("s")
    joined = t.join(s, on=keys, how="full")
    out_cols = []
    schema = T.StructType.fromJson(json.loads(info.schema_json))
    for f in schema.fields:
        if f.name in keys:
            out_cols.append(F.col(f.name))
        elif f.name in src.columns and f.name in target.columns:
            out_cols.append(F.coalesce(F.col(f"s.{f.name}"), F.col(f"t.{f.name}")).alias(f.name))
        elif f.name in src.columns:
            out_cols.append(F.col(f"s.{f.name}").alias(f.name))
        else:
            out_cols.append(F.col(f"t.{f.name}").alias(f.name))
    result = joined.select(*out_cols)
    if matching is None:
        _rewrite_all(spark, store, info, result)
        return
    txn = store.new_transaction()
    txn.commit_type = "write"
    files = writer.write_files(spark, result, info, txn, is_base=True)
    for rv in matching:
        txn.expire_partition(rv)
    txn.add_files(files)
    store.commit(txn)


def _require_range_only_predicate(info: TableInfo, condition: str) -> None:
    """The scoped-CoW condition may reference RANGE columns only — the
    reference silently discards non-range conjuncts
    (targetOnlyPredicates filter, UpsertCommand.scala:114-118); raising
    beats silently widening the rewrite scope."""
    import re as _re

    body = _re.sub(r"'[^']*'", "''", condition)
    words = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", body))
    schema = T.StructType.fromJson(json.loads(info.schema_json))
    bad = [c for c in schema.fieldNames()
           if c in words and c not in info.range_cols]
    if bad:
        raise ValueError(
            f"upsert condition may reference range partition columns "
            f"only; non-range columns {bad} are not usable for scoping "
            f"(UpsertCommand.scala:114-118 keeps range-only conjuncts)")


def merge_into(
    spark: SparkSession,
    store: ManifestStore,
    source: DataFrame,
    condition: str,
    matched_update: dict | str | None = None,
    matched_delete: bool = False,
    not_matched_insert: dict | str | None = None,
    target_alias: str = "t",
    source_alias: str = "s",
    not_matched_by_source_update: dict | None = None,
    not_matched_by_source_delete: bool = False,
) -> None:
    """ANSI-style MERGE INTO (beyond the reference, whose surface stops
    at upsert): arbitrary ON condition, WHEN MATCHED THEN UPDATE SET /
    DELETE, WHEN NOT MATCHED THEN INSERT, WHEN NOT MATCHED BY SOURCE
    THEN UPDATE SET / DELETE (Delta/SQL:2023 by-source clauses — the
    sync-to-source shape: target rows absent from the source are
    flagged or dropped in the same statement).

    Semantics are the standard ones: target rows with a source match
    are updated (or deleted), unmatched source rows are inserted,
    unmatched target rows pass through; a target row matching MORE THAN
    ONE source row is an error (nondeterministic update — the Delta/SQL
    standard rule, enforced with one cheap duplicate probe).

    ``matched_update`` / ``not_matched_insert``: "*" = take source
    columns by name; or {column: sql_expr} where expressions may
    reference both aliases (default ``t``/``s``).

    Execution is one full-outer join + projection + CoW rewrite — the
    same shape as the CoW upsert path. At scale prefer ``upsert`` for
    pure key-equality merges (delta commit, O(source) write); MERGE is
    the general tool where the condition or actions don't fit MoR.
    """
    if (matched_update is None and not matched_delete
            and not_matched_insert is None
            and not_matched_by_source_update is None
            and not not_matched_by_source_delete):
        raise ValueError("MERGE needs at least one WHEN clause")
    if not_matched_by_source_update and not_matched_by_source_delete:
        raise ValueError("MERGE: NOT MATCHED BY SOURCE cannot both "
                         "UPDATE and DELETE")
    info = maybe_merge_schema(source, store) if not_matched_insert else store.table_info()
    schema = T.StructType.fromJson(json.loads(info.schema_json))
    src_cols = set(source.columns)

    target = (reader.scan(spark, store)
              .withColumn("_t_rid", F.monotonically_increasing_id())
              .alias(target_alias))
    src = source.withColumn("_s_mark", F.lit(1)).alias(source_alias)
    joined = target.join(src, F.expr(condition), "full_outer")
    matched = F.col("_t_rid").isNotNull() & F.col("_s_mark").isNotNull()
    s_only = F.col("_t_rid").isNull()

    dup = (joined.filter(matched).groupBy("_t_rid")
           .agg(F.count(F.lit(1)).alias("_n")).filter(F.col("_n") > 1)
           .limit(1).count())
    if dup:
        raise ValueError(
            "MERGE: a target row matched multiple source rows — "
            "nondeterministic update (refine the ON condition)")

    def _tcol(c):
        return F.col(f"{target_alias}.{c}")

    def _scol(c):
        return F.col(f"{source_alias}.{c}")

    t_only = F.col("_t_rid").isNotNull() & F.col("_s_mark").isNull()
    keep = F.lit(True)
    if matched_delete:
        keep = keep & ~matched
    if not_matched_insert is None:
        keep = keep & ~s_only
    if not_matched_by_source_delete:
        keep = keep & ~t_only

    out_cols = []
    for f in schema.fields:
        c = f.name
        t_val = _tcol(c)
        upd = t_val
        if matched_update == "*":
            upd = _scol(c) if c in src_cols else t_val
        elif isinstance(matched_update, dict) and c in matched_update:
            upd = F.expr(matched_update[c])
        ins = F.lit(None)
        if not_matched_insert == "*":
            ins = _scol(c) if c in src_cols else F.lit(None)
        elif isinstance(not_matched_insert, dict):
            ins = F.expr(not_matched_insert[c]) if c in not_matched_insert else F.lit(None)
        t_upd = t_val  # the otherwise-branch is exactly the t_only rows
        if (isinstance(not_matched_by_source_update, dict)
                and c in not_matched_by_source_update):
            t_upd = F.expr(not_matched_by_source_update[c])
        out_cols.append(
            F.when(s_only, ins).when(matched, upd).otherwise(t_upd)
            .cast(f.dataType).alias(c))
    result = joined.filter(keep).select(*out_cols)
    _rewrite_all(spark, store, info, result)


def _rewrite_all(spark: SparkSession, store: ManifestStore, info: TableInfo,
                 df: DataFrame) -> None:
    txn = store.new_transaction()
    files = writer.write_files(spark, df, info, txn, is_base=True)
    for rv in txn.read_snapshot.partitions:
        txn.expire_partition(rv)
    txn.add_files(files)
    store.commit(txn)


def _touched_partitions(spark, store, info, cond: Column,
                        cond_sql: str | None = None) -> list[str]:
    """Range values of partitions containing rows matching cond.
    ``cond_sql`` (the predicate's SQL text, when the caller had one)
    lets the scan prune partitions and skip files via footer stats
    BEFORE the detection pass — pure I/O savings, the Column filter
    still decides membership."""
    if not info.range_cols:
        return [""]
    df = reader.scan(spark, store, where=cond_sql)
    rows = (
        df.filter(cond)
        .select(*info.range_cols)
        .distinct()
        .collect()
    )
    from starlake_spark.meta import encode_range_value

    return [encode_range_value(info.range_cols, [r[c] for c in info.range_cols]) for r in rows]


def _rewrite_rows(spark: SparkSession, store: ManifestStore, cond: Column,
                  transform, commit_type: str = "update",
                  cond_sql: str | None = None) -> None:
    """Shared 3-case structure of UpdateCommand/DeleteCommand:

    * hash tables: rewrite whole candidate partitions (the reference
      also rewrites all candidate files for hash tables,
      UpdateCommand.scala:96-103) — MoR deltas collapse in the process.
    * non-hash tables: touched-file detection via ``input_file_name()``
      and rewrite of only those files.

    ``cond_sql`` accelerates only the DETECTION scans (stats skipping).
    The rewrite scans deliberately never use it: a hash-path rewrite
    reads every row of each touched partition (non-matching rows must
    be rewritten unchanged, and the whole partition is expired), so
    skipping a file there would drop its rows from the table.
    """
    info = store.table_info()
    snap = store.snapshot()

    if info.hash_cols:
        touched = set(_touched_partitions(spark, store, info, cond, cond_sql))
        if not touched:
            return
        part_filter = (lambda d: True) if touched == {""} else (
            lambda d, t=touched: ",".join(f"{k}={v}" for k, v in d.items()) in t
        )
        current = reader.scan(spark, store, partition_filter=part_filter)
        rewritten = transform(current, cond)
        txn = store.new_transaction()
        txn.commit_type = commit_type
        files = writer.write_files(spark, rewritten, info, txn, is_base=True)
        for rv in touched:
            if rv in snap.partitions:
                txn.expire_partition(rv)
        txn.add_files(files)
        store.commit(txn)
        return

    # Non-hash path: find the exact files containing matches (stats
    # skipping narrows the candidate scan; the rowid fid column — which
    # unlike input_file_name() survives the DV anti-join — decides).
    current = reader.scan(spark, store, where=cond_sql, with_rowid=True)
    touched_files = {
        r[0]
        for r in current.filter(cond)
        .select(reader.DV_FID)
        .distinct()
        .collect()
    }
    if not touched_files:
        return
    # manifest paths are table-relative, except shallow-clone refs
    # (absolute into the source) — admit both spellings
    rel_touched = {
        os.path.relpath(p, store.table_path) for p in touched_files
    } | touched_files
    by_partition: dict[str, list] = {}
    full_parts: set[str] = set()
    dv_infos: list = []
    for rv, ps in snap.partitions.items():
        hit = [f for f in ps.files if f.path in rel_touched]
        if not hit:
            continue
        if ps.dv_files:
            # DV'd partitions rewrite WHOLESALE: a partial-file rewrite
            # would leave vectors whose position counts no longer match
            # live files (metadata count() would overcorrect) — the
            # full rewrite reads the DV-filtered view and the commit's
            # expire_partition clears the vectors (materialization).
            by_partition[rv] = list(ps.files)
            full_parts.add(rv)
            dv_infos.extend(ps.dv_files)
        else:
            by_partition[rv] = hit
    all_hit = [f for fs in by_partition.values() for f in fs]
    sub = reader._plain_scan(spark, store, info, all_hit, dv_infos=dv_infos)
    rewritten = transform(sub, cond)
    txn = store.new_transaction()
    txn.commit_type = commit_type
    files = writer.write_files(spark, rewritten, info, txn, is_base=False)
    for rv in full_parts:
        txn.expire_partition(rv)
    txn.expire_files([f.path for rv, fs in by_partition.items()
                      if rv not in full_parts for f in fs])
    txn.add_files(files)
    store.commit(txn)


def _dv_dml_default(info) -> bool:
    """True when dml.dv.enabled=true AND the table is eligible for the
    deletion-vector DELETE/UPDATE paths (non-hash — hash tables have
    the key-tombstone delta paths instead)."""
    cfg = info.configuration or {}
    return cfg.get("dml.dv.enabled", "false") == "true" and not info.hash_cols


def _write_dv_sidecars(spark, store, info, txn, dv_df) -> list:
    """Write one commit's deletion-vector sidecar parquets
    (``_star_meta/dv/<commit_id>/``, hive-partitioned by range cols so
    each partition's positions attach to its own manifest entry) and
    return their DataFileInfo rows ([] when nothing matched — caller
    skips the commit). num_rows (exact deleted-position counts, the
    basis of metadata-only count()) harvested from the footers."""
    import pyarrow.parquet as _pq

    out_dir = os.path.join(store.table_path, "_star_meta", "dv",
                           txn.commit_id)
    w = dv_df.write.mode("overwrite").format("parquet")
    if info.range_cols:
        w = w.partitionBy(*info.range_cols)
    w.save(out_dir)
    infos = []
    total = 0
    for fp in writer._list_written_files(out_dir):
        try:
            n = _pq.ParquetFile(fp).metadata.num_rows
        except Exception:
            n = -1
        total += max(n, 0)
        infos.append(DataFileInfo(
            path=os.path.relpath(fp, store.table_path),
            range_value=writer._range_value_of(fp, out_dir, info.range_cols),
            bucket_id=-1,
            size=os.path.getsize(fp),
            write_version=-1,
            is_base_file=False,
            exist_cols=[reader.DV_FID, reader.DV_POS],
            num_rows=n,
        ))
    if not infos or total == 0:
        shutil.rmtree(out_dir, ignore_errors=True)
        return []
    return infos


def _dv_delete(spark: SparkSession, store: ManifestStore, condition) -> None:
    """DELETE via deletion vectors (Delta DV analog, beyond the
    reference): record the (file, row-position) identity of matched
    rows in a sidecar instead of rewriting any data file — write cost
    O(matched rows), zero data bytes copied, the 100 TB shape for
    selective deletes on non-hash tables (the CoW path re-writes every
    touched FILE to drop a few rows). Scans anti-join the vectors;
    compaction materializes them. Positions are captured through the
    DV-filtered snapshot scan itself, so repeated deletes never record
    a position twice and commit-time partition-version conflicts
    invalidate positions computed against rewritten files (retried
    here, Delta's OCC discipline)."""
    from starlake_spark.meta import CommitConflictError

    cond = _to_column(condition)
    cond_sql = condition if isinstance(condition, str) else None
    info = store.table_info()
    for attempt in range(3):
        txn = store.new_transaction()
        txn.commit_type = "delete_dv"
        df = reader.scan(spark, store, snapshot=txn.read_snapshot,
                         where=cond_sql, with_rowid=True)
        dv = (df.filter(F.coalesce(cond, F.lit(False)))
              .select(reader.DV_FID, reader.DV_POS, *info.range_cols))
        infos = _write_dv_sidecars(spark, store, info, txn, dv)
        if not infos:
            return
        txn.add_dvs.extend(infos)
        try:
            store.commit(txn)
            return
        except CommitConflictError:
            for d in infos:
                try:
                    os.unlink(os.path.join(store.table_path, d.path))
                except FileNotFoundError:
                    pass
            if attempt == 2:
                raise


def _dv_update(spark: SparkSession, store: ManifestStore, cond,
               sets: dict, cond_sql: str | None) -> None:
    """UPDATE via deletion vectors: one commit marks the matched rows'
    old positions deleted AND appends their updated images as new
    files — O(changed rows), never a touched-file rewrite. The
    non-hash twin of the hash tables' delta UPDATE."""
    from starlake_spark.meta import CommitConflictError

    info = store.table_info()
    for attempt in range(3):
        txn = store.new_transaction()
        txn.commit_type = "update_dv"
        df = reader.scan(spark, store, snapshot=txn.read_snapshot,
                         where=cond_sql, with_rowid=True)
        matched = df.filter(F.coalesce(cond, F.lit(False)))
        dv = matched.select(reader.DV_FID, reader.DV_POS, *info.range_cols)
        infos = _write_dv_sidecars(spark, store, info, txn, dv)
        if not infos:
            return
        post = matched.drop(reader.DV_FID, reader.DV_POS)
        for c, e in sets.items():
            post = post.withColumn(c, e)
        files = writer.write_files(spark, post, info, txn, is_base=False)
        txn.add_dvs.extend(infos)
        txn.add_files(files)
        try:
            store.commit(txn)
            return
        except CommitConflictError:
            for d in infos:
                try:
                    os.unlink(os.path.join(store.table_path, d.path))
                except FileNotFoundError:
                    pass
            if attempt == 2:
                raise


def _maybe_dv_compact(spark, store: ManifestStore, info: TableInfo) -> None:
    """DV accumulation backstop (the auto-compaction analog for
    deletion vectors): once a partition carries >= compaction.dv.max
    sidecar commits (default 10, 0 disables), force-compact it — the
    rewrite reads the DV-filtered view and clears the vectors. Scans
    pay one anti-join regardless of DV count, so the trigger guards
    sidecar-file sprawl and the dead-row fraction, not plan shape."""
    from starlake_spark.meta import CommitConflictError

    try:
        cap = int((info.configuration or {}).get("compaction.dv.max", "10"))
    except ValueError:
        cap = 10
    if cap <= 0:
        return
    snap = store.snapshot()
    for rv, ps in snap.partitions.items():
        if len(ps.dv_files) >= cap:
            try:
                compact(spark, store, force=True,
                        partition=rv if info.range_cols else None)
            except CommitConflictError:
                pass
            if not info.range_cols:
                return


def _delta_dml_default(info) -> bool:
    """True when dml.delta.enabled=true AND the table is eligible for
    the delta UPDATE/DELETE paths (hash-keyed, no declared merge ops) —
    ineligible tables silently keep the rewrite path so the property is
    safe to set table-wide."""
    cfg = info.configuration or {}
    return (cfg.get("dml.delta.enabled", "false") == "true"
            and bool(info.hash_cols)
            and not cfg.get("compaction.merge_operators"))


def update(spark: SparkSession, store: ManifestStore, condition,
           set_exprs: dict, use_delta: bool = False,
           use_dv: bool = False) -> None:
    """UPDATE: per column ``when(cond, expr).otherwise(col)`` on touched
    data (UpdateCommand.scala:39-154).

    ``use_delta=True`` (beyond the reference): instead of rewriting
    every touched file, read ONLY the matched rows, apply the SET
    expressions, and commit them as a delta upsert — the MoR collapse
    makes the new versions win. Write cost O(matched rows), not
    O(touched files); the scan-side read still prunes by partition and
    footer stats. Hash tables only (the delta path needs keys);
    rejected on merge-operator tables, where re-written full rows would
    be MERGED with (not replace) their history (a sum column would
    double-count)."""
    cond = _to_column(condition) if condition is not None else F.lit(True)
    info = store.table_info()
    # canonicalize SET keys to the table's declared casing (Spark's
    # case-insensitive resolver; reference CaseSensitivitySuite):
    # withColumn('VALUE', ...) on a table with 'value' would otherwise
    # add a case-twin column and break downstream resolution
    import json as _json

    from pyspark.sql import types as _T

    schema = _T.StructType.fromJson(_json.loads(store.table_info().schema_json))
    canon = {f.name.lower(): f.name for f in schema.fields}
    sets = {canon.get(c.lower(), c): _to_column(e) for c, e in set_exprs.items()}
    # nested-field SET (reference UpdateSuiteBase 'nested data support'):
    # 'meta.a = expr' rewrites the struct via withField — previously the
    # dotted key fell through as a flat column name and the update was
    # SILENTLY dropped on write normalization
    for path in [c for c in list(sets) if "." in c]:
        root, rest = path.split(".", 1)
        root = canon.get(root.lower(), root)
        if root not in canon.values() or \
                not isinstance(schema[root].dataType, _T.StructType):
            raise ValueError(
                f"cannot update '{path}': '{root}' is not a struct column")
        base = sets.get(root, F.col(root))
        sets[root] = base.withField(rest, sets.pop(path))
    for c in sets:
        if c not in canon.values():
            raise ValueError(f"unknown column '{c}' in UPDATE SET")
        if c in info.range_cols + info.hash_cols:
            raise ValueError(f"cannot update partition/hash column '{c}'")

    # Deletion-vector UPDATE (non-hash tables): one commit marks old
    # positions deleted and appends the updated images — O(changed
    # rows), the non-hash twin of the hash delta UPDATE below.
    if use_dv or (not use_delta and _dv_dml_default(info)):
        if info.hash_cols:
            raise ValueError(
                "deletion-vector update is for non-hash tables; hash "
                "tables use the delta path (use_delta=True)")
        _dv_update(spark, store, cond, sets,
                   condition if isinstance(condition, str) else None)
        _maybe_dv_compact(spark, store, info)
        return
    # table property dml.delta.enabled=true opts SQL/API callers into the
    # delta paths wherever ELIGIBLE (hash table, no merge operators) —
    # the soft-default analog of the reference's USE_DELTA_FILE conf
    if not use_delta and _delta_dml_default(info):
        use_delta = True
    if use_delta:
        if not info.hash_cols:
            raise ValueError("delta update requires hash partition columns; "
                             "use the rewrite path for range-only tables")
        if (info.configuration or {}).get("compaction.merge_operators"):
            raise ValueError(
                "delta update is not supported on tables with declared "
                "merge operators — re-written rows would be merged with "
                "their history instead of replacing it")
        matched = reader.scan(spark, store).filter(F.coalesce(cond, F.lit(False)))
        for c, e in sets.items():
            matched = matched.withColumn(c, e)
        txn = store.new_transaction()
        txn.commit_type = "delta"
        files = writer.write_files(spark, matched, info, txn, is_base=False)
        txn.add_files(files)
        snap = store.commit(txn)
        _maybe_log_cdc(spark, store, info, files, snap.version)
        _maybe_auto_compact(spark, store, info)
        return

    def transform(df: DataFrame, cnd: Column) -> DataFrame:
        for c, e in sets.items():
            df = df.withColumn(c, F.when(cnd, e).otherwise(F.col(c)))
        return df

    _rewrite_rows(spark, store, cond, transform,
                  cond_sql=condition if isinstance(condition, str) else None)


def delete(spark: SparkSession, store: ManifestStore, condition=None,
           use_delta: bool = False, use_dv: bool = False) -> None:
    """DELETE: keep rows where NOT coalesce(cond, false)
    (DeleteCommand.scala:41-147).

    ``use_delta=True`` (beyond the reference — the deletion-vector /
    merge-on-read DELETE shape): instead of rewriting every touched
    file, write a TOMBSTONE delta file holding just the matched keys
    (flag column true, data columns explicit nulls). The MoR collapse
    filters tombstoned keys at scan time; a later upsert resurrects the
    key with insert-after-delete semantics (unset columns are null).
    Write cost is O(deleted keys), not O(touched files) — the 100 TB
    shape for selective deletes on huge hash tables. Compaction
    materializes the deletion and drops the tombstones. Hash tables
    only; rejected when the table declares merge operators (a tombstone
    would feed sum/concat-style ops a spurious null version)."""
    # Deletion-vector path (non-hash tables — Delta DV analog): opt in
    # per call (use_dv=True) or table-wide (dml.dv.enabled=true).
    if condition is not None and (
            use_dv or (not use_delta
                       and _dv_dml_default(store.table_info()))):
        info = store.table_info()
        if info.hash_cols:
            raise ValueError(
                "deletion-vector delete is for non-hash tables; hash "
                "tables use the key-tombstone delta path (use_delta=True)")
        _dv_delete(spark, store, condition)
        _maybe_dv_compact(spark, store, info)
        return
    if not use_delta and condition is not None and _delta_dml_default(store.table_info()):
        use_delta = True
    if use_delta and condition is not None:
        info = store.table_info()
        if not info.hash_cols:
            raise ValueError("delta delete requires hash partition columns; "
                             "use the rewrite path for range-only tables")
        if (info.configuration or {}).get("compaction.merge_operators"):
            raise ValueError(
                "delta delete is not supported on tables with declared "
                "merge operators — the tombstone's null version would be "
                "merged; use the rewrite path (use_delta=False)")
        cond = _to_column(condition)
        keys = info.range_cols + info.hash_cols
        tomb_keys = (reader.scan(spark, store)
                     .filter(F.coalesce(cond, F.lit(False)))
                     .select(*keys))
        _commit_tombstones(spark, store, info, tomb_keys)
        return
    if condition is None:
        txn = store.new_transaction()
        txn.commit_type = "delete"
        for rv in txn.read_snapshot.partitions:
            txn.expire_partition(rv)
        store.commit(txn)
        return
    cond = _to_column(condition)

    def transform(df: DataFrame, cnd: Column) -> DataFrame:
        return df.filter(~F.coalesce(cnd, F.lit(False)))

    _rewrite_rows(spark, store, cond, transform, commit_type="delete",
                  cond_sql=condition if isinstance(condition, str) else None)


def _commit_tombstones(spark: SparkSession, store: ManifestStore,
                       info: TableInfo, tomb_keys: DataFrame) -> None:
    """Write one delete_delta commit tombstoning ``tomb_keys`` (a frame
    of the table's merge-key columns): flag column true, data columns
    explicit nulls — the O(deleted keys) MoR delete shape shared by the
    condition path above and ``delete_keys``."""
    keys = info.range_cols + info.hash_cols
    schema = T.StructType.fromJson(json.loads(info.schema_json))
    tomb = tomb_keys.select(*keys)
    for f in schema.fields:
        if f.name not in keys:
            tomb = tomb.withColumn(f.name, F.lit(None).cast(f.dataType))
    tomb = tomb.withColumn(reader.TOMBSTONE_COL, F.lit(True))
    txn = store.new_transaction()
    txn.commit_type = "delete_delta"
    files = writer.write_files(spark, tomb, info, txn, is_base=False,
                               check_invariants=False)
    txn.add_files(files)
    snap = store.commit(txn)
    _maybe_log_cdc(spark, store, info, files, snap.version)
    _maybe_auto_compact(spark, store, info)


def delete_keys(spark: SparkSession, store: ManifestStore,
                keys_df: DataFrame) -> None:
    """DELETE an explicit key frame via the tombstone-delta path: the
    set-oriented twin of ``delete(use_delta=True)`` for callers that
    already HOLD the doomed key set (CDC apply, GDPR erasure lists,
    anti-join results) — no table scan to evaluate a condition, one
    O(keys) tombstone write. Same guards as the condition path: hash
    tables only, rejected under declared merge operators. Keys absent
    from the table tombstone nothing (idempotent re-delivery)."""
    info = store.table_info()
    if not info.hash_cols:
        raise ValueError("delete_keys requires hash partition columns "
                         "(key tombstones need merge keys)")
    if (info.configuration or {}).get("compaction.merge_operators"):
        raise ValueError(
            "delete_keys is not supported on tables with declared merge "
            "operators — the tombstone's null version would be merged; "
            "use a condition delete with use_delta=False")
    keys = info.range_cols + info.hash_cols
    missing = [k for k in keys if k not in keys_df.columns]
    if missing:
        raise ValueError(f"keys_df is missing merge-key columns {missing}")
    _commit_tombstones(spark, store, info, keys_df.select(*keys).distinct())


def upsert_with_tombstones(spark: SparkSession, store: ManifestStore,
                           source: DataFrame, tomb_keys: DataFrame,
                           txn_app_id: str | None = None,
                           txn_version: int | None = None) -> None:
    """ONE delta commit carrying both a tombstone frame and postimage
    rows — the refresh/sync cycle shape (CDC index sync, MV window
    apply, replication): every such cycle used to pay two write jobs +
    two manifest commits (delete_keys then upsert); at 100 TB cadence
    that is twice the lock rounds, manifest versions, and scheduling
    round-trips per cycle for what is logically one state transition.

    Semantics are exactly ``delete_keys(tomb_keys); upsert(source)``:

    * a key in BOTH frames nets to its postimage (the in-batch dedup
      window orders live rows ahead of tombstones — delete-then-upsert
      within one cycle means "final state = postimage");
    * tombstone rows carry explicit nulls for every data column, so a
      later resurrection behaves identically to the two-commit shape;
    * with ``txn_app_id``/``txn_version`` the WHOLE transition is gated
      (strictly stronger than the old sequence, where a crash between
      the two commits replayed the tombstones).

    Requires the source to carry every declared column (a
    partial-column source under MoR means "keep existing", which a
    same-commit tombstone would contradict) — callers with partial
    sources fall back to the two-commit sequence. Same guards as the
    parts: hash table, no declared merge operators.
    """
    from starlake_spark.meta import DuplicateTxnError

    info = store.table_info()
    if not info.hash_cols:
        raise ValueError("upsert requires hash partition columns "
                         "(UpsertCommand.scala:74-76)")
    if (info.configuration or {}).get("compaction.merge_operators"):
        raise ValueError(
            "tombstones are not supported on tables with declared merge "
            "operators — the tombstone's null version would be merged")
    source = writer.align_case(source, info)
    for c in info.range_cols:
        if c not in source.columns and \
                f"generated.{c}" not in (info.configuration or {}):
            raise ValueError(f"upsert source must carry range column '{c}' "
                             "(UpsertCommand.scala:83-88)")
    # Gate BEFORE any commit path — including the partial-source
    # two-commit fallback below: a replayed gated call must return
    # without re-committing tombstones, and an invalid txn pair must
    # error before any commit lands (the fallback's delete_keys used to
    # run first, leaking a tombstone commit on both counts).
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    txn_key = f"txn:{txn_app_id}" if txn_app_id is not None else None
    if txn_key is not None and \
            store.snapshot().streaming.get(txn_key, -1) >= txn_version:
        return

    info = maybe_merge_schema(source, store)
    keys = info.range_cols + info.hash_cols
    missing = [k for k in keys if k not in tomb_keys.columns]
    if missing:
        raise ValueError(f"tomb_keys is missing merge-key columns {missing}")
    schema = T.StructType.fromJson(json.loads(info.schema_json))
    gen_cols = {k[len("generated."):]
                for k in (info.configuration or {})
                if k.startswith("generated.")}
    src_cols = {c.lower() for c in source.columns} | \
               {c.lower() for c in gen_cols}
    if any(f.name.lower() not in src_cols for f in schema.fields):
        # partial-column postimages: absent = keep existing, which the
        # single-commit shape cannot express — two commits, old shape
        delete_keys(spark, store, tomb_keys)
        upsert(spark, store, source, use_delta=True,
               txn_app_id=txn_app_id, txn_version=txn_version)
        return

    tomb = tomb_keys.select(*keys).distinct()
    for f in schema.fields:
        if f.name not in keys:
            tomb = tomb.withColumn(f.name, F.lit(None).cast(f.dataType))
    tomb = tomb.withColumn(reader.TOMBSTONE_COL, F.lit(True))
    live = writer.normalize_for_write(source, info, enforce_schema=False) \
                 .withColumn(reader.TOMBSTONE_COL, F.lit(False))
    combined = tomb.select(*live.columns).unionByName(live)

    txn = store.new_transaction()
    txn.commit_type = "mixed_delta"
    files = writer.write_files(spark, combined, info, txn, is_base=False,
                               dedup_batch=True)
    txn.add_files(files)
    if txn_key is not None:
        txn.set_streaming_batch(txn_key, txn_version)
        try:
            snap = store.commit(txn)
        except DuplicateTxnError:
            return  # concurrent retry already landed this version
    else:
        snap = store.commit(txn)
    _maybe_log_cdc(spark, store, info, files, snap.version)
    _maybe_auto_compact(spark, store, info)


def _part_merge_partition(spark: SparkSession, store: ManifestStore,
                          info: TableInfo, rv: str, max_groups: int,
                          merge_operators: dict | None) -> int:
    """Part-merge OOM guard (StarLakePartFileMerge.scala:31-104): when a
    partition has accumulated more delta commit-groups than one merge
    pass should union, collapse the OLDEST ``max_groups`` groups into an
    intermediate file stamped at the chunk's top write_version, commit,
    and repeat until the partition is under the cap. The reference
    accumulates oldest-first until PART_MERGE_FILE_MINIMUM_NUM files /
    a size budget, merges everything below the cursor version, and
    republishes the output at version 0 so the remaining deltas still
    sort after it (:65,:83); stamping max(merged) is the same ordering.

    Spark-first difference: the reference's guard protects executor
    HEAP (its heap-merge reader materializes every input file's row
    group at once); the groupBy collapse here spills natively, so what
    this bounds is the PLAN — union arms and per-key version-list width
    stay <= ``max_groups`` per pass instead of growing with commit
    count. Returns the number of part-merge commits made.

    Safety gates: every declared operator must be ``associative`` (the
    chunk fold re-parenthesizes the version list), and when operators
    are declared the chunk's files must share one ``exist_cols`` set —
    a partial-column commit mixed into the chunk would turn per-key
    "column absent" into "explicit null at the merged version", which
    ops like sum(null->0) can observe. Either gate failing falls back
    to the ordinary one-shot full merge, which is always correct.

    The chunk is a strict PREFIX of the partition's live history, so
    collapsing it (tombstoned keys dropped, _merge_scan's normal
    filter) and republishing as a base file is exact: nothing earlier
    exists for a tombstone to mask, and later deltas fold on top of
    the intermediate exactly as they folded on top of its inputs.
    """
    ops = {c: mo.resolve(op) for c, op in (merge_operators or {}).items()}
    if any(not op.associative for op in ops.values()):
        return 0
    commits = 0
    while True:
        snap = store.snapshot()
        ps = snap.partitions.get(rv)
        if ps is None:
            return commits
        versions = sorted({f.write_version for f in ps.files})
        if len(versions) <= max_groups:
            return commits
        chunk_versions = set(versions[:max_groups])
        chunk = [f for f in ps.files if f.write_version in chunk_versions]
        # the chunk collapse RESOLVES liveness (prefix-of-history ⇒
        # tombstoned keys drop), so the intermediate never carries the
        # tombstone column even when chunk files did
        union_exist = sorted({c for f in chunk for c in f.exist_cols}
                             - {reader.TOMBSTONE_COL})
        if ops and len({tuple(sorted(f.exist_cols)) for f in chunk}) > 1:
            return commits
        merged = reader._merge_scan(spark, store, info, chunk, ops)
        txn = store.new_transaction()
        txn.commit_type = "part_compaction"
        txn.preserve_write_versions = True
        files = writer.write_files(spark, merged, info, txn, is_base=True)
        top = max(chunk_versions)
        for f in files:
            f.write_version = top
            # keep the merged inputs' column footprint: columns no chunk
            # file carried stay "absent" for the operator algebra even
            # though the intermediate physically materializes them
            f.exist_cols = union_exist
        txn.add_files(files)
        txn.expire_files([f.path for f in chunk])
        store.commit(txn)
        commits += 1


def compact_small_files(spark: SparkSession, store: ManifestStore,
                        threshold_bytes: int = 32 * 1024 * 1024,
                        partition: str | None = None) -> int:
    """Bin-packing small-file compaction (Delta OPTIMIZE's default
    behavior, beyond the reference): per partition, merge ONLY the
    files under ``threshold_bytes`` into fresh right-sized files,
    leaving well-sized files untouched — the standing maintenance op
    for append-heavy ingest, where every micro-batch lands another
    sliver of parquet and a full-partition rewrite would re-copy
    terabytes to fix megabytes. Non-hash tables only: on hash tables
    small delta files carry MoR version semantics, and merging across
    versions is exactly what the part-merge guard / full compaction
    already do correctly. Partitions with fewer than two small files
    are left alone. Returns the number of files merged away.

    Schema-evolution-safe: inputs read through the aligned group
    reader (old files' missing/renamed columns resolve), output
    projects the current schema. The commit is a logical no-op
    rewrite (commit_type 'compact'): CDF and stream readers skip it.
    """
    from starlake_spark.meta import CommitConflictError

    info = store.table_info()
    if info.hash_cols:
        raise ValueError(
            "small-file compaction is for non-hash tables; hash tables "
            "compact through the MoR-aware paths (compaction/part-merge)")
    for attempt in range(3):
        try:
            return _compact_small_once(spark, store, info,
                                       threshold_bytes, partition)
        except CommitConflictError:
            if attempt == 2:
                raise


def _compact_small_once(spark, store, info, threshold_bytes, partition) -> int:
    snap = store.snapshot()
    merged_away = 0
    txn = store.new_transaction()
    txn.commit_type = "compact"
    all_small: list = []
    for rv, ps in snap.partitions.items():
        if partition is not None and rv != partition:
            continue
        if ps.dv_files:
            # bin-packing reads raw files — repacking a DV'd partition
            # would resurrect deleted rows (new basenames dodge the
            # vectors). Full compaction materializes the DVs first.
            continue
        small = [f for f in ps.files if f.size < threshold_bytes]
        if len(small) < 2:
            continue
        all_small.extend(small)
    if not all_small:
        return 0
    merged = reader._plain_scan(spark, store, info, all_small)
    if not info.range_cols:
        # bin-pack toward ~threshold-sized outputs; range tables get
        # their one-file-per-partition consolidation from the write
        # path's range repartition instead
        total = sum(f.size for f in all_small)
        merged = merged.coalesce(max(1, -(-total // threshold_bytes)))
    files = writer.write_files(spark, merged, info, txn, is_base=True)
    txn.add_files(files)
    txn.expire_files([f.path for f in all_small])
    store.commit(txn)
    merged_away = len(all_small)
    return merged_away


def compact(spark: SparkSession, store: ManifestStore, force: bool = True,
            merge_operators: dict | None = None,
            partition: str | None = None,
            partition_predicate: str | None = None,
            sort_columns: list[str] | None = None,
            target_files: int | None = None,
            cluster_mode: str = "linear") -> None:
    """Retry wrapper over one compaction attempt: a concurrent writer
    landing between our read snapshot and commit surfaces as
    CommitConflictError (partition-version check in meta.commit) — the
    rewrite is stale, so rebuild it from a fresh snapshot and try again
    (MetaCommit.scala retry discipline)."""
    from starlake_spark.meta import CommitConflictError

    for attempt in range(3):
        try:
            return _compact_once(spark, store, force=force,
                                 merge_operators=merge_operators,
                                 partition=partition,
                                 partition_predicate=partition_predicate,
                                 sort_columns=sort_columns,
                                 target_files=target_files,
                                 cluster_mode=cluster_mode)
        except CommitConflictError:
            if attempt == 2:
                raise


def _compact_once(spark: SparkSession, store: ManifestStore, force: bool = True,
                  merge_operators: dict | None = None,
                  partition: str | None = None,
                  partition_predicate: str | None = None,
                  sort_columns: list[str] | None = None,
                  target_files: int | None = None,
                  cluster_mode: str = "linear") -> None:
    """Collapse base+delta files into fresh base files, per partition
    (CompactionCommand.scala:38-185). Trigger when forced or
    delta_file_num >= 5 (StarLakeSQLConf.scala:41-45). Invariant
    (manual_execute_suites/CompactionDoNotChangeResult.scala): scans
    before and after compaction are identical.

    ``sort_columns`` (beyond the reference — the OPTIMIZE/ZORDER analog
    for footer-stats skipping): cluster the rewritten data by these
    columns via repartitionByRange + in-file sort, so each output
    file's min/max bounds are tight and to_df(where=...) can skip
    aggressively. Forces a rewrite of every targeted partition even
    without deltas. Non-hash tables only (bucket layout is a scan
    contract). ``target_files`` bounds output files per rewrite.
    """
    info = store.table_info()
    # Tables whose reads depend on merge operators (rollups, counter
    # tables) MUST compact with the same operators or the rewrite
    # last-wins-collapses their partials. The declared default lives in
    # the table property compaction.merge_operators (JSON col->opname,
    # set e.g. by create_rollup) so every compaction path — including
    # the auto-trigger inside upsert() — applies them without the
    # caller having to know (reference: compaction takes the table's
    # mergeOperatorInfo the same way, CompactionCommand.scala:70-109).
    if merge_operators is None:
        prop = (info.configuration or {}).get("compaction.merge_operators")
        if prop:
            merge_operators = json.loads(prop)
    snap = store.snapshot()
    # partition_predicate: OPTIMIZE ... WHERE — metadata-only predicate
    # over range-partition values selects which partitions to rewrite
    # (the maintenance-window pattern: optimize only recent days)
    pred_keep: set | None = None
    if partition_predicate is not None:
        matched = reader._prune_partitions_sql(
            spark, info, list(snap.partitions), P.parse(partition_predicate))
        from starlake_spark.meta import encode_range_value
        pred_keep = {encode_range_value(info.range_cols,
                                        [m.get(c) for c in info.range_cols])
                     for m in matched}
    # logically-dropped columns whose bytes still live in a partition's
    # files force that partition's rewrite even if it's already compact
    # (the rewrite projects the current schema, making the drop physical
    # and re-addable — table._maybe_clear_dropped_markers)
    dropped = set(filter(None, (info.configuration or {})
                         .get("dropped.columns", "").split(",")))
    # pre-rename physical names work the same way: a forced compaction
    # rewrites partitions still carrying them so the layout converges
    # on the new name and the alias marker can clear
    # (table._maybe_clear_dropped_markers)
    dropped |= {a.lower() for k, v in (info.configuration or {}).items()
                if k.startswith("aliases.") for a in v.split(",") if a}
    targets = []
    for rv, ps in snap.partitions.items():
        if partition is not None and rv != partition:
            continue
        if pred_keep is not None and rv not in pred_keep:
            continue
        if not ps.files:
            continue
        if sort_columns:
            targets.append(rv)
            continue
        carries_dropped = dropped and any(
            c.lower() in dropped for f in ps.files for c in f.exist_cols)
        if force and ps.dv_files:
            # deletion-vector materialization: the rewrite below reads
            # the DV-filtered scan and expire_partition clears the
            # vectors — OPTIMIZE on a DV table physically drops the
            # deleted rows (Delta PURGE semantics)
            targets.append(rv)
            continue
        if info.hash_cols and any(f.is_base_file and f.bucket_id < 0
                                  for f in ps.files):
            # unbucketed base files in a hash table (format('star')
            # overwrite / CONVERT adoption): reads are correct (merge
            # collapse is key-based; bucket pruning fails open on -1)
            # but the partition loses point-lookup pruning — rewrite to
            # restore the bucketed layout
            targets.append(rv)
            continue
        if (ps.delta_file_num == 0
                and len({f.write_version for f in ps.files}) <= 1
                and not (force and carries_dropped)):
            continue
        # trigger on DELTA COMMITS, not files: the MoR plan grows one
        # union arm per commit group (reader._merge_scan), and one upsert
        # writes bucket_num files — counting files would force a full
        # partition rewrite after nearly every upsert on wide-bucket
        # tables (reference trigger: StarLakeSQLConf.scala:41-45)
        delta_commits = len({f.write_version for f in ps.files if not f.is_base_file})
        if not force and delta_commits < DELTA_FILE_COMPACT_TRIGGER:
            continue
        targets.append(rv)
    if not targets:
        return
    # part-merge OOM guard: partitions whose commit history outgrew one
    # merge pass get chunk-folded first, so the full merge below (and
    # any concurrent MoR reader after each chunk commit) never plans
    # more than `compaction.part.merge.max` union arms per partition.
    # 0 disables (the reference's guard keys off
    # PART_MERGE_FILE_MINIMUM_NUM, StarLakeSQLConf.scala part.merge.*).
    if info.hash_cols:
        try:
            part_cap = int((info.configuration or {})
                           .get("compaction.part.merge.max", "16"))
        except ValueError:
            part_cap = 16
        if part_cap >= 2:
            for rv in targets:
                _part_merge_partition(
                    spark, store, info, rv, part_cap, merge_operators)
            # the full-merge scan below re-snapshots, so it reads the
            # part-merged state automatically
    tset = set(targets)
    part_filter = lambda d, info=info, t=tset: (
        ",".join(f"{c}={d[c]}" for c in info.range_cols if c in d) in t
    ) if info.range_cols else True
    merged = reader.scan(spark, store, merge_operators=merge_operators,
                         partition_filter=part_filter if info.range_cols else None)
    if not info.range_cols:
        # unpartitioned: single '' partition is the only target
        pass
    txn = store.new_transaction()
    txn.commit_type = "compact"
    files = writer.write_files(spark, merged, info, txn, is_base=True,
                               sort_columns=sort_columns,
                               target_files=target_files,
                               cluster_mode=cluster_mode)
    for rv in targets:
        txn.expire_partition(rv)
    txn.add_files(files)
    store.commit(txn)


def write_into(spark: SparkSession, store: ManifestStore, df: DataFrame,
               mode: str = "append", replace_where: str | None = None,
               txn_app_id: str | None = None,
               txn_version: int | None = None,
               dynamic_partition_overwrite: bool = False,
               txn_stamps: dict | None = None,
               txn_stamp_resets: dict | None = None) -> None:
    """WriteIntoTable (WriteIntoTable.scala:44-146): append / overwrite /
    partition-scoped overwrite via replaceWhere (predicate over range
    columns, evaluated against manifest partition values — no data read).
    Appending to a hash table is forbidden: use upsert
    (WriteIntoTable.scala:96-97).

    ``txn_app_id``/``txn_version`` make the write IDEMPOTENT (Delta's
    txnAppId/txnVersion): a retry carrying a version <= the last
    committed one for that app is a no-op — pre-checked cheaply, and
    enforced race-free under the commit lock via the same monotonic
    registry the streaming sink uses."""
    from starlake_spark.meta import DuplicateTxnError

    info = store.table_info()
    if mode == "append" and info.hash_cols:
        raise ValueError("append to a hash-partitioned table is forbidden; "
                         "use upsert (WriteIntoTable.scala:96-97)")
    # GENERATED ALWAYS AS IDENTITY: user writes may not supply the
    # column (Delta's rule — engine-assigned ids only); the
    # identity.mode=default variant admits explicit values (BY DEFAULT,
    # no uniqueness guarantee against them, same caveat as Delta)
    idcol = (info.configuration or {}).get("identity.column")
    if (idcol and idcol in df.columns
            and (info.configuration or {}).get("identity.mode", "always")
            == "always"):
        raise ValueError(
            f"identity column '{idcol}' is GENERATED ALWAYS — writes may "
            f"not supply it (set identity.mode=default to allow explicit "
            f"values)")
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    txn_key = f"txn:{txn_app_id}" if txn_app_id is not None else None
    if txn_key is not None and store.snapshot().streaming.get(txn_key, -1) >= txn_version:
        return
    info = maybe_merge_schema(df, store)
    txn = store.new_transaction()
    if txn_stamp_resets:
        # unconditional cursor re-anchors (meta.Transaction
        # stamp_resets): a full rebuild over a ROLLED-BACK source must
        # move its cursor DOWN with the overwrite — the monotonic merge
        # (and the gated registry, which no-ops lower versions as
        # replays) would pin the pre-rollback content forever
        txn.stamp_resets.update(txn_stamp_resets)
    if txn_stamps:
        # ungated monotonic cursor records (raw registry keys),
        # published atomically with this commit — MV/rollup full
        # refreshes stamp their consumed source versions so a crashed
        # caller's incremental resume can never re-apply a window this
        # write already contains
        txn.stamp_updates.update(txn_stamps)
    files = writer.write_files(spark, df, info, txn, is_base=True,
                               dedup_batch=True)
    if mode == "overwrite":
        if replace_where is not None:
            matching = _partitions_matching(spark, store, info, replace_where)
            new_rvs = {f.range_value for f in files}
            if not new_rvs <= matching:
                raise ValueError(
                    f"replaceWhere: written partitions {new_rvs - matching} do not "
                    f"match predicate '{replace_where}'")
            for rv in matching:
                txn.expire_partition(rv)
        elif dynamic_partition_overwrite:
            # Delta/Spark partitionOverwriteMode=dynamic: replace ONLY
            # the partitions the incoming data lands in, keep the rest —
            # replaceWhere derived from the data instead of a predicate.
            # Concurrent commits to other partitions never conflict; a
            # concurrent touch of a REPLACED partition trips the
            # partition-version conflict check like any rewrite.
            if not info.range_cols:
                raise ValueError(
                    "dynamic partition overwrite requires range "
                    "partition columns (an unpartitioned table would "
                    "degenerate to a full overwrite — say so explicitly)")
            for rv in {f.range_value for f in files}:
                txn.expire_partition(rv)
        else:
            for rv in txn.read_snapshot.partitions:
                txn.expire_partition(rv)
    elif mode != "append":
        raise ValueError(f"unsupported mode {mode}")
    txn.add_files(files)
    if txn_key is not None:
        txn.set_streaming_batch(txn_key, txn_version)
        try:
            store.commit(txn)
        except DuplicateTxnError:
            return  # concurrent retry already landed this version
    else:
        store.commit(txn)
    if mode == "append":
        _maybe_auto_small_files(spark, store, info, files)


def _maybe_auto_small_files(spark, store: ManifestStore, info: TableInfo,
                            new_files) -> None:
    """Auto small-file compaction (Delta autoCompact analog,
    ``compaction.auto.smallfiles=true``): after an append lands, any
    touched partition holding >= ``compaction.smallfiles.min`` (default
    4) files under ``compaction.smallfiles.threshold`` bytes gets
    bin-packed — the appenders themselves amortize the maintenance an
    append-heavy ingest otherwise defers to manual OPTIMIZE. Best
    effort: a lost conflict race just leaves the work for the next
    append."""
    cfg = info.configuration or {}
    if cfg.get("compaction.auto.smallfiles") != "true" or info.hash_cols:
        return
    thr = int(cfg.get("compaction.smallfiles.threshold",
                      str(32 * 1024 * 1024)))
    min_n = int(cfg.get("compaction.smallfiles.min", "4"))
    from starlake_spark.meta import CommitConflictError

    snap = store.snapshot()
    for rv in {f.range_value for f in new_files}:
        ps = snap.partitions.get(rv)
        if ps is None:
            continue
        if sum(1 for f in ps.files if f.size < thr) >= min_n:
            try:
                compact_small_files(spark, store, thr, partition=rv)
            except CommitConflictError:
                pass


def _maybe_log_cdc(spark, store, info: TableInfo, new_files, version: int) -> None:
    """Write-time CDC logging (``cdf.enabled=true`` table property —
    Delta's delta.enableChangeDataFeed analog): after a delta DML
    commit, the commit's typed change rows (full-fidelity pre/post
    images — the same derivation ``table_changes(with_preimages=True)``
    performs on demand) are materialized ONCE under
    ``<table>/_cdc/<version>/`` with an atomic directory rename.
    Consumers then read O(changes) bytes per commit instead of each
    paying two key-pruned MoR scans — the write-once/read-many trade
    CDC wants at 100 TB, where a table often feeds many incremental
    consumers (rollups, sync jobs, feature stores).

    Crash-safe by construction: the log is an OPTIMIZATION, never the
    source of truth — a missing directory (writer died before the
    rename, log vacuumed, or the table predates the property) just
    means readers fall back to the scan derivation, which is always
    available while the window's files exist. A concurrent duplicate
    logger loses the rename race and cleans up after itself.
    """
    if (info.configuration or {}).get("cdf.enabled") != "true":
        return
    import shutil
    import uuid as _uuid

    from starlake_spark.sources import datasource as ds

    try:
        keys = info.range_cols + info.hash_cols
        dfs = ds._preimage_changes(spark, store, info, keys, version - 1,
                                   version, version, new_files)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        final = os.path.join(store.table_path, CDC_DIR, str(version))
        if os.path.exists(final):
            return
        tmp = os.path.join(store.table_path, CDC_DIR,
                           f".tmp-{version}-{_uuid.uuid4().hex[:8]}")
        out.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception as exc:
        # the DATA commit already succeeded and the log is an
        # optimization with a derivation fallback — a failed logger
        # must not turn a successful DML into an error
        import warnings

        warnings.warn(f"CDC log for version {version} not written "
                      f"({exc}); readers will derive this commit",
                      stacklevel=2)


def read_cdc_log(spark, store, info: TableInfo, version: int):
    """Read the logged change rows for one commit, or None when no log
    exists (reader falls back to scan derivation). Columns align to the
    CURRENT table schema — a log written before a schema evolution
    serves missing columns as typed nulls, same as the file reader."""
    p = os.path.join(store.table_path, CDC_DIR, str(version))
    if not os.path.isdir(p):
        return None
    df = spark.read.parquet(p)
    schema = T.StructType.fromJson(json.loads(info.schema_json))
    amap = reader.alias_map(info)
    present = set(df.columns)
    cols = []
    for f in schema.fields:
        phys = reader._resolve_physical(f.name, present, amap)
        if phys is not None:
            cols.append(F.col(phys).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    cols.append(F.col("_commit_version").cast("long").alias("_commit_version"))
    cols.append(F.col("_change_type").cast("string").alias("_change_type"))
    return df.select(*cols)


def _partitions_matching(spark, store, info, predicate: str) -> set[str]:
    """Evaluate a predicate over partition values only, the reference's
    metadata-only partition filtering (PartitionFilter.scala:26-106):
    build a tiny DataFrame of the distinct range values and filter it —
    one Spark job over O(partitions) rows, never over data."""
    snap = store.snapshot()
    if not info.range_cols:
        raise ValueError("replaceWhere requires range partition columns")
    schema = T.StructType.fromJson(json.loads(info.schema_json))
    types = {f.name: f.dataType for f in schema.fields}
    rows = []
    for rv in snap.partitions:
        d = decode_range_value(rv)
        rows.append(tuple(d.get(c) for c in info.range_cols))
    if not rows:
        return set()
    pdf = local_df(
        spark, rows,
        T.StructType([T.StructField(c, T.StringType()) for c in info.range_cols])
    )
    pdf = pdf.select(*[F.col(c).cast(types[c]).alias(c) for c in info.range_cols])
    kept = pdf.filter(F.expr(predicate)).collect()
    from starlake_spark.meta import encode_range_value

    return {encode_range_value(info.range_cols, [r[c] for c in info.range_cols]) for r in kept}


def cleanup(store: ManifestStore, retention_s: float = CLEANUP_RETENTION_S,
            dry_run: bool = False,
            manifest_retention_s: float | None = None,
            cdc_retention_s: float | None = None) -> list[str]:
    """Vacuum: physical files not referenced by any retained manifest
    version and older than the retention window (CleanupCommand.scala:36-233;
    default 5h, StarLakeSQLConf.scala:54-58).

    ``manifest_retention_s`` additionally expires version MANIFESTS
    below the newest out-of-retention checkpoint (Delta
    logRetentionDuration analog, meta.expire_manifests) — run BEFORE
    the data-file sweep so files referenced only by expired manifests
    become unreferenced and vacuum in the same pass.

    ``cdc_retention_s`` bounds the CDC log (``_cdc/``) on its OWN clock
    (Delta ``delta.changeDataFeed`` retention analog): a long-retention
    table with heavy DML otherwise accumulates change logs as fast as
    it writes. Resolution order: explicit argument > table property
    ``cdf.retention`` (seconds) > ``retention_s``. When the CDC window
    is shorter than data retention, a version's change log can expire
    while the version itself stays time-travelable — CDF reads of the
    expired window surface the standard missing-log behavior."""
    removed_manifests: list[str] = []
    if manifest_retention_s is not None:
        removed_manifests = [
            f"_star_meta/versions/v{v:012d}.json"
            for v in store.expire_manifests(manifest_retention_s,
                                            dry_run=dry_run)]
    now = time.time()
    keep_versions = [
        v for v in store.list_versions()
        if store.snapshot(v).timestamp >= now - retention_s
    ]
    # always keep the latest version's files (incl. deletion-vector
    # sidecars — deep clones park them under data/)
    latest = store.latest_version()

    def _refs_of(v: int) -> set[str]:
        snap = store.snapshot(v)
        return ({f.path for f in snap.all_files()}
                | {d.path for ps in snap.partitions.values()
                   for d in ps.dv_files}
                | {f.bloom_ref for f in snap.all_files()
                   if getattr(f, "bloom_ref", None)})

    refs = _refs_of(latest)
    for v in keep_versions:
        refs.update(_refs_of(v))
    # LISTING SEAM (starlake_spark.listing): the only storage
    # enumeration vacuum does — one LIST per prefix, diffed against the
    # manifest's referenced set; orphans age-gate on the retention
    # clock. On an object store this is one paginated ListObjectsV2 per
    # prefix per vacuum run (see listing.py design note).
    from starlake_spark.listing import get_lister

    lister = get_lister()
    removed = []

    def _sweep_prefix(prefix_root: str) -> None:
        for ent in lister.list_files(prefix_root):
            rel = os.path.relpath(ent.path, store.table_path)
            if rel not in refs and now - ent.mtime > retention_s:
                removed.append(rel)
                if not dry_run:
                    lister.remove(ent.path)

    _sweep_prefix(os.path.join(store.table_path, "data"))
    # deletion-vector sidecars: once compaction materialized a DV (no
    # retained snapshot references it), its sidecar files sweep on the
    # same retention clock as data files.
    _sweep_prefix(os.path.join(store.table_path, "_star_meta", "dv"))
    # bloom-filter sidecars: one parquet per commit under
    # `_star_meta/bloom/`; a sidecar whose commit no retained snapshot
    # references is dead weight (readers only ever load
    # manifest-referenced bitmaps) — sweep it on the data retention
    # clock, keyed on retained bloom_refs exactly like dv sidecars.
    _sweep_prefix(os.path.join(store.table_path, "_star_meta", "bloom"))
    # STALE scoped lock files: a crashed writer's partition-scoped
    # lock (`_commit.lock.p<hash>`) is stale-broken by the next acquire
    # of the SAME scope, but a partition never written again would keep
    # its crash artifact forever — vacuum sweeps lock files past the
    # stale-break threshold through the provider's rename-claim breaker
    # (a plain unlink here would be the exact TOCTOU `_break_stale`
    # exists to close: it could delete a FRESH lock recreated between
    # the staleness check and the unlink).
    from starlake_spark.locking import FileLockProvider, get_lock_provider
    from starlake_spark.meta import STALE_LOCK_S

    # breaker threshold honours the REGISTERED provider's configured
    # staleness: a deployment that set FileLockProvider(stale_s=3600)
    # to cover long commits must not have a legitimately held lock
    # broken by a concurrent cleanup(retention_s=0) after only
    # STALE_LOCK_S seconds
    provider_stale = 0.0
    reg = get_lock_provider()
    if isinstance(reg, FileLockProvider):
        provider_stale = reg.stale_s
    breaker = FileLockProvider(
        stale_s=max(STALE_LOCK_S, retention_s, provider_stale))
    for n in list(os.listdir(store.meta_dir)):
        if n.startswith("_commit.lock"):
            p = os.path.join(store.meta_dir, n)
            try:
                stale = now - os.path.getmtime(p) > breaker.stale_s
            except FileNotFoundError:
                continue
            if stale:
                if not dry_run:
                    breaker._break_stale(p)
                if dry_run or not os.path.exists(p):
                    removed.append(os.path.relpath(p, store.table_path))
    # CDC logs age on their own retention clock: default = the data
    # retention (Delta ties change-data retention to log retention the
    # same way), independently shrinkable via the ``cdf.retention``
    # table property or the cdc_retention_s argument — the knob that
    # keeps `_cdc/` bounded on a long-retention, DML-heavy table.
    # "independent CDC retention" means the caller (argument) or the
    # table (cdf.retention property) SAID so — tracked explicitly, not
    # inferred by comparing values (an explicit window that happens to
    # equal retention_s is still an independent clock)
    cdc_independent = cdc_retention_s is not None
    if cdc_retention_s is None:
        cfg = store.table_info().configuration or {}
        prop = cfg.get("cdf.retention")
        try:
            if prop is not None:
                cdc_retention_s = float(prop)
                cdc_independent = True
        except (TypeError, ValueError):
            pass
        if cdc_retention_s is None:
            cdc_retention_s = retention_s
    cdc_root = os.path.join(store.table_path, CDC_DIR)
    if os.path.isdir(cdc_root):
        import shutil

        keep = set(keep_versions) | {latest}
        for name in os.listdir(cdc_root):
            p = os.path.join(cdc_root, name)
            if name.isdigit() and now - os.path.getmtime(p) > cdc_retention_s:
                # with an explicit CDC window, expire regardless of
                # whether the VERSION is still retained — the data stays
                # time-travelable, only its change log ages out
                if cdc_independent or int(name) not in keep:
                    removed.append(os.path.relpath(p, store.table_path))
                    if not dry_run:
                        shutil.rmtree(p, ignore_errors=True)
            elif (name.startswith(".tmp-")
                  and now - os.path.getmtime(p) > cdc_retention_s):
                removed.append(os.path.relpath(p, store.table_path))
                if not dry_run:
                    shutil.rmtree(p, ignore_errors=True)
    return removed_manifests + removed
