"""Cross-table CDC replication: follow a hash-partitioned star table by
replaying its NET changes into an independent downstream star table.

This is the logical-replication complement to ``StarTable.sync_clone``
(table.py): a clone re-points manifest entries at the SOURCE's files —
same layout, same storage, zero data moved — while ``sync_table``
replays insert/update/delete through the target's own write path, so
the replica may live on different storage, choose its own bucket
count, carry its own indexes/properties, and keeps working after the
source vacuums history (only the not-yet-synced window must survive).
The Delta Live Tables ``apply_changes`` / Fivetran-style sink shape.

Incremental cost is O(net changed keys) per sync regardless of how many
commits accumulated: the change window comes from
``range_changes`` (sources/datasource.py) — two key-pruned MoR scans
off the boundary snapshots' file-set symmetric difference, intermediate
churn cancelled — and lands as one delta-upsert commit plus (only when
keys died) one tombstone commit. Crash-safe without a transaction
across tables: applying the same net window twice is idempotent
(upsert of identical full rows, tombstones of already-dead keys), and
the watermark property is only advanced after the apply commits — a
retry re-applies, never skips.

Reference: the StarLake engine has no cross-table replication command;
this composes its CDF primitives (meta/MetaVersion.scala version
windows) the way its incremental MV refresh does.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

SOURCE_PROP = "replication.source"
VERSION_PROP = "replication.synced_version"
FROZEN_PROP = "replication.frozen"

# Replicas are FROZEN to direct DML by default: a user upsert between
# syncs would be silently overwritten by the next net-window apply
# (last-writer-wins at the key level, no conflict detection across
# tables). The apply path itself runs inside this thread-local context
# so sync_table/sync_stream keep writing; everything else refuses with
# a pointer to the three sanctioned outs (detach, unfreeze, full
# re-adopt). Mirrors the stream→batch adoption guard above.
_apply_ctx = threading.local()


class _applying:
    """Context manager marking this thread as the replication apply
    path (exempt from the frozen-replica DML guard)."""

    def __enter__(self):
        _apply_ctx.depth = getattr(_apply_ctx, "depth", 0) + 1
        return self

    def __exit__(self, *exc):
        _apply_ctx.depth -= 1
        return False


def is_applying() -> bool:
    return getattr(_apply_ctx, "depth", 0) > 0


def sync_table(spark: SparkSession, source, target_path: str,
               hash_bucket_num: int | None = None,
               full: bool = False):
    """Create-or-advance the replica at ``target_path`` to the source's
    current snapshot. Returns ``(target_table, stats_dict)`` where
    stats carry the synced version window and applied row counts.

    First call bootstraps: full copy at the source's latest version,
    partitioned like the source (``hash_bucket_num`` may re-bucket the
    replica). Later calls apply the net change window since the stored
    watermark. ``full=True`` repairs a replica whose pending window was
    vacuumed on the source: a full-state diff (changed/new rows
    upserted, vanished keys tombstoned) — same end state, O(table)
    read but still O(diff) written."""
    import os

    from starlake_spark.meta import MetaError
    from starlake_spark.sources.datasource import (
        CHANGE_TYPE_COL, VERSION_COL, shared_range_changes)
    from starlake_spark.table import StarTable, create_table

    src = source if isinstance(source, StarTable) \
        else StarTable.for_path(spark, source)
    sinfo = src.info
    if not sinfo.hash_cols:
        raise ValueError("sync_table requires a hash-partitioned source "
                         "(key-level change replay needs merge keys)")
    src_version = src.store.latest_version()
    src_path = src.store.table_path

    if not os.path.isdir(os.path.join(target_path, "_star_meta")):
        snap_df = src.to_df(version=src_version)
        t = create_table(
            spark, snap_df, target_path,
            range_partitions=list(sinfo.range_cols),
            hash_partitions=list(sinfo.hash_cols),
            hash_bucket_num=(hash_bucket_num if hash_bucket_num is not None
                             else sinfo.bucket_num),
            # watermark rides the CREATE commit: a crash can never leave
            # a replica that exists but doesn't know its sync state
            configuration={SOURCE_PROP: src_path,
                           VERSION_PROP: str(src_version)})
        return t, {"mode": "bootstrap", "from_version": 0,
                   "to_version": src_version}

    t = StarTable.for_path(spark, target_path)
    cfg = t.info.configuration or {}
    bound = cfg.get(SOURCE_PROP)
    if bound is None:
        raise ValueError(f"{target_path} is not a replica "
                         "(no replication.source property)")
    if os.path.normpath(bound) != os.path.normpath(src_path):
        raise ValueError(f"{target_path} replicates {bound}, not {src_path}")
    if VERSION_PROP not in cfg and not full:
        # a sync_stream-bootstrapped replica tracks its position in the
        # Spark checkpoint, not the watermark property — batch increments
        # can't know where the stream stopped
        raise ValueError(
            f"{target_path} is stream-managed (no {VERSION_PROP}); keep "
            "using sync_stream, or repair once with full=True to adopt "
            "batch watermarking")
    v0 = int(cfg.get(VERSION_PROP, 0))
    if full:
        stats = _full_sync(spark, src, t)
        t.set_properties({VERSION_PROP: str(src_version)})
        stats.update(mode="full", from_version=v0, to_version=src_version)
        return t, stats
    if v0 >= src_version:
        return t, {"mode": "noop", "from_version": v0, "to_version": v0}

    try:
        # the window's lower boundary must still resolve — manifest log
        # retention (expire_manifests) may have aged it out on a replica
        # that slept past the source's retention window
        src.store.snapshot(v0)
    except MetaError:
        stats = _full_sync(spark, src, t)
        t.set_properties({VERSION_PROP: str(src_version)})
        stats.update(mode="full_fallback", from_version=v0,
                     to_version=src_version)
        return t, stats

    win = shared_range_changes(spark, src_path, v0, src_version)
    ch = win.frame
    data_cols = [c for c in ch.columns
                 if c not in (VERSION_COL, CHANGE_TYPE_COL)]
    ups = (ch.filter(F.col(CHANGE_TYPE_COL)
                     .isin("insert", "update_postimage"))
             .select(*data_cols))
    dels = (ch.filter(F.col(CHANGE_TYPE_COL) == "delete")
              .select(*(sinfo.range_cols + sinfo.hash_cols)))
    cnt = win.counts()
    n_up = cnt.get("insert", 0) + cnt.get("update_postimage", 0)
    n_del = cnt.get("delete", 0)
    with _applying():
        if n_up and n_del:
            # one commit for the window's whole transition
            t.upsert_with_tombstones(ups, dels)
        elif n_up:
            t.upsert(ups)
        elif n_del:
            t.delete_keys(dels)
    t.set_properties({VERSION_PROP: str(src_version)})
    return t, {"mode": "incremental", "from_version": v0,
               "to_version": src_version, "upserted": n_up,
               "deleted": n_del}


def _full_sync(spark: SparkSession, src, t) -> dict:
    """Full-state repair diff: rows whose source image differs from the
    replica's (or are new) upsert; keys gone from the source tombstone.
    Null-safe equality on every column so NULL churn can't hide a diff."""
    sinfo = src.info
    keys = sinfo.range_cols + sinfo.hash_cols
    s = src.to_df()
    r = t.to_df().select(*s.columns)
    same = None
    for c in s.columns:
        e = F.col(f"_s.{c}").eqNullSafe(F.col(f"_r.{c}"))
        same = e if same is None else (same & e)
    sa, ra = s.alias("_s"), r.alias("_r")
    unchanged = (sa.join(ra, keys).filter(same)
                 .select(*[F.col(f"_s.{k}").alias(k) for k in keys]))
    ups = s.join(unchanged, keys, "left_anti")
    dels = r.select(*keys).join(s.select(*keys), keys, "left_anti")
    n_up, n_del = ups.count(), dels.count()
    with _applying():
        if n_up and n_del:
            t.upsert_with_tombstones(ups, dels)
        elif n_up:
            t.upsert(ups)
        elif n_del:
            t.delete_keys(dels)
    return {"upserted": n_up, "deleted": n_del}


def sync_stream(spark: SparkSession, source, target_path: str,
                checkpoint: str, trigger: dict | None = None,
                hash_bucket_num: int | None = None):
    """Continuous replication: tail the source's typed CDF stream
    (sources/datasource.py `_StarStreamReader`, changeTypes=true) and
    apply each micro-batch to the replica. Within a batch the typed log
    is collapsed to NET-per-key first (latest `_commit_version` wins —
    one window op), so a delete→re-insert pair inside one batch applies
    as a single upsert and a batch replays idempotently on restart;
    across batches the source delivers versions in order and Spark's
    checkpoint makes delivery exactly-once-per-batch. Bootstrap is a
    zero-job schema-only CREATE — the stream's own initial-load insert
    rows populate the replica. Returns the StreamingQuery."""
    import os

    from pyspark.sql import Window
    from starlake_spark import sources
    from starlake_spark.sources.datasource import (CHANGE_TYPE_COL,
                                                   VERSION_COL)
    from starlake_spark.table import StarTable, create_table

    src = source if isinstance(source, StarTable) \
        else StarTable.for_path(spark, source)
    sinfo = src.info
    if not sinfo.hash_cols:
        raise ValueError("sync_stream requires a hash-partitioned source")
    keys = sinfo.range_cols + sinfo.hash_cols
    src_path = src.store.table_path

    if not os.path.isdir(os.path.join(target_path, "_star_meta")):
        create_table(
            spark, src.to_df().limit(0), target_path,
            range_partitions=list(sinfo.range_cols),
            hash_partitions=list(sinfo.hash_cols),
            hash_bucket_num=(hash_bucket_num if hash_bucket_num is not None
                             else sinfo.bucket_num),
            configuration={SOURCE_PROP: src_path})
    t = StarTable.for_path(spark, target_path)
    bound = (t.info.configuration or {}).get(SOURCE_PROP)
    if bound is None or os.path.normpath(bound) != os.path.normpath(src_path):
        raise ValueError(f"{target_path} does not replicate {src_path}")

    data_cols = [c for c in src.to_df().columns]

    def _apply(batch, batch_id):
        batch = batch.persist()
        try:
            w = (Window.partitionBy(*keys)
                 .orderBy(F.col(VERSION_COL).desc()))
            net = (batch.filter(F.col(CHANGE_TYPE_COL) != "update_preimage")
                   .withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") == 1))
            ups = (net.filter(F.col(CHANGE_TYPE_COL) != "delete")
                   .select(*data_cols))
            dels = (net.filter(F.col(CHANGE_TYPE_COL) == "delete")
                    .select(*keys))
            tt = StarTable.for_path(batch.sparkSession, target_path)
            n_up, n_del = ups.count(), dels.count()
            with _applying():
                if n_up and n_del:
                    tt.upsert_with_tombstones(ups, dels)
                elif n_up:
                    tt.upsert(ups)
                elif n_del:
                    tt.delete_keys(dels)
        finally:
            batch.unpersist()

    sources.register(spark)
    reader = (spark.readStream.format("star")
              .option("changeTypes", "true").load(src_path))
    writer = (reader.writeStream.foreachBatch(_apply)
              .option("checkpointLocation", checkpoint))
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
