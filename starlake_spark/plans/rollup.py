"""Incremental time-bucketed rollups — the hypertable / continuous-
aggregate pattern, composed from this engine's own primitives.

The reference has nothing like this (its materialized views are full
re-runs, CreateMaterialViewCommand.scala:25-69); at 100 TB a fact
table's hourly rollup cannot be rebuilt per refresh. The composition
here is the point:

* the source table's MANIFEST is the change feed — files with
  ``write_version > last_refreshed`` are exactly the new rows (the
  same versioned-offset idea as the streaming source in
  sources/datasource.py);
* the rollup table is hash-partitioned on (bucket, group keys), and a
  refresh just UPSERTS the new rows' partial aggregates as a delta
  commit — the MoR merge-operator algebra (sum/min/max across commit
  versions) IS the rollup merge, so a refresh shuffles only the new
  partials, never the history;
* compaction with the same merge operators materializes the
  accumulated partials without changing results (compaction
  invariance), keeping read amplification flat.

A refresh folds the source's change window since its cursor, resolved
by the one resolver every derived table uses
(``sources.datasource.change_window``): the coalesced signed CDC on a
hash source (upserts net new - old, deletes retract), the new files on
an append-only one. It falls back to a full rebuild — never a wrong
result — when the cursor's source version has expired from the
manifest log, a file the window must read was vacuumed, an append-only
source's history was rewritten (update / delete / compaction dropped
files live at the cursor) or a deletion vector changed, the source was
recreated at the same path or rolled back behind the cursor, or a
min/max window threatens more stored extrema than the rescan cap.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from starlake_spark import local
from starlake_spark.local import local_df
from starlake_spark.meta import ManifestStore
from starlake_spark.operators import dml, reader
from starlake_spark.sources import datasource
from starlake_spark.table import StarTable, create_table

_CFG = "rollup."
_VALID_AGGS = ("sum", "min", "max", "count", "avg")


def _partials(df: DataFrame, cfg: dict) -> DataFrame:
    """Partial (mergeable) aggregate state of a batch of source rows per
    (bucket_ts, group) cell. sum/count/avg keep sums+counts, min/max
    keep extrema — all of which merge across refreshes through the
    corresponding MoR merge operator. Sums go through DECIMAL(28,6) so
    accumulation order (which differs between incremental and full
    paths) cannot change the result.

    A frame carrying ``_change_type`` (a hash source's change window) is
    signed: inserts and update_postimages count +1, deletes and
    update_preimages -1, so an UPDATE nets (new - old) and a DELETE a
    retraction. Its min/max fold postimages only and add an ``_rt_``
    probe, the most threatening retracted value per cell (consumed by
    _minmax_threatened, never written to the rollup table). Any other
    frame counts each row with the literal sign 1."""
    ct = datasource.CHANGE_TYPE_COL
    retracts = ct in df.columns
    if retracts:
        df = df.withColumn(
            "_sign", F.when(F.col(ct).isin("insert", "update_postimage"),
                            F.lit(1))
                      .when(F.col(ct).isin("delete", "update_preimage"),
                            F.lit(-1))).filter(F.col("_sign").isNotNull())
    sign = F.col("_sign") if retracts else F.lit(1)
    post = sign == 1
    exprs = []
    for c, op in cfg["aggs"].items():
        if op in ("sum", "avg"):
            exprs.append(F.sum(F.col(c).cast("decimal(28,6)") * sign)
                         .alias(f"{c}_sum"))
        if op in ("avg", "count"):
            exprs.append(F.sum(F.when(F.col(c).isNotNull(), sign)
                               .otherwise(F.lit(0))).cast("long")
                         .alias(f"{c}_cnt"))
        if op in ("min", "max"):
            f = F.min if op == "min" else F.max
            exprs.append(f(F.when(post, F.col(c))).alias(f"{c}_{op}"))
            if retracts:
                exprs.append(f(F.when(~post, F.col(c)))
                             .alias(f"_rt_{c}_{op}"))
    exprs.append(F.sum(sign).cast("long").alias("n_rows"))
    return (df.groupBy(F.date_trunc(cfg["bucket"], F.col(cfg["time_col"]))
                       .alias("bucket_ts"), *cfg["group_cols"])
              .agg(*exprs))


def _source_partials(spark, src: ManifestStore, version: int,
                     cfg: dict) -> DataFrame:
    """Partials of the whole source as of ``version`` (create and full
    rebuild)."""
    return _partials(reader.scan(spark, src, version=version,
                                 schema_as_of=False), cfg)


def _merge_ops_for(aggs: dict[str, str]) -> dict[str, str]:
    ops = {"n_rows": "sum"}
    for c, op in aggs.items():
        if op in ("sum", "avg"):
            ops[f"{c}_sum"] = "sum"
        if op in ("avg", "count"):
            ops[f"{c}_cnt"] = "sum"
        if op == "min":
            ops[f"{c}_min"] = "min"
        if op == "max":
            ops[f"{c}_max"] = "max"
    return ops


def create_rollup(
    spark: SparkSession,
    source_path: str,
    rollup_path: str,
    time_col: str,
    bucket: str = "hour",
    group_cols: list[str] | None = None,
    aggs: dict[str, str] | None = None,
    hash_bucket_num: int = 16,
    short_name: str | None = None,
) -> StarTable:
    """Materialize the initial rollup of ``source_path`` (a star table)
    and record the refresh cursor. ``bucket`` is a date_trunc unit
    ('hour', 'day', 'week', ...); ``aggs`` maps source columns to
    sum|min|max|count|avg."""
    group_cols = list(group_cols or [])
    aggs = dict(aggs or {})
    for c, op in aggs.items():
        if op not in _VALID_AGGS:
            raise ValueError(f"agg {op!r} for {c!r}: must be one of {_VALID_AGGS}")
    src = ManifestStore(source_path)
    src_info = src.table_info()
    # min/max over a hash (upsertable) source is allowed since round
    # 10: refresh_rollup / read_rollup_realtime rescan exactly the
    # cells whose retracted values threaten the stored extremum
    # (_minmax_threatened + _rescan_cells) and fold everything else —
    # only stream_rollup refuses the shape (its insert-only
    # micro-batches cannot see retractions).
    cur = src.latest_version()
    partials = _source_partials(spark, src, cur, {
        "time_col": time_col, "bucket": bucket, "group_cols": group_cols,
        "aggs": aggs})
    t = create_table(
        spark, partials, rollup_path,
        hash_partitions=["bucket_ts"] + group_cols,
        hash_bucket_num=hash_bucket_num,
        short_name=short_name,
        configuration={
            _CFG + "source": source_path,
            _CFG + "time_col": time_col,
            _CFG + "bucket": bucket,
            _CFG + "group_cols": json.dumps(group_cols),
            _CFG + "aggs": json.dumps(aggs),
            _CFG + "last_version": str(cur),
            # source IDENTITY, not just path: a source dropped and
            # recreated at the same path restarts version numbering —
            # version-window cursors against the new incarnation would
            # silently merge unrelated content (or, if the new table
            # accumulates more versions than the cursor, skip data).
            # A mismatch at refresh time forces the full rebuild.
            _CFG + "source_table_id": src_info.table_id,
            # EVERY compaction of this table (including the auto-trigger
            # inside upsert) must merge partials with these operators —
            # a default last-wins collapse would corrupt the sums
            "compaction.merge_operators": json.dumps(_merge_ops_for(aggs)),
        })
    return t


def _cfg(t: StarTable) -> dict:
    c = t.info.configuration or {}
    if (_CFG + "source") not in c:
        raise ValueError(f"{t.store.table_path} is not a rollup table")
    return {
        "source": c[_CFG + "source"],
        "time_col": c[_CFG + "time_col"],
        "bucket": c[_CFG + "bucket"],
        "group_cols": json.loads(c[_CFG + "group_cols"]),
        "aggs": json.loads(c[_CFG + "aggs"]),
        "last_version": int(c[_CFG + "last_version"]),
        # None on pre-feature rollups: identity then unverifiable,
        # refresh behaves as before (path-only)
        "source_table_id": c.get(_CFG + "source_table_id"),
    }


def _minmax_threatened(spark, t: StarTable, partials: DataFrame,
                       cfg: dict, partial_rows: "list | None" = None):
    """Split a signed hash-window partial frame into (threatened_cells,
    safe_partials, threatened_rows) for min/max rollups. A cell is
    THREATENED when a retracted value ties/beats its stored extremum —
    the fold can't undo that — or when the cell has no stored row
    (in-window churn). The stored state is the MoR-merged rollup pruned
    to candidate cells (broadcast semi, O(cells with retractions)).
    ``partials`` must be materialized.

    Returns (None, safe, []) when nothing threatens; ("overflow",
    safe, None) when the threat set exceeds the rescan cell cap
    (caller falls back to the full rebuild); else (thr, safe, rows)
    where ``thr`` is a DRIVER-LOCAL relation of the ≤cap threatened
    cells and ``rows`` its collected rows — ONE collect job instead of
    the former checkpoint + count + collect trio, and every downstream
    use (broadcast semi-joins, the rescan's time lower bound) plans
    off the local relation with no further jobs (optimization round
    10, guide §1.2). The safe frame always has the `_rt_` probe
    columns dropped."""
    import os as _os

    mm = [(c, op) for c, op in cfg["aggs"].items()
          if op in ("min", "max")]
    keys = ["bucket_ts"] + cfg["group_cols"]
    probes = [f"_rt_{c}_{op}" for c, op in mm]
    clean = partials.drop(*probes)
    pfilter = None
    for p in probes:
        e = F.col(p).isNotNull()
        pfilter = e if pfilter is None else pfilter | e
    cand = partials.filter(pfilter)
    if partial_rows is not None:
        # the caller holds the frame driver-local: the candidate probe
        # is a Python any() over the retraction columns — no Spark job
        pcols = partials.columns
        pidx = [pcols.index(p) for p in probes]
        if not any(any(r[i] is not None for i in pidx)
                   for r in partial_rows):
            return None, clean, []
    elif not cand.limit(1).count():
        return None, clean, []
    # broadcast-semi-prune the stored rollup to the candidate cells
    # FIRST (scan-filter — never an O(|rollup|) exchange), then join
    # the O(candidates) slice; renamed frames avoid Spark's ambiguous
    # dual-reference resolution
    base = t.to_df(merge_operators=_merge_ops_for(cfg["aggs"]))
    ckr = cand.select(*keys).distinct()
    for k in keys:
        ckr = ckr.withColumnRenamed(k, k + "__p")
    pcond = None
    for k in keys:
        e = F.col(k).eqNullSafe(F.col(k + "__p"))
        pcond = e if pcond is None else pcond & e
    ss = base.join(F.broadcast(ckr), pcond, "left_semi")
    for k in keys:
        ss = ss.withColumnRenamed(k, k + "__s")
    for c, op in mm:
        ss = ss.withColumnRenamed(f"{c}_{op}", f"{c}_{op}__s")
    ss = ss.withColumnRenamed("n_rows", "n_rows__s")
    jcond = None
    for k in keys:
        e = F.col(k).eqNullSafe(F.col(k + "__s"))
        jcond = e if jcond is None else jcond & e
    j = cand.join(ss, jcond, "left")
    threat = None
    for c, op in mm:
        s, r = F.col(f"{c}_{op}__s"), F.col(f"_rt_{c}_{op}")
        exists = F.col("n_rows__s").isNotNull()
        beats = s.isNotNull() & ((s < r) if op == "min" else (s > r))
        ta = r.isNotNull() & ~(exists & beats)
        threat = ta if threat is None else (threat | ta)
    thr_plan = j.filter(threat).select(*keys).distinct()
    cap = int(_os.environ.get("STARLAKE_ROLLUP_RESCAN_CELL_LIMIT", "512"))
    rows = thr_plan.limit(cap + 1).collect()
    if not rows:
        return None, clean, []
    if len(rows) > cap:
        return "overflow", clean, None
    thr = local_df(spark, rows, thr_plan.schema)
    acond = None
    for k in keys:
        e = F.col(k).eqNullSafe(F.col(k + "__t"))
        acond = e if acond is None else acond & e
    tt = thr
    for k in keys:
        tt = tt.withColumnRenamed(k, k + "__t")
    safe = clean.join(F.broadcast(tt), acond, "left_anti")
    return thr, safe, rows


def _rescan_cells(spark, src: ManifestStore, cfg: dict, cur: int,
                  cells: DataFrame,
                  cell_rows: "list | None" = None) -> DataFrame:
    """Authoritative full-cell partials for threatened cells, from the
    source PINNED at the window end: a coarse time lower bound prunes
    cold partitions, the broadcast cell semi-join bounds the
    aggregation to exactly the threatened (bucket, group) cells.
    Deterministic on crash replay (pinned version). ``cell_rows``
    (the already-collected threat set) supplies the lower bound
    driver-side — no extra aggregation job."""
    if cell_rows is not None:
        ts = [r["bucket_ts"] for r in cell_rows if r["bucket_ts"] is not None]
        lo = min(ts) if ts else None
    else:
        lo = cells.agg(F.min("bucket_ts")).first()[0]
    rows = StarTable(spark, src).to_df(version=cur)
    if lo is not None:
        rows = rows.filter(
            F.date_trunc(cfg["bucket"], F.col(cfg["time_col"]))
            >= F.lit(lo))
    keys = ["bucket_ts"] + cfg["group_cols"]
    cc = cells
    for k in keys:
        cc = cc.withColumnRenamed(k, k + "__c")
    cond = (F.date_trunc(cfg["bucket"], F.col(cfg["time_col"]))
            .eqNullSafe(F.col("bucket_ts__c")))
    for g in cfg["group_cols"]:
        cond = cond & F.col(g).eqNullSafe(F.col(g + "__c"))
    pruned = rows.join(F.broadcast(cc), cond, "left_semi")
    # single consumer (the upsert / merged-union that follows): lazy —
    # the rescan computes inside that consumer's job instead of paying
    # an eager checkpoint job of its own (round-11; determinism comes
    # from the pinned version, not the materialization)
    return _partials(pruned, cfg)


def _cell_condition(keys: list[str], rows) -> "str | None":
    """SQL predicate matching exactly the given (bucket_ts, group)
    cells — the CoW delete that replaces threatened min/max cells
    (merge-operator tables refuse tombstone deltas: a null-version
    tombstone would itself be merged). None → a value type we can't
    render as a literal (caller falls back to the full rebuild)."""
    import datetime

    conds = []
    for r in rows:
        parts = []
        for k in keys:
            v = r[k]
            if v is None:
                parts.append(f"`{k}` IS NULL")
            elif isinstance(v, bool):
                parts.append(f"`{k}` = {str(v).lower()}")
            elif isinstance(v, int):
                parts.append(f"`{k}` = {v}")
            elif isinstance(v, str):
                parts.append(f"`{k}` = '" + v.replace("'", "''") + "'")
            elif isinstance(v, datetime.datetime):
                parts.append(f"`{k}` = TIMESTAMP "
                             f"'{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'")
            elif isinstance(v, datetime.date):
                parts.append(f"`{k}` = DATE '{v.isoformat()}'")
            else:
                return None
        conds.append("(" + " AND ".join(parts) + ")")
    return " OR ".join(conds)


def _cursor(t: StarTable, cfg: dict,
            src: ManifestStore) -> "tuple[int, int, bool]":
    """(last, cur, reanchor): the window (last, cur] that advances the
    rollup ``t`` to its source's latest version.

    The txn-registry stamp is the AUTHORITATIVE cursor (same contract
    as MV refresh): a crash between the gated write (stamp = cur_old)
    and the property save leaves stamp > last_version; restarting the
    window at the stale property would re-apply the already-merged
    [last, stamp] partials into any NEW window (the gate alone only
    stops an identical replay) — resume from the stamp instead.

    ``reanchor``: the cursor no longer names a version of this source,
    so only a full recompute is right — the source was dropped and
    recreated at the same path (an identity check, not version
    arithmetic: the new incarnation restarts version numbering, so a
    window over it is over UNRELATED content even when cur > last), or
    the cursor is AHEAD of the source's latest version."""
    last = max(cfg["last_version"], t.store.snapshot().streaming.get(
        f"txn:rollup_refresh:{t.info.table_id}", -1))
    cur = src.latest_version()
    recreated = (cfg["source_table_id"] is not None
                 and src.table_info().table_id != cfg["source_table_id"])
    return last, cur, recreated or cur < last


def _window_partials(spark, t: StarTable, cfg: dict, src: ManifestStore,
                     last: int, cur: int, reanchor: bool):
    """The partials of source versions (last, cur] to fold into the
    rollup ``t``: ``"noop"`` when the window changed nothing, None when
    only a full recompute is exact (a reanchored cursor, an unreadable
    window — see ``datasource.change_window`` — or a min/max threat set
    over the rescan cap), else (partials, threatened_cells,
    threatened_rows) as _minmax_threatened splits them, with
    threatened_cells None when no stored extremum needs a rescan."""
    ch = None if reanchor else datasource.change_window(spark, src, last,
                                                        cur)
    if ch is None or isinstance(ch, str):
        return ch
    frame = ch.frame
    if not src.table_info().hash_cols:
        # an append-only window holds inserts only: unsigned partials,
        # no retraction probes, so no threat split
        frame = frame.drop(datasource.CHANGE_TYPE_COL)
    partials = _partials(frame, cfg)
    if not any(c.startswith("_rt_") for c in partials.columns):
        return partials, None, []
    partials, prows = local.mat_local(spark, partials)
    thr, safe, rows = _minmax_threatened(spark, t, partials, cfg,
                                         partial_rows=prows)
    return None if thr == "overflow" else (safe, thr, rows)


def refresh_rollup(spark: SparkSession, t: StarTable) -> dict:
    """Advance the rollup to the source's latest version by folding the
    window's partials into it — an upsert the MoR merge operators add
    to the stored state. Hash sources fold the COALESCED range CDC (the
    net state diff for keys touched in the window): upserts net
    (new - old), deletes net retractions, intermediate churn cancels;
    correct under delta DML, CoW rewrites, compaction and restore
    alike. Append-only sources fold the window's new files. Falls back
    to a full rebuild where the module docstring lists. Returns
    {"mode": "noop"|"incremental"|"full", "from": v, "to": v}.
    """
    cfg = _cfg(t)
    if (t.info.configuration or {}).get(_CFG + "streaming") == "true":
        raise ValueError(
            "this rollup is maintained by stream_rollup; a manual "
            "refresh would double-count its micro-batches")
    src = ManifestStore(cfg["source"])
    last, cur, reanchor = _cursor(t, cfg, src)
    if cur == last and not reanchor:
        return {"mode": "noop", "from": last, "to": cur}
    key = f"rollup_refresh:{t.info.table_id}"
    win = _window_partials(spark, t, cfg, src, last, cur, reanchor)
    if isinstance(win, tuple) and win[1] is not None:
        cond = _cell_condition(["bucket_ts"] + cfg["group_cols"], win[2])
        if cond is None:
            win = None  # a threatened cell key with no literal form
    if win is None:
        partials = _source_partials(spark, src, cur, cfg)
        if reanchor:
            # the GATED write would silently no-op (the stale stamp is
            # >= cur, which the registry reads as a replay): commit the
            # overwrite with an unconditional cursor RESET instead —
            # same atomicity, re-anchored stamp
            dml.write_into(spark, t.store, partials, mode="overwrite",
                           txn_stamp_resets={f"txn:{key}": cur})
        else:
            dml.write_into(spark, t.store, partials, mode="overwrite",
                           txn_app_id=key, txn_version=cur)
        mode = "full"
    elif win == "noop":
        mode = "noop"
    else:
        partials, thr, rows = win
        if thr is not None:
            # threatened cells: replace wholesale with pinned full-cell
            # recomputes — a CoW predicate delete (the rollup's hash
            # layout prunes it to the cells' files) then absolute rows
            # inside the gated upsert. Crash replay: a deleted cell
            # reads as absent stored state → threatened again →
            # identical recompute; the safe fold is gated.
            dml.delete(spark, t.store, condition=cond, use_delta=False)
            partials = partials.unionByName(
                _rescan_cells(spark, src, cfg, cur, thr, cell_rows=rows))
        # idempotent: a crash between this commit and the cursor save
        # replays the window — the txn registry (keyed by the rollup
        # table id, versioned by the consumed SOURCE version) makes the
        # replayed upsert a no-op instead of a double-count
        dml.upsert(spark, t.store, partials, txn_app_id=key,
                   txn_version=cur)
        mode = "incremental"
    t.set_properties({_CFG + "last_version": str(cur),
                      _CFG + "source_table_id": src.table_info().table_id})
    return {"mode": mode, "from": last, "to": cur}


def stream_rollup(
    spark: SparkSession,
    t: StarTable,
    query_id: str = "rollup_stream",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Continuously maintain the rollup from the source's change stream
    (sources/datasource.py) instead of polled refreshes: each
    micro-batch's rows are aggregated to partials inside foreachBatch
    and committed through the exactly-once sink in update mode — the
    same delta-upsert + MoR-sum-merge the batch refresh uses, so the
    two paths are result-identical.

    The stream starts at the rollup's creation cursor (the initial
    full aggregate already covers everything before it), and manual
    refresh_rollup is locked out once streaming has touched the table —
    mixing the two would double-count. Pass ``checkpoint_dir`` for
    restartable streams: the sink's batch registry makes replays
    no-ops, but without a checkpoint a RESTARTED availableNow drain
    renumbers batches from 0 and would skip genuinely new data.
    """
    from starlake_spark import sources
    from starlake_spark.streaming.sink import StarStreamSink

    cfg = _cfg(t)
    if ManifestStore(cfg["source"]).table_info().hash_cols and any(
            op in ("min", "max") for op in cfg["aggs"].values()):
        raise ValueError(
            "stream_rollup consumes insert-only micro-batches and "
            "cannot see retractions — a min/max rollup over an "
            "upsertable source must refresh through refresh_rollup "
            "(threatened-cell rescan) instead")
    sources.register(spark)
    t.set_properties({_CFG + "streaming": "true"})
    sink = StarStreamSink(t.store, query_id, "update")

    def fb(batch_df, batch_id):
        partials = _partials(batch_df.drop(datasource.VERSION_COL), cfg)
        sink.write_batch(partials, batch_id)

    stream = (spark.readStream.format("star")
              .option("startingVersion", str(cfg["last_version"]))
              .load(cfg["source"]))
    w = stream.writeStream.foreachBatch(fb)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _finalize(df: DataFrame, cfg: dict) -> DataFrame:
    """Partial-state frame → the rollup's declared output columns
    (derive avg = sum/cnt; pass the rest through)."""
    out = []
    for c, op in cfg["aggs"].items():
        if op == "sum":
            out.append(F.col(f"{c}_sum").alias(f"{c}_sum"))
        if op == "count":
            out.append(F.col(f"{c}_cnt").alias(f"{c}_cnt"))
        if op == "min":
            out.append(F.col(f"{c}_min").alias(f"{c}_min"))
        if op == "max":
            out.append(F.col(f"{c}_max").alias(f"{c}_max"))
        if op == "avg":
            out.append((F.col(f"{c}_sum") / F.col(f"{c}_cnt")).alias(f"{c}_avg"))
    return df.select("bucket_ts", *cfg["group_cols"], *out, F.col("n_rows"))


def read_rollup(spark: SparkSession, t: StarTable) -> DataFrame:
    """Finalized rollup view: MoR-merge the partial states (sum/min/max
    across refresh commits), then derive avg columns. Compaction with
    the same operators (compact_rollup) leaves this view unchanged."""
    cfg = _cfg(t)
    return _finalize(t.to_df(merge_operators=_merge_ops_for(cfg["aggs"])),
                     cfg)


def read_rollup_realtime(spark: SparkSession, t: StarTable) -> DataFrame:
    """REAL-TIME rollup view (TimescaleDB real-time continuous
    aggregate analog; the reference has nothing like it): the finalized
    view AS OF the source's LATEST commit, WITHOUT writing a refresh —
    the materialized partials union the un-refreshed window's partials
    and the merge-op algebra combines them on the fly. Read cost is the
    rollup + O(new data since the last refresh): a steady refresh
    cadence keeps the tail tiny while readers never see stale buckets,
    and a read-only replica can serve fresh results without write
    permission. Result-identical to refresh-then-read (differential
    test); serves a full source recompute wherever the window resolves
    to a full rebuild (module docstring)."""
    cfg = _cfg(t)
    return _finalize(_realtime_frame(spark, t, cfg), cfg)


def _realtime_frame(spark: SparkSession, t: StarTable,
                    cfg: dict) -> DataFrame:
    """The PARTIAL-state frame read_rollup_realtime finalizes —
    materialized partials combined with the live window's partials.
    Exposed separately for the rollup-serving rewriter, which must
    re-aggregate partials (a finalized avg cannot regroup)."""
    src = ManifestStore(cfg["source"])
    last, cur, reanchor = _cursor(t, cfg, src)
    win = _window_partials(spark, t, cfg, src, last, cur, reanchor)
    if win is None:
        return _source_partials(spark, src, cur, cfg)
    ops = _merge_ops_for(cfg["aggs"])
    base = t.to_df(merge_operators=ops)
    if win == "noop":
        return base
    tail, thr, thr_rows = win
    keys = ["bucket_ts"] + cfg["group_cols"]
    merged = (base.select(*keys, *ops)
              .unionByName(tail.select(*keys, *ops))
              .groupBy(*keys)
              .agg(*[getattr(F, op)(c).alias(c) for c, op in ops.items()]))
    if thr is not None:
        # read-only analog of the refresh rescan: threatened cells are
        # REPLACED by pinned full-cell recomputes instead of folded
        rs = _rescan_cells(spark, src, cfg, cur, thr, cell_rows=thr_rows)
        tt = thr
        for k in keys:
            tt = tt.withColumnRenamed(k, k + "__t")
        acond = None
        for k in keys:
            e = F.col(k).eqNullSafe(F.col(k + "__t"))
            acond = e if acond is None else acond & e
        merged = (merged.join(F.broadcast(tt), acond, "left_anti")
                  .unionByName(rs.select(*keys, *ops)))
    return merged


def compact_rollup(spark: SparkSession, t: StarTable) -> None:
    """Materialize accumulated partials (result-invariant)."""
    cfg = _cfg(t)
    dml.compact(spark, t.store, force=True,
                merge_operators=_merge_ops_for(cfg["aggs"]))


# ---------------------------------------------------------------------------
# rollup-serving query rewrite (round 10; beyond the reference)
# ---------------------------------------------------------------------------
# A registered rollup can transparently SERVE aggregate queries over
# its source — TimescaleDB real-time continuous aggregates meet
# materialized-view rewrite. Unlike the MV rewriter there is no
# staleness gate: the served frame is read_rollup_realtime's
# partials, exact as of the source's latest commit by construction.
# Regrouping is supported: a query bucketing COARSER than the rollup
# (day from hour) and/or grouping by a SUBSET of the rollup's group
# columns re-aggregates the partials (sums of sums, min of mins) —
# the classic aggregate-rollup property.
#
# Float caveat: sums/avgs over float/double columns serve from the
# rollup's DECIMAL(28,6) partials — deterministic and at least as
# accurate as raw execution, but the last ulp can differ from a raw
# run (whose own result already varies with partitioning: Spark's
# float aggregation order is not stable). Integral and
# decimal(scale<=6) inputs are bit-identical.

_ROLLUP_REG = "_star_rollups.json"

# date_trunc units a rollup bucket can serve: u servable from b iff
# b's truncation refines u's calendar partition (every b-bucket lies
# wholly inside one u-bucket). Weeks straddle months/quarters/years,
# so 'week' serves only itself; month+ serve only the month chain.
_UNIT_ALIASES = {
    "yyyy": "year", "yy": "year", "mon": "month", "mm": "month",
    "dd": "day", "hh": "hour", "min": "minute", "ss": "second",
}
_SERVABLE = {
    "second": {"second", "minute", "hour", "day", "week", "month",
               "quarter", "year"},
    "minute": {"minute", "hour", "day", "week", "month", "quarter",
               "year"},
    "hour": {"hour", "day", "week", "month", "quarter", "year"},
    "day": {"day", "week", "month", "quarter", "year"},
    "week": {"week"},
    "month": {"month", "quarter", "year"},
    "quarter": {"quarter", "year"},
    "year": {"year"},
}


def _norm_unit(u: str) -> str:
    u = u.lower()
    return _UNIT_ALIASES.get(u, u)


def register_rollup(session, name: str, t: StarTable) -> None:
    """Register a rollup for transparent query rewrite through
    ``session.sql`` (mv.try_rewrite consults the registry after the
    MV loop misses)."""
    import os as _os

    _cfg(t)  # validates it IS a rollup table
    p = _os.path.join(session.warehouse, _ROLLUP_REG)
    reg = {}
    if _os.path.exists(p):
        with open(p) as f:
            reg = json.load(f)
    reg[name] = t.store.table_path
    tmp = f"{p}.tmp-{_os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(reg, f, indent=1, sort_keys=True)
    _os.replace(tmp, p)


def _load_rollup_registry(warehouse: str) -> dict:
    import os as _os

    p = _os.path.join(warehouse, _ROLLUP_REG)
    if not _os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


_TRUNC_RE = None


def _parse_trunc(canon_str: str):
    """('unit', inner_canon) for a TruncTimestamp canon, else None."""
    import re as _re

    global _TRUNC_RE
    if _TRUNC_RE is None:
        _TRUNC_RE = _re.compile(
            r"^TruncTimestamp\[[^\]]*\]\(lit:string:([A-Za-z]+), (.+)\)$")
    m = _TRUNC_RE.match(canon_str)
    if not m:
        return None
    return _norm_unit(m.group(1)), m.group(2)


def try_rollup_rewrite(session, sql_text: str, qinfo) -> "DataFrame | None":
    """Serve ``sql_text`` from a registered rollup, or None. ``qinfo``
    is the mv.extract QueryInfo the MV rewriter already computed."""
    from starlake_spark.plans import mv as _mv

    reg = _load_rollup_registry(session.warehouse)
    if not reg or not qinfo.has_agg or len(qinfo.tables) != 1 \
            or qinfo.join_conds or qinfo.join_types:
        return None
    src_name = qinfo.tables[0]
    try:
        src_t = session.table(src_name)
    except Exception:
        return None
    spark = session.spark
    for _name, path in sorted(reg.items()):
        try:
            t = StarTable.for_path(spark, path)
            cfg = _cfg(t)
        except Exception:
            continue
        if cfg["source"] != src_t.store.table_path:
            continue
        if cfg["source_table_id"] is not None and \
                src_t.store.table_info().table_id != cfg["source_table_id"]:
            continue  # rollup bound to a dead incarnation
        served = _serve_from_rollup(session, spark, t, cfg, src_name,
                                    src_t, sql_text, qinfo, _mv)
        if served is not None:
            return served
    return None


def _serve_from_rollup(session, spark, t, cfg, src_name, src_t,
                       sql_text, qinfo, _mv):
    group_cols = set(cfg["group_cols"])
    time_inner_ok = {f"{src_name}.{cfg['time_col']}",
                     f"cast({src_name}.{cfg['time_col']} as timestamp)"}
    bucket = _norm_unit(cfg["bucket"])

    # every query group expr must map onto the rollup's keys
    regroup: dict[str, object] = {}  # group canon -> Column over partials
    for cn in qinfo.group_by:
        tr = _parse_trunc(cn)
        if tr is not None:
            unit, inner = tr
            if inner not in time_inner_ok:
                return None
            if unit not in _SERVABLE.get(bucket, ()):
                return None
            regroup[cn] = (F.col("bucket_ts") if unit == bucket
                           else F.date_trunc(unit, F.col("bucket_ts")))
            continue
        m = cn.rsplit(".", 1)
        if len(m) == 2 and m[0] == src_name and m[1] in group_cols:
            regroup[cn] = F.col(m[1])
            continue
        return None

    # filters: only predicates fully determined by the rollup's GROUP
    # columns are safe (constant per rollup row → commute with the
    # re-aggregation); anything touching measures or the raw time
    # column kills the rewrite
    gc_canons = {f"{src_name}.{g}" for g in group_cols}
    colmap = {f"{src_name}.{g}": g for g in group_cols}
    preds = []
    for cn in qinfo.filters_below | qinfo.filters_above:
        tree = qinfo.residual_by_canon.get(cn)
        if tree is None or _mv._attrs_outside(tree, gc_canons):
            return None
        try:
            preds.append(_mv.to_sql(tree, colmap))
        except Exception:
            return None

    # outputs: group passthroughs + derivable aggregates
    from pyspark.sql import types as T

    src_dt = {f.name: f.dataType
              for f in T.StructType.fromJson(
                  json.loads(src_t.info.schema_json)).fields}
    _INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

    def _avg_expr(c):
        """Replicate Spark's Average evaluate expression exactly per
        input type, so integral and decimal avgs are bit-identical to
        raw execution (float inputs keep the documented ulp caveat)."""
        num, cnt = F.sum(f"{c}_sum"), F.sum(f"{c}_cnt")
        d = src_dt.get(c)
        if isinstance(d, T.DecimalType):
            return (num.cast(T.DecimalType(min(38, d.precision + 10),
                                           d.scale))
                    / cnt.cast(T.DecimalType(20, 0)))
        if isinstance(d, _INTEGRAL):
            return num.cast("double") / cnt.cast("double")
        return num / cnt

    aggs_cfg = cfg["aggs"]

    def _derive(body):
        """aggexpr canon body → Column over the partial frame, or
        None if the rollup cannot produce it."""
        kind, _, arg = body.partition("(")
        arg = arg.rstrip(")")
        if kind == "count" and arg.startswith("lit:"):
            return F.sum("n_rows")
        m = arg.rsplit(".", 1)
        if len(m) != 2 or m[0] != src_name:
            return None
        c = m[1]
        op = aggs_cfg.get(c)
        if kind == "sum" and op in ("sum", "avg"):
            return F.sum(f"{c}_sum")
        if kind == "count" and op in ("avg", "count"):
            return F.sum(f"{c}_cnt")
        if kind == "avg" and op == "avg":
            return _avg_expr(c)
        if kind == "min" and op == "min":
            return F.min(f"{c}_min")
        if kind == "max" and op == "max":
            return F.max(f"{c}_max")
        return None

    def _agg_canons(tree, out):
        """Canonical strings of every aggregate subtree (scalar math
        ABOVE aggregates — casts, round, sum/sum ratios — composes on
        top via to_sql substitution, the _try_match discipline)."""
        if not isinstance(tree, dict):
            return
        try:
            cn = _mv.canon(tree)
        except Exception:
            cn = ""
        if cn.startswith("aggexpr:"):
            out.append(cn)
            return  # aggregates never nest
        for ch in tree.get("_children", []):
            _agg_canons(ch, out)

    agg_cols: dict[str, tuple] = {}  # aggexpr canon -> (alias, Column)
    for _out_name, tree in qinfo.output_trees:
        found: list = []
        _agg_canons(tree, found)
        for cn in found:
            if cn in agg_cols:
                continue
            col = _derive(cn[len("aggexpr:"):])
            if col is None:
                return None
            agg_cols[cn] = (f"_rr_a{len(agg_cols)}", col)
    if not agg_cols:
        return None

    base = _realtime_frame(spark, t, cfg)
    # groups whose rows were ALL deleted persist as zero partials in
    # the rollup; the raw GROUP BY would not emit them — drop before
    # regrouping (sums are exact signed zeros, so this only removes
    # empty groups, never mass)
    base = base.filter(F.col("n_rows") > 0)
    for p in preds:
        base = base.filter(F.expr(p))
    out_map = dict(colmap)  # group-col canons already mapped
    gcols = []
    for i, cn in enumerate(sorted(regroup)):
        nm = f"_rr_g{i}"
        gcols.append(regroup[cn].alias(nm))
        out_map[cn] = nm
    acols = [col.alias(nm) for nm, col in agg_cols.values()]
    for cn, (nm, _c) in agg_cols.items():
        out_map[cn] = nm
    out = (base.groupBy(*gcols).agg(*acols) if gcols
           else base.agg(*acols))
    try:
        sel = [F.expr(_mv.to_sql(tree, out_map, allow_agg=False))
               .alias(nm) for nm, tree in qinfo.output_trees]
    except Exception:
        return None
    out = out.select(*sel)
    # exact output schema of the original query (types + order): the
    # partial algebra widens decimals and counts are sums — cast back
    want = spark.sql(sql_text).schema
    return out.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in want.fields])

