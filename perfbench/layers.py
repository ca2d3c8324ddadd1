"""Which engine functions the traced run wraps, and the per-layer
metrics derived from their spans. Layer names follow the engine's
modules (``starlake_spark.<module>``)."""

from __future__ import annotations

from spans import Tracer, has_ancestor, self_times
from stats import median

# workload -> layers its ops must reach in a traced run; a wrapper that
# never fires there means a caller bypassed the patched name
EXPECTED = {
    "ingest_mor": ("reader.scan", "meta.snapshot", "meta.commit",
                   "locking.acquire", "writer.write_files", "dml.upsert",
                   "dml.delete", "dml.update", "dml.compact"),
    "read_serving": ("reader.scan", "meta.snapshot", "meta.snapshot.miss",
                     "table.history", "spark.action"),
    # its source DML also stands in for ingest_mor's write layers, which
    # BENCHMARK.json does not list
    "mv_maintain": ("mv.update_material_view", "local.mat_local",
                    "rollup.refresh_rollup", "mv.try_rewrite",
                    "sql.StarSession.sql", "rollup.read_rollup_realtime",
                    "spark.action", "dml.compact", "writer.write_files",
                    "meta.commit", "locking.acquire"),
}


def _files_out(span, files) -> None:
    span.attrs["files"] = len(files)
    span.attrs["bytes"] = sum(f.size for f in files)


def _hit(span, df) -> None:
    span.attrs["hit"] = df is not None


def install(tracer: Tracer) -> None:
    from starlake_spark import local, locking, meta, sql, table
    from starlake_spark.operators import dml, reader, writer
    from starlake_spark.plans import mv, rollup

    tracer.wrap_function(reader, "scan", "reader.scan")
    tracer.wrap_function(writer, "write_files", "writer.write_files", _files_out)
    for name in ("upsert", "delete", "update", "compact"):
        tracer.wrap_function(dml, name, f"dml.{name}")
    tracer.wrap_function(mv, "update_material_view", "mv.update_material_view")
    tracer.wrap_function(mv, "try_rewrite", "mv.try_rewrite", _hit)
    tracer.wrap_function(local, "mat_local", "local.mat_local")
    tracer.wrap_function(rollup, "refresh_rollup", "rollup.refresh_rollup")
    tracer.wrap_function(rollup, "read_rollup_realtime", "rollup.read_rollup_realtime")
    tracer.wrap_method(meta.ManifestStore, "snapshot", "meta.snapshot")
    tracer.wrap_method(meta.ManifestStore, "commit", "meta.commit")
    tracer.wrap_method(meta.Snapshot, "from_state", "meta.snapshot.miss")
    tracer.wrap_method(locking.FileLockProvider, "acquire", "locking.acquire")
    tracer.wrap_method(locking.FileLockProvider, "acquire_scoped", "locking.acquire")
    tracer.wrap_method(table.StarTable, "history", "table.history")
    tracer.wrap_method(sql.StarSession, "sql", "sql.StarSession.sql")


OP_KINDS = ("upsert", "dml", "lookup", "scan", "metadata", "refresh",
            "rewrite_query", "realtime")


# (metric, unit, better) in BENCHMARK.json order
def catalog() -> list[tuple[str, str, str]]:
    rows = [
        ("reader.scan.calls", "count", "lower"),
        ("reader.scan.s", "s", "lower"),
        ("spark.action.s", "s", "lower"),
        ("meta.snapshot.calls", "count", "lower"),
        ("meta.snapshot.s", "s", "lower"),
        ("meta.snapshot.misses", "count", "lower"),
        ("table.history.s", "s", "lower"),
        ("meta.commit.calls", "count", "lower"),
        ("meta.commit.s", "s", "lower"),
        ("locking.acquire.calls", "count", "lower"),
        ("locking.acquire.wait_s", "s", "lower"),
        ("writer.write_files.calls", "count", "lower"),
        ("writer.write_files.s", "s", "lower"),
        ("writer.files_written", "count", "lower"),
        ("writer.bytes_written", "B", "lower"),
        ("dml.upsert.self_s", "s", "lower"),
        ("dml.delete.self_s", "s", "lower"),
        ("dml.update.self_s", "s", "lower"),
        ("dml.compact.calls", "count", "lower"),
        ("dml.compact.s", "s", "lower"),
        ("dml.compact.bytes_rewritten", "B", "lower"),
        ("mv.update_material_view.s", "s", "lower"),
        ("mv.incremental_ratio", "ratio", "higher"),
        ("local.mat_local.calls", "count", "lower"),
        ("local.mat_local.s", "s", "lower"),
        ("rollup.refresh_rollup.s", "s", "lower"),
        ("mv.try_rewrite.s", "s", "lower"),
        ("mv.rewrite_hit_ratio", "ratio", "higher"),
        ("sql.StarSession.sql.self_s", "s", "lower"),
        ("rollup.read_rollup_realtime.s", "s", "lower"),
    ]
    for k in OP_KINDS:
        rows.append((f"spark.jobs.{k}", "jobs/op", "lower"))
        rows.append((f"spark.tasks.{k}", "tasks/op", "lower"))
    rows.append(("trace.overhead_pct", "%", "lower"))
    return rows


def overhead_pct(samples) -> float:
    """Tracing overhead: after the warm-up cycles, traced and untraced
    cycles alternate; per op kind compare the two medians, weighted by
    the traced count."""
    num = den = 0.0
    for lat in samples.values():
        on = [s for s, t, warm in lat if t]
        off = [s for s, t, warm in lat if warm and not t]
        if on and off:
            num += len(on) * median(on)
            den += len(on) * median(off)
    return 100.0 * (num / den - 1.0) if den else 0.0


def metrics(tracer: Tracer, samples, jobs, wl):
    """Per-layer metrics of a traced run, plus the expected layers that
    recorded no span on this workload."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    outer: dict[str, list] = {}
    for s in spans:
        # a layer re-entered below itself (acquire_scoped -> acquire,
        # snapshot -> snapshot) counts once, at its outermost span
        if not has_ancestor(s, s.name, by_id):
            outer.setdefault(s.name, []).append(s)

    def calls(name):
        return len(outer.get(name, ()))

    def secs(name):
        return sum(s.end - s.start for s in outer.get(name, ()))

    def self_s(name):
        return sum(selfs[s.id] for s in spans if s.name == name)

    rewrites = outer.get("mv.try_rewrite", [])
    compact_bytes = sum(s.attrs.get("bytes", 0) for s in outer.get("writer.write_files", ())
                        if has_ancestor(s, "dml.compact", by_id))
    v = {
        "reader.scan.calls": calls("reader.scan"),
        "reader.scan.s": secs("reader.scan"),
        "spark.action.s": secs("spark.action"),
        "meta.snapshot.calls": calls("meta.snapshot"),
        "meta.snapshot.s": secs("meta.snapshot"),
        "meta.snapshot.misses": calls("meta.snapshot.miss"),
        "table.history.s": secs("table.history"),
        "meta.commit.calls": calls("meta.commit"),
        "meta.commit.s": secs("meta.commit"),
        "locking.acquire.calls": calls("locking.acquire"),
        "locking.acquire.wait_s": secs("locking.acquire"),
        "writer.write_files.calls": calls("writer.write_files"),
        "writer.write_files.s": secs("writer.write_files"),
        "writer.files_written": sum(s.attrs.get("files", 0)
                                    for s in outer.get("writer.write_files", ())),
        "writer.bytes_written": sum(s.attrs.get("bytes", 0)
                                    for s in outer.get("writer.write_files", ())),
        "dml.upsert.self_s": self_s("dml.upsert"),
        "dml.delete.self_s": self_s("dml.delete"),
        "dml.update.self_s": self_s("dml.update"),
        "dml.compact.calls": calls("dml.compact"),
        "dml.compact.s": secs("dml.compact"),
        "dml.compact.bytes_rewritten": compact_bytes,
        "mv.update_material_view.s": secs("mv.update_material_view"),
        "mv.incremental_ratio": getattr(wl, "incremental", 0) / max(getattr(wl, "refreshes", 0), 1),
        "local.mat_local.calls": calls("local.mat_local"),
        "local.mat_local.s": secs("local.mat_local"),
        "rollup.refresh_rollup.s": secs("rollup.refresh_rollup"),
        "mv.try_rewrite.s": secs("mv.try_rewrite"),
        "mv.rewrite_hit_ratio": (sum(1 for s in rewrites if s.attrs.get("hit"))
                                 / max(len(rewrites), 1)),
        "sql.StarSession.sql.self_s": self_s("sql.StarSession.sql"),
        "rollup.read_rollup_realtime.s": secs("rollup.read_rollup_realtime"),
    }
    for k in OP_KINDS:
        n_ops, n_jobs, n_tasks = jobs.get(k, (0, 0, 0))
        v[f"spark.jobs.{k}"] = n_jobs / n_ops if n_ops else 0.0
        v[f"spark.tasks.{k}"] = n_tasks / n_ops if n_ops else 0.0
    v["trace.overhead_pct"] = overhead_pct(samples)
    units = {name: unit for name, unit, _ in catalog()}
    out = {k: {"value": val, "unit": units[k]} for k, val in v.items()}
    missing = [n for n in EXPECTED[wl.name] if not calls(n)]
    return out, missing
