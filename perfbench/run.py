"""Lakehouse op-stream benchmark for starlake_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload {ingest_mor,read_serving,mv_maintain}
        --seed N --seconds S --trace {0,1} [--scale sf0.01|sf0.001]

One client thread drives one closed loop against ``local[nproc]`` for S
seconds. With ``--trace 0`` the last stdout line is the JSON result with
the end-to-end metrics; with ``--trace 1`` the engine's layer entry points
are wrapped (layers.py) and the result carries the per-layer metrics. The
line before it is a JSON object with the machine, the seed and per-op-kind
latency detail. Any failed oracle makes ``correct`` false and the exit
code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import machine
import stats
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# op costs are CPU time (driver process + Spark JVM) in units of a
# fixed reference burst run in the same window (machine.RefBurst): on a
# shared VM, hypervisor steal moves wall times by ±30% between runs of
# the same code, and the host's load still moves CPU time by up to 25%;
# wall latencies and raw CPU seconds are reported in the detail line
E2E_UNITS = {
    "setup_s": "s",
    "cpu_per_op_ref": "ref",
    "primary_cpu_ref": "ref",
    "driver_peak_rss_mb": "MB",
    "bytes_written_per_row": "B/row",
    "space_amp": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_mor", "read_serving", "mv_maintain"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=sorted(datagen.SCALES), default="sf0.01")
    return p.parse_args(argv)


def bytes_added(table) -> int:
    """Data-file bytes added over the table's whole history, from the
    manifest's add records (files live in version v but not in v-1)."""
    store = table.store
    prev: set[str] = set()
    total = 0
    for v in store.list_versions():
        files = {f.path: f.size for f in store.snapshot(v).all_files()}
        total += sum(size for path, size in files.items() if path not in prev)
        prev = set(files)
    return total


def plain_copy_bytes(rows, path: str) -> int:
    """Bytes of one compacted plain-parquet copy (one snappy file) of
    the rows the main table should hold."""
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), path,
                   compression="snappy")
    return os.path.getsize(path)


def spark_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


class Loop:
    """The closed loop: one op at a time until the deadline, each timed
    around the engine call only and checked against the model after."""

    def __init__(self, spark, wl, tracer: Tracer | None, on_first_cycle=None):
        self.sc = spark.sparkContext
        self.on_first_cycle = on_first_cycle
        self.state: dict = {}
        self.wl = wl
        self.tracer = tracer
        # kind -> [(wall seconds, traced, after the warm-up cycles)]
        self.samples = defaultdict(list)
        # kind -> [CPU seconds of the driver and the Spark JVM during the
        # op], for the workload's measured cycles after the warm-up cycles
        # (which also pay the JVM's JIT compilation of the op paths); a
        # fixed window, so the figures do not depend on how many cycles fit
        self.cpu = defaultdict(list)
        self.cpu_clock = machine.cpu_clock(spark)
        # CPU seconds of the reference bursts run after the same ops
        self.ref_cpu: list[float] = []
        self.ref = machine.RefBurst(spark, self.cpu_clock)
        self.jobs = defaultdict(lambda: [0, 0, 0])  # kind -> [ops, jobs, tasks]
        self.errors: list[str] = []
        self.attempted = self.failed = self.rows = 0

    def run(self, seconds: float) -> None:
        tracer, cycle = self.tracer, len(self.wl.cycle)
        stop_every = cycle if tracer is not None else self.wl.stop_every or cycle
        # the warm-up cycles, then the measured cycles (a traced and an
        # untraced one when tracing), then whole multiples of stop_every
        # until the deadline has passed
        measured = 2 if tracer is not None else self.wl.measured_cycles
        first = self.wl.warmup_cycles * cycle
        min_ops = first + measured * cycle
        deadline = time.perf_counter() + seconds
        i = 0
        while i % stop_every or i < min_ops or time.perf_counter() < deadline:
            op = self.wl.op(i)
            warm = i >= first
            # after the warm-up, a traced run alternates traced and
            # untraced cycles; their latency difference is the overhead
            traced = tracer is not None and warm and (i // cycle) % 2 == 1
            group = f"perfbench-op-{i}"
            if tracer is not None:
                self.sc.setJobGroup(group, op.kind)
                tracer.op = i
                tracer.active = traced
            self.attempted += 1
            c0 = self.cpu_clock()
            t0 = time.perf_counter()
            try:
                with tracer.span("op." + op.kind) if traced else nullcontext():
                    res = op.run()
            except Exception as e:  # noqa: BLE001 - reported as a failed op
                self.failed += 1
                self.errors.append(f"op {i} ({op.kind}) raised {e!r}")
                return
            finally:
                if tracer is not None:
                    tracer.active = False
            self.samples[op.kind].append((time.perf_counter() - t0, traced, warm))
            if warm and i < min_ops:
                self.cpu[op.kind].append(self.cpu_clock() - c0)
            # after every op, so the warm-up cycles warm the burst up too
            burst = self.ref.run()
            if warm and i < min_ops:
                self.ref_cpu.append(burst)
            self.rows += op.rows
            err = op.check(res)
            if err:
                self.failed += 1
                self.errors.append(f"op {i} ({op.kind}): {err}")
            if traced:
                acc = self.jobs[op.kind]
                n_jobs, n_tasks = spark_counts(self.sc, group)
                acc[0] += 1
                acc[1] += n_jobs
                acc[2] += n_tasks
            i += 1
            if i == cycle and self.on_first_cycle is not None:
                # table-state metrics are read after exactly one cycle,
                # so they do not depend on how many cycles fit the run
                t0 = time.perf_counter()
                self.state = self.on_first_cycle()
                deadline += time.perf_counter() - t0

    def finish(self) -> None:
        """End-of-run oracles, counted as one more checked op."""
        self.attempted += 1
        errs = self.wl.finish() if not self.errors else []
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    def latencies(self) -> list[float]:
        return [s for kind in self.samples.values() for s, _, _ in kind]


def state_metrics(wl, rows: int, work: str) -> dict:
    """Write amplification and space amplification of the workload's
    tables as they stand now; ``rows`` = rows the loop submitted so far."""
    written = sum(bytes_added(t) for t in wl.tables)
    live = wl.main.stats()["total_bytes"]
    plain = plain_copy_bytes(wl.live_rows(), os.path.join(work, "plain_copy.parquet"))
    return {"bytes_written_per_row": written / max(wl.setup_rows + rows, 1),
            "space_amp": live / plain}


def cpu_seconds(wl, loop: Loop) -> dict:
    """Raw CPU seconds of the measured window: per op, per primary op,
    per reference burst."""
    cpu = [c for kind in loop.cpu.values() for c in kind]
    primary = loop.cpu[wl.primary]
    return {"per_op": sum(cpu) / len(cpu),
            # a mean: the primary kind's ops in one cycle can be of
            # different shapes (mv_maintain refreshes three kinds of
            # view), and the median of a mix jumps between shapes
            "primary": sum(primary) / len(primary),
            "ref_burst": sum(loop.ref_cpu) / len(loop.ref_cpu)}


def e2e_metrics(wl, loop: Loop, setup_cpu: list[float]) -> dict:
    cpu = cpu_seconds(wl, loop)
    values = {
        "setup_s": stats.median(setup_cpu),
        "cpu_per_op_ref": cpu["per_op"] / cpu["ref_burst"],
        "primary_cpu_ref": cpu["primary"] / cpu["ref_burst"],
        # the Python driver program: the engine's manifest, planning and
        # refresh logic runs here (the Spark JVM's RSS follows its GC's
        # heap sizing and is recorded in the detail line)
        "driver_peak_rss_mb": machine.peak_rss_mb(),
        **loop.state,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def measure(args, spark, env: dict, session_s: float) -> int:
    import layers
    from workloads import WORKLOADS

    tracer = Tracer() if args.trace else None
    wl = WORKLOADS[args.workload](spark, np.random.default_rng(args.seed),
                                  datagen.SCALES[args.scale], tracer)
    work = env["work_dir"]
    cpu_clock = machine.cpu_clock(spark)
    setup_runs, setup_cpu = [], []
    for r in range(wl.setup_repeats):
        c0, t0 = cpu_clock(), time.perf_counter()
        wl.setup(os.path.join(work, f"setup{r}"))
        setup_runs.append(time.perf_counter() - t0)
        setup_cpu.append(cpu_clock() - c0)

    loop = Loop(spark, wl, tracer,
                None if tracer else lambda: state_metrics(wl, loop.rows, work))
    if tracer is not None:
        layers.install(tracer)
        try:
            loop.run(args.seconds)
        finally:
            tracer.uninstall()
    else:
        loop.run(args.seconds)
    t0 = time.perf_counter()
    loop.finish()
    finish_s = time.perf_counter() - t0

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, **env,
        "session_s": session_s, "setup_runs_s": setup_runs,
        "setup_cpu_s": setup_cpu, "finish_s": finish_s,
        # wall-clock latency per op kind: median, supported tail, count
        "ops": {k: {**stats.summarize([s for s, _, _ in v]),
                    "traced": sum(t for _, t, _ in v),
                    "warm_cpu_p50": stats.median(loop.cpu[k]) if loop.cpu[k] else None}
                for k, v in loop.samples.items()},
        "wall_ops_per_s": len(loop.latencies()) / sum(loop.latencies()),
    }
    if loop.errors:
        metrics = {}  # a run with a failed op reports no figures
    elif tracer is None:
        metrics = e2e_metrics(wl, loop, setup_cpu)
        detail["cpu_s"] = cpu_seconds(wl, loop)
        detail["jvm_peak_rss_mb"] = machine.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    else:
        tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics, missing = layers.metrics(tracer, loop.samples, loop.jobs, wl)
        detail["spans"] = len(tracer.spans)
        if missing:
            loop.failed += 1
            loop.errors.append(f"wrappers never fired on {args.workload}: {missing}")
    detail["errors"] = loop.errors[:20]
    print(json.dumps({"perfbench": detail}, default=str))
    if loop.errors:
        print("\n".join(loop.errors), file=sys.stderr)
    print(json.dumps({"correct": not loop.errors, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    return 1 if loop.errors else 0


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, ROOT)
    try:
        import starlake_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    env = machine.prepare(ROOT)
    from starlake_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        return measure(args, spark, env, session_s)
    finally:
        spark.stop()
        machine.stop_gateway(gateway)


if __name__ == "__main__":
    sys.exit(main())
