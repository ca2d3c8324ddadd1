#!/usr/bin/env python
"""Per-Spark-job attribution for a bench entry via the event log.

Usage: python joblog_entry.py <entry> [...]
Prints each job's wall time + callsite so fixed-cost jobs can be counted
and attributed to engine call sites (optimization-round measurement).
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
EVDIR = "/tmp/starlake_evlog"


def main() -> None:
    names = sys.argv[1:]
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{CPUS}]"
    from pyspark.sql import SparkSession

    # mirror get_spark() configs + event log
    from starlake_spark import session as S
    orig = S.get_spark

    def patched(app_name="starlake_spark", master=None):
        b = SparkSession.builder.config("spark.eventLog.enabled", "true") \
            .config("spark.eventLog.dir", EVDIR)
        return orig(app_name, master)

    SparkSession.builder.config("spark.eventLog.enabled", "true")
    # simplest: build once here with eventLog, get_spark will getOrCreate it
    spark = (SparkSession.builder.appName("joblog")
             .master(f"local[{CPUS}]")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", EVDIR)
             .config("spark.eventLog.compress", "false")
             .config("spark.sql.shuffle.partitions", CPUS)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.parquet.compression.codec", "snappy")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
             .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                     os.environ.get("SPARK_GRAFT_LIST_JOB_THRESHOLD", "4096"))
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "24g")
             .config("spark.local.dir", "/dev/shm")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    # attribute jobs to engine call sites via job descriptions
    import functools

    def lab(mod, fname):
        f = getattr(mod, fname)

        @functools.wraps(f)
        def w(*a, **kw):
            sc = spark.sparkContext
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(f"{mod.__name__.split('.')[-1]}.{fname}")
            try:
                return f(*a, **kw)
            finally:
                sc.setJobDescription(prev)
        setattr(mod, fname, w)

    from starlake_spark.operators import dml, writer, reader
    from starlake_spark.plans import mv, rollup
    from starlake_spark.sources import datasource
    from starlake_spark import meta, table as tbl
    for m, fn_ in [(writer, "write_files"), (dml, "upsert"), (dml, "delete"),
                   (dml, "write_into"), (dml, "delete_keys"), (dml, "update"),
                   (dml, "_commit_tombstones"), (dml, "compact"),
                   (datasource, "change_window"), (mv, "_apply_delta"),
                   (mv, "create_material_view"), (mv, "_mv_init_frame"),
                   (mv, "_sync_distinct_aux"), (mv, "_prune_touched"),
                   (tbl, "create_table"),
                   (reader, "_prune_files_by_stats")]:
        lab(m, fn_)

    from starlake_spark.queries import all_queries
    qs = all_queries()
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    for name in names:
        fn = qs[name][0]
        mark = f"__ENTRY_{name}__"
        spark.sparkContext.setJobDescription(mark + "start")
        t0 = time.monotonic()
        df = fn(spark, SF_DIR)
        t_build = time.monotonic() - t0
        spark.sparkContext.setJobDescription(None)
        df.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        print(f"\n===== {name}: {wall:.2f}s (build {t_build:.2f}s)")

    spark.stop()
    # parse event log
    jobs = {}
    files = [f for f in glob.glob(os.path.join(EVDIR, "**", "*"), recursive=True)
             if os.path.isfile(f)]
    for f in files:
        for line in open(f, errors="ignore"):
            try:
                ev = json.loads(line)
            except Exception:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "t0": ev["Submission Time"],
                    "desc": props.get("spark.job.description") or "",
                    "callsite": props.get("callSite.short", ""),
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]
    total = 0.0
    print(f"\n{'jid':>4} {'sec':>7}  callsite / desc")
    for jid in sorted(jobs):
        j = jobs[jid]
        if "t1" not in j:
            continue
        sec = (j["t1"] - j["t0"]) / 1000.0
        total += sec
        print(f"{jid:>4} {sec:7.3f}  {j['callsite'][:60]} | {j['desc'][:80]}")
    print(f"TOTAL job seconds: {total:.2f} over {len(jobs)} jobs")


if __name__ == "__main__":
    main()
