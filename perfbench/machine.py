"""Fit the run to the machine and record what it ran on.

Everything the run writes lives under ``<checkout>/.perfbench_work``,
which is wiped at the start of every run: the warehouse, Spark's shuffle
and spill directory, and temp files of both the Python and the JVM side.
The engine's manifest flush policy (fsync before each version file is
published) is left as the engine ships it.

The JVM runs with C1 only (``-XX:TieredStopAtLevel=1``). A run lasts
about a minute; with the default tiered JIT, the C2 compiler was still
compiling the op paths three cycles into the loop and its compile time
(0.4-2.5 s per 0.6 s lookup) swamped the per-op CPU figures. With C1
only, per-op CPU settles within the warm-up cycles.

The heap is fixed at the driver memory (``-Xms`` = ``-Xmx``) and
collected by the parallel collector. Under the default G1, the scans'
large Arrow and parquet buffers are humongous allocations that start a
concurrent mark cycle every few seconds (about 170 collector events in
a 75-s run against 29 young collections with the parallel collector),
and how much of that concurrent work lands inside an op varied from run
to run: it was the largest part of the per-op CPU spread.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

WORK_DIR = ".perfbench_work"
DRIVER_MEM_CAP_MB = 2048


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare(root: str) -> dict:
    """Wipe the work dir and point every writer of the run into it.
    Must run before the SparkSession (and its JVM) starts."""
    work = os.path.join(root, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    cores = nproc()
    total = mem_total_mb()
    # well under physical RAM (get_spark's own default is 24g): the
    # workloads hold a few MB of table data at a time
    driver_mb = min(DRIVER_MEM_CAP_MB, total // 4)
    # collected timestamps come back in the Python process's local zone
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
        f"-XX:+UseParallelGC -Xms{driver_mb}m' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        "pyspark-shell")
    return {
        "work_dir": work,
        "master": f"local[{cores}]",
        "cores": cores,
        "mem_total_mb": total,
        "driver_mem_mb": driver_mb,
        "flush_policy": "engine default: fsync before publish",
    }


def _cpu_seconds(pid: int) -> float:
    """User plus system CPU time a process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_clock(spark):
    """A clock of the CPU seconds used by this Python driver plus the
    Spark JVM it launched (which runs the executors in local mode)."""
    jvm = spark.sparkContext._gateway.proc.pid
    return lambda: time.process_time() + _cpu_seconds(jvm)


# the reference burst: sort a fresh copy of the same random ints, twice
REF_INTS = 1 << 18
REF_SORTS = 2
REF_SEED = 7


class RefBurst:
    """A fixed CPU burst in the Spark JVM, run between ops: sort a copy
    of the same random int array. The program under test never changes
    it, so its CPU time tracks only how fast the host runs the JVM at
    that moment (a shared host's load moved it by up to 30% between
    runs, and every op's CPU time with it). Op CPU divided by the mean
    burst CPU of the same window cancels most of that drift."""

    def __init__(self, spark, cpu_clock):
        gateway = spark.sparkContext._gateway
        jvm = gateway.jvm
        self._src = jvm.java.util.Random(REF_SEED).ints(REF_INTS).toArray()
        self._buf = gateway.new_array(jvm.int, REF_INTS)
        self._copy = jvm.java.lang.System.arraycopy
        self._sort = jvm.java.util.Arrays.sort
        self._clock = cpu_clock

    def run(self) -> float:
        """CPU seconds (driver plus JVM) of one burst."""
        c0 = self._clock()
        for _ in range(REF_SORTS):
            self._copy(self._src, 0, self._buf, 0, REF_INTS)
            self._sort(self._buf)
        return self._clock() - c0


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident memory (VmHWM) of one process, this one by default."""
    with open(f"/proc/{pid or os.getpid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_gateway(gateway) -> None:
    """Shut down the py4j gateway and wait for the Spark JVM to exit."""
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
