"""Run context and helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

#: process start, for ``setup_s`` (this module is imported first thing)
PROCESS_START = time.perf_counter()


@dataclass
class Run:
    """One benchmark run: arguments, scratch directory and tallies."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int
    #: ``tiny`` shrinks every input (self-test); ``full`` is the benchmark
    scale: str = "full"
    #: self-test only: replace one expected result with a wrong one
    corrupt: bool = False
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    record: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def op(self, name: str, ok: bool, detail: str = "") -> None:
        """Count one timed operation; a wrong result or an exception is a
        failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:500])
            print(f"perfbench: FAILED {name}: {detail}"[:2000], file=sys.stderr)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def closed_loop(run: Run, one_pass) -> list:
    """Whole passes back to back, the next starting when the previous
    returns: as many as fit in ``run.seconds``, and always one. A pass
    starts only if it would end within ``run.seconds`` when it takes as
    long as the last one, so a pass longer than half of ``run.seconds``
    is measured once on any host, fast or slow. ``one_pass(i)`` runs
    pass ``i``; the host's steal over the loop goes into the run record."""
    passes, steal = [], cpu_steal_s()
    start = time.perf_counter()
    while True:
        t = time.perf_counter()
        passes.append(one_pass(len(passes)))
        now = time.perf_counter()
        if now - start + (now - t) > run.seconds:
            break
    run.record.setdefault("steal_s", []).append(cpu_steal_s() - steal)
    return passes


@dataclass
class Timed:
    """One timed operation: its result or error, its wall time, its own
    time (see :func:`timed`) and the CPU seconds of the process tree spent
    in it."""

    out: object = None
    error: str = ""
    wall: float = 0.0
    own: float = 0.0
    cpu: float = 0.0


def timed(run: Run, spark, group: str | None, fn) -> Timed:
    """Run ``fn()`` as one operation under job group ``group``; an
    exception is kept as the operation's error, not raised. Only ``fn``
    is measured, so checking its result afterwards costs the program
    nothing.

    The operation's own time is its wall time less the host's share of
    it: the CPU seconds the host stole from this machine meanwhile, spread
    over the run's cores. On a shared host a neighbour's burst can stretch
    an operation by a third."""
    from .trace import job_group

    t = Timed()
    cpu, steal, t0 = tree_cpu_s(), cpu_steal_s(), time.perf_counter()
    try:
        with job_group(spark, group):
            t.out = fn()
    except Exception as e:  # a failed operation, not a crash
        t.error = f"{type(e).__name__}: {e}"
    t.wall = time.perf_counter() - t0
    t.own = max(0.0, t.wall - (cpu_steal_s() - steal) / run.cores)
    t.cpu = tree_cpu_s() - cpu
    return t


def cpu_steal_s() -> float:
    """Seconds of CPU stolen from this machine by its host so far (0 when
    the kernel does not report it); recorded beside the timings because
    a busy host slows every operation of a run alike."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


#: the host's steal at process start, for ``setup_s``
PROCESS_STEAL = cpu_steal_s()


def setup_seconds(run: Run) -> float:
    """``setup_s``: process start until now, less the host's stolen share
    as in :func:`timed`; the raw figures go into the run record."""
    wall = time.perf_counter() - PROCESS_START
    stolen = cpu_steal_s() - PROCESS_STEAL
    run.record["setup_wall_s"], run.record["setup_steal_s"] = wall, stolen
    return max(0.0, wall - stolen / run.cores)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant: the JVM and its Python workers. Stolen host time is
    mostly not charged to them, so this moves less than wall time when a
    neighbour on the host is busy."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    times: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(entry)] = int(fields[1])
        # utime stime cutime cstime (cu/cs: children already reaped)
        times[int(entry)] = sum(int(x) for x in fields[11:15])
    me, total = os.getpid(), 0
    for pid, t in times.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / tick


def start_session(run: Run):
    """The repo's own session factory on ``local[nproc]``, with every
    scratch location inside the run directory."""
    t0 = time.perf_counter()
    from sports_stats_data_pipeline_spark.session import get_spark
    from sports_stats_data_pipeline_spark.sources import tables

    tmp = run.path("tmp", "")
    spark = get_spark(
        app_name=f"perfbench-{run.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the package ships itself to Python workers as a zip; build it here
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(tables.__file__)))
    tables._ZIP_PATH_CACHE.setdefault(pkg_dir, run.path("pkg.zip"))
    tables.ensure_session_confs(spark)
    return spark, time.perf_counter() - t0


def stop_spark() -> None:
    """Stop Spark, if it was started, and wait for the JVM (and with it
    its Python workers) to exit, also when stopping the context fails."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
