"""Tracing for the benchmark's traced runs, all from outside the package.

- :class:`EventLog` attaches Spark's own ``EventLoggingListener`` to the
  running context for the traced phase only, so the untraced phase of
  the same process (same warm JVM) gives the baseline for
  ``trace_overhead``. The log is written uncompressed and unrolled to a
  run-scoped directory and parsed into per-operation stage metrics.
- Operations are tagged with a Spark job group (:func:`job_group`).
- :class:`StreamListener` is a Python ``StreamingQueryListener`` that keeps
  every progress event per query.
- :class:`CallStats` wraps a module's public function to count and time
  calls into it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

#: task-metric accumulables summed per stage (name in the event log ->
#: metric key)
_STAGE_SUMS = {
    "internal.metrics.executorRunTime": "task_run_ms",
    "internal.metrics.executorCpuTime": "task_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


class EventLog:
    """Spark's event log, attached to a running context on demand."""

    def __init__(self, spark, log_dir: str):
        self.spark, self.log_dir = spark, log_dir
        self._listener = None

    def start(self) -> None:
        sc = self.spark.sparkContext
        jvm, jsc = sc._jvm, sc._jsc.sc()
        os.makedirs(self.log_dir, exist_ok=True)
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"{sc.applicationId}-{int(time.time() * 1000)}",
            jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{os.path.abspath(self.log_dir)}"),
            conf,
            jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def stop(self) -> list[dict]:
        """Detach, flush, and return the parsed events."""
        if self._listener is None:
            return []
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None
        events = []
        for path in sorted(glob.glob(os.path.join(self.log_dir, "*"))):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
        return events


@contextlib.contextmanager
def job_group(spark, group: str | None):
    """Tag every job started inside the block (no-op for ``None``)."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def stage_profile(events: list[dict]) -> tuple[dict, dict]:
    """Parse an event log into ``(by_group, by_batch)``.

    ``by_group[group]``: jobs, stages, tasks, the summed task metrics of
    ``_STAGE_SUMS`` and each stage's (submit, complete) interval in epoch
    ms. ``by_batch[(query_id, batch_id)]``: jobs of one streaming
    micro-batch."""
    stage_group: dict[int, str] = {}
    by_group: dict[str, dict] = defaultdict(
        lambda: defaultdict(float, intervals=[])
    )
    by_batch: dict[tuple[str, str], int] = defaultdict(int)
    for e in events:
        if e["Event"] != "SparkListenerJobStart":
            continue
        props = e.get("Properties") or {}
        qid, bid = props.get("sql.streaming.queryId"), props.get("streaming.sql.batchId")
        if qid is not None and bid is not None:
            by_batch[(qid, bid)] += 1
        group = props.get("spark.jobGroup.id")
        if group is None:
            continue
        by_group[group]["jobs"] += 1
        for sid in e.get("Stage IDs", []):
            stage_group[sid] = group
    for e in events:
        if e["Event"] != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        group = stage_group.get(info["Stage ID"])
        if group is None or "Submission Time" not in info:
            continue
        g = by_group[group]
        g["stages"] += 1
        g["tasks"] += info.get("Number of Tasks", 0)
        g["intervals"].append((info["Submission Time"], info["Completion Time"]))
        for acc in info.get("Accumulables", []):
            key = _STAGE_SUMS.get(acc.get("Name"))
            if key is not None:
                try:
                    g[key] += float(acc.get("Value", 0))
                except (TypeError, ValueError):
                    pass
    return by_group, by_batch


def op_metrics(group: dict, t0: float, t1: float, build_s: float, cores: int) -> dict:
    """Per-operation layer metrics from one job group's stage profile;
    ``[t0, t1]`` is the timed execution window in epoch seconds."""
    exec_s = t1 - t0
    clipped = [
        (max(a, t0 * 1000), min(b, t1 * 1000))
        for a, b in group.get("intervals", [])
        if b > t0 * 1000 and a < t1 * 1000
    ]
    covered_s = _union_ms(clipped) / 1000
    task_run_s = group.get("task_run_ms", 0.0) / 1000
    return {
        "build_s": build_s,
        "exec_s": exec_s,
        "jobs": group.get("jobs", 0.0),
        "stages": group.get("stages", 0.0),
        "tasks": group.get("tasks", 0.0),
        "task_cpu_s": group.get("task_cpu_ns", 0.0) / 1e9,
        "task_run_s": task_run_s,
        "gc_s": group.get("gc_ms", 0.0) / 1000,
        "input_bytes": group.get("input_bytes", 0.0),
        "shuffle_read_bytes": group.get("shuffle_read_bytes", 0.0),
        "shuffle_write_bytes": group.get("shuffle_write_bytes", 0.0),
        "spill_bytes": group.get("spill_bytes", 0.0),
        "python_bytes": group.get("python_bytes", 0.0),
        "stage_gap_s": max(0.0, exec_s - covered_s),
        "slot_util": task_run_s / (exec_s * cores) if exec_s > 0 else 0.0,
    }


class StreamListener(StreamingQueryListener):
    """Keeps every progress event per query id; :meth:`wait_terminated`
    blocks until the query's terminated event has been delivered (batch
    progress events can still be in flight when ``awaitTermination``
    returns)."""

    def __init__(self):
        self.started: dict[str, str] = {}
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self._done: dict[str, threading.Event] = defaultdict(threading.Event)
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.started[str(event.id)] = event.name or ""

    def onQueryProgress(self, event):
        with self._lock:
            self.progress[str(event.progress.id)].append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            done = self._done[str(event.id)]
        done.set()

    def query_ids(self) -> set[str]:
        with self._lock:
            return set(self.started)

    def wait_terminated(self, qid: str, timeout: float = 30.0) -> list[dict]:
        with self._lock:
            done = self._done[qid]
        done.wait(timeout)
        with self._lock:
            return list(self.progress.get(qid, []))


class CallStats:
    """Counts and times calls into ``module.name`` while installed.

    ``on_call(args)`` runs before each call (for per-call measurements
    such as the bytes a promote moves)."""

    def __init__(self, module, name: str, on_call=None):
        self.module, self.name, self.on_call = module, name, on_call
        self.calls, self.seconds = 0, 0.0
        self._orig = getattr(module, name)

    def __enter__(self):
        orig = self._orig

        def wrapper(*args, **kwargs):
            if self.on_call is not None:
                self.on_call(*args, **kwargs)
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t

        setattr(self.module, self.name, wrapper)
        return self

    def __exit__(self, *exc):
        setattr(self.module, self.name, self._orig)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (0 when absent)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this driver process plus the JVM."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm_kb("self") + hwm_kb(jvm_pid)) / 1024
