"""Query workload: registry callables over the sf0.1 corpus.

One closed-loop client runs the query list in passes; each query is the
``queries()`` callable (plan build) followed by an Arrow collect of its
result, and every collected result is checked against the digest of the
query's DuckDB oracle computed during set-up.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

from .check import corrupt, digest, oracle_digests
from .common import Run, closed_loop, median, setup_seconds, start_session, timed
from .inputs import corpus_dir
from .trace import EventLog, op_metrics, peak_rss_mb, stage_profile

SPINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topk_orders_per_segment",
    "customer_order_history_window",
    "events_fixed_windows",
    "events_user_sessions",
    "dedup_survivorship",
    "neardup_minhash_pairs",
    "embedding_cosine_topk",
    "simhash_neardup_pairs",
]

#: query list and corpus scale factor per workload (``tiny`` is the self-test)
WORKLOADS = {"spine_sf0.1": (SPINE, "0.1")}
TINY_SF = "0.001"

LAYER_KEYS = (
    "build_s", "exec_s", "jobs", "stages", "tasks", "task_cpu_s", "task_run_s",
    "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "python_bytes", "stage_gap_s", "slot_util",
)


def _module_of(fn) -> str:
    """``plans.relational`` etc.: the layer a query is attributed to."""
    return fn.__module__.split("sports_stats_data_pipeline_spark.", 1)[-1]


class _Pass:
    """Runs the query list once and checks each result. Per query it returns
    (build_s, exec_s, exec start, exec end in epoch seconds) for the trace;
    per pass it keeps the summed own time and CPU seconds of the queries."""

    def __init__(self, run: Run, spark, sf_dir: str, names: list[str], registry):
        self.run, self.spark, self.sf_dir = run, spark, sf_dir
        self.names, self.registry = names, registry
        self.expected: dict[str, str] = {}
        self.traced = False
        #: per pass: own time (wall less stolen host time) and CPU seconds of
        #: the process tree in the timed queries
        self.own_s: list[float] = []
        self.cpu_s: list[float] = []

    def __call__(self, pass_no: int, count: bool = True) -> dict:
        timings, own, cpu = {}, 0.0, 0.0
        for name in self.names:
            fn = self.registry.queries[name]
            marks = [0.0, 0.0, time.time(), time.time()]

            def query():
                t0 = time.perf_counter()
                df = fn(self.spark, self.sf_dir)
                t1, marks[2] = time.perf_counter(), time.time()
                pdf = df.toPandas()
                marks[:2], marks[3] = (t1 - t0, time.perf_counter() - t1), time.time()
                return pdf

            op = timed(self.run, self.spark, f"p{pass_no}:{name}" if self.traced else None, query)
            timings[name] = tuple(marks)
            own += op.own
            cpu += op.cpu
            if count:
                got = digest(op.out) if op.out is not None else None
                self.run.op(name, got is not None and got == self.expected.get(name),
                            op.error or f"digest {got} != oracle {self.expected.get(name)}")
        self.own_s.append(own)
        self.cpu_s.append(cpu)
        return timings


def run_queries(run: Run) -> dict[str, float]:
    from sports_stats_data_pipeline_spark.plans import all_registries
    from sports_stats_data_pipeline_spark.sources.tables import load_tables

    names, sf = WORKLOADS[run.workload]
    if run.scale == "tiny":
        sf = TINY_SF
    sf_dir = corpus_dir(sf)
    run.record["inputs"] = {"sf": sf}
    registry = all_registries()
    # the DuckDB oracles (about 30 s at sf0.1, nearly all of it the two
    # near-dup pair queries) run on a second thread beside the session
    # start and the warm-up pass
    expected: dict[str, str] = {}
    oracle: dict[str, object] = {}

    def compute_oracles():
        t = time.perf_counter()
        try:
            expected.update(oracle_digests(
                sf_dir, run.work, {n: registry.oracles[n] for n in names}, threads=run.cores))
        except Exception as e:
            oracle["error"] = e
        oracle["s"] = time.perf_counter() - t

    oracle_thread = threading.Thread(target=compute_oracles, daemon=True)
    oracle_thread.start()
    spark, start_s = start_session(run)
    t = time.perf_counter()
    load_tables(spark, sf_dir)
    load_s = time.perf_counter() - t
    one_pass = _Pass(run, spark, sf_dir, names, registry)
    # the first pass of a process compiles and loads everything it touches
    t = time.perf_counter()
    one_pass(pass_no=-1, count=False)
    warmup_s = time.perf_counter() - t
    oracle_thread.join()
    if "error" in oracle:
        raise oracle["error"]
    if run.corrupt:
        expected[names[0]] = corrupt(expected[names[0]])
    one_pass.expected = expected
    setup_s = setup_seconds(run)

    one_pass.own_s.clear()
    one_pass.cpu_s.clear()
    untraced = closed_loop(run, one_pass)
    pass_s = median(one_pass.own_s)
    run.record["pass_cpu_s"] = list(one_pass.cpu_s)
    run.record["pass_s"] = [sum(b + e for b, e, _, _ in p.values()) for p in untraced]
    out = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "pass_cpu_s": median(one_pass.cpu_s),
        "process.peak_rss_mb": peak_rss_mb(spark),
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "sources.tables.load_s": load_s,
        "setup.oracle_s": oracle["s"],
    }
    if run.trace:
        out.update(_traced(run, spark, one_pass, len(untraced), registry))
        out["trace_overhead"] = median(one_pass.own_s) / pass_s
    return out


def _traced(run, spark, one_pass, n_untraced, registry):
    log = EventLog(spark, run.path("eventlog"))
    one_pass.own_s.clear()
    one_pass.traced = True
    log.start()
    try:
        traced = closed_loop(run, lambda i: one_pass(n_untraced + i))
    finally:
        events = log.stop()
    by_group, _ = stage_profile(events)
    run.record["traced_pass_s"] = [sum(b + e for b, e, _, _ in p.values()) for p in traced]
    layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    covered = total = 0.0
    per_op = defaultdict(list)
    for i, timings in enumerate(traced, start=n_untraced):
        for name, (build_s, exec_s, w1, w2) in timings.items():
            m = op_metrics(by_group.get(f"p{i}:{name}", {}), w1, w2, build_s, run.cores)
            per_op[name].append(m)
            module = _module_of(registry.queries[name])
            for k in LAYER_KEYS:
                if k != "slot_util":
                    layers[module][k] += m[k] / len(traced)
            covered += exec_s - m["stage_gap_s"]
            total += exec_s
    out = {}
    for module, m in layers.items():
        m["slot_util"] = m["task_run_s"] / (m["exec_s"] * run.cores) if m["exec_s"] else 0.0
        out.update({f"{module}.{k}": v for k, v in m.items()})
    run.record["per_op"] = {
        n: {k: median(x[k] for x in ms) for k in LAYER_KEYS} for n, ms in per_op.items()
    }
    out["trace.stage_cover"] = covered / total if total else 0.0
    return out
