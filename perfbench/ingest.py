"""The ``incremental_ingest`` workload: the reference's own write path.

One closed-loop client repeats a cycle of six timed steps, each into
fresh sinks:

1. cold ``ingest`` of fighter and fight pages into empty sinks;
2. a delta run over the cold keys plus a seeded share of new keys;
3. a no-op resume run over the same keys (zero new keys);
4. ``run_streaming_neardup_dedup`` over K mtime-ordered landing files;
5. ``run_streaming_upsert`` of the events table;
6. ``streaming_tumbling_hourly_table`` over the events table.

Every step's output is checked: sinks against the driver-side parse of
every page the scripted transport serves (cold + delta must equal one
full run; keys unique; exactly the scripted failing URLs absent), the
near-dup admissions against the DuckDB greedy fold, the upsert sink for
one row per event, the windows against their DuckDB oracle.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .check import corrupt, digest, duckdb_connection
from .common import Run, closed_loop, median, setup_seconds, start_session, timed
from .inputs import PageKeys, PageTransport, corpus_dir, fails, page_keys
from .trace import CallStats, EventLog, StreamListener, dir_bytes, job_group, peak_rss_mb, stage_profile

#: cold fighter pages, cold fight pages, landing files, and the corpus
#: scale factors of the events (upsert, windows) and of the documents
#: (near-dup stream)
SIZES = {
    "full": dict(fighters=2400, fights=1200, files=3, events_sf="0.1", docs_sf="0.01"),
    "tiny": dict(fighters=80, fights=40, files=2, events_sf="0.001", docs_sf="0.001"),
}

KINDS = ("fighter", "fight")


@dataclass
class Bundle:
    """Inputs of one cycle plus their expected results."""

    sf_dir: str  # the events table
    landing: str
    keys: PageKeys
    urls: dict[str, dict[str, list[str]]]  # kind -> {"cold", "all"} -> urls
    n_docs: int
    n_events: int
    expected: dict[str, object] = field(default_factory=dict)
    parse_s: float = 0.0
    pages_parsed: int = 0
    rows_parsed: int = 0


def _synth(kind: str):
    from sports_stats_data_pipeline_spark.sources.synthetic_pages import (
        synth_fight_page,
        synth_fighter_page,
    )

    return synth_fighter_page if kind == "fighter" else synth_fight_page


def _field_names(kind: str) -> list[str]:
    from sports_stats_data_pipeline_spark.schemas import FIGHTERS_RAW, FIGHTS_RAW

    struct, key = (FIGHTERS_RAW, "URL") if kind == "fighter" else (FIGHTS_RAW, "fight_url")
    return [f.name for f in struct if f.name != key]


def _expected_sink(bundle: Bundle, kind: str, keys) -> pd.DataFrame:
    """What one full ingest of ``keys`` must leave in the sink: the
    driver-side parse of every page the transport serves."""
    from sports_stats_data_pipeline_spark.sources import html_source

    parse = html_source.parse_fighter_page if kind == "fighter" else html_source.parse_fight_page
    names = _field_names(kind)
    rows = []
    for group, idx in keys:
        url, html = _synth(kind)(group, idx)
        if fails(bundle.keys.seed, bundle.keys.fail_per_mille, url):
            continue
        t = time.perf_counter()
        parsed = parse(html)
        bundle.parse_s += time.perf_counter() - t
        bundle.pages_parsed += 1
        if parsed is not None:
            bundle.rows_parsed += 1
            rows.append({"url": url} | {k: parsed.get(k) for k in names})
    return pd.DataFrame(rows, columns=["url", *names], dtype=object)


def _make_bundle(run: Run, spark, size: dict) -> Bundle:
    from sports_stats_data_pipeline_spark.plans.documents import _neardup_docs

    sf_dir = corpus_dir(size["events_sf"])
    keys = page_keys(run.seed, size["fighters"], size["fights"])
    urls = {}
    for kind, cold, new in (("fighter", keys.fighters, keys.fighters_new),
                            ("fight", keys.fights, keys.fights_new)):
        synth = _synth(kind)
        cold_urls = [synth(g, i)[0] for g, i in cold]
        urls[kind] = {"cold": cold_urls, "all": cold_urls + [synth(g, i)[0] for g, i in new]}
    # near-dup landing files: one parquet file per micro-batch, seeded split,
    # arrival order pinned by modification time
    docs = _neardup_docs(spark, corpus_dir(size["docs_sf"])).select("doc_id", "text").toPandas()
    docs = docs.sort_values("doc_id", ignore_index=True)
    docs["batch"] = np.random.default_rng([run.seed, 3]).integers(0, size["files"], len(docs))
    landing = run.path("landing", "")
    for i in range(size["files"]):
        part = docs[docs["batch"] == i][["doc_id", "text"]]
        dest = os.path.join(landing, f"batch{i}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), dest)
        os.utime(dest, (1_700_000_000 + 100 * i,) * 2)
    n_events = pq.read_metadata(os.path.join(sf_dir, "events.parquet")).num_rows
    bundle = Bundle(sf_dir, landing, keys, urls, n_docs=len(docs), n_events=n_events)
    bundle.expected["docs"] = docs
    return bundle


def _oracles(run: Run, bundle: Bundle) -> None:
    """Expected results of every step."""
    from sports_stats_data_pipeline_spark.plans import all_registries
    from sports_stats_data_pipeline_spark.streaming.dedup_lsh import greedy_fold_cte_parts

    keys = bundle.keys
    for kind, cold, new in (("fighter", keys.fighters, keys.fighters_new),
                            ("fight", keys.fights, keys.fights_new)):
        cold_pdf = _expected_sink(bundle, kind, cold)
        all_pdf = pd.concat([cold_pdf, _expected_sink(bundle, kind, new)], ignore_index=True)
        bundle.expected[f"{kind}:cold"] = digest(cold_pdf)
        bundle.expected[f"{kind}:all"] = digest(all_pdf)
        bundle.expected[f"{kind}:failing"] = {
            u for u in bundle.urls[kind]["all"] if fails(keys.seed, keys.fail_per_mille, u)
        }
    con = duckdb_connection(bundle.sf_dir, run.work, threads=run.cores)
    try:
        docs = bundle.expected.pop("docs")
        con.register("docs_in", docs)
        n_files = int(docs["batch"].max()) + 1
        parts, final = greedy_fold_cte_parts(n_files)
        sql = ("WITH docs AS (SELECT doc_id, text, batch FROM docs_in), "
               + ", ".join(parts) + f" SELECT doc_id FROM {final}")
        bundle.expected["neardup"] = frozenset(int(x) for x in con.execute(sql).df()["doc_id"])
        windows = all_registries().oracles["events_fixed_windows"]
        bundle.expected["window"] = digest(con.execute(
            "SELECT bucket_s, event_type, n_events, value_c "
            f"FROM ({windows}) WHERE win = 'tumbling_1h'").df())
    finally:
        con.close()


class _Cycle:
    """One pass over the six steps; returns step walls and layer data."""

    def __init__(self, run: Run, spark):
        from sports_stats_data_pipeline_spark.sources.fetch import FetchConfig

        self.run, self.spark = run, spark
        sc = spark.sparkContext
        self.ok, self.err = sc.accumulator(0), sc.accumulator(0)
        # the reference's politeness sleeps are not engine work
        self.cfg = FetchConfig(sleep=lambda s: None, seed=run.seed)
        self.listener: StreamListener | None = None
        #: per cycle: process-tree CPU seconds of the timed steps, and each
        #: step's wall time and own time
        self.cpu_s = 0.0
        self.walls: dict[str, float] = {}
        self.own: dict[str, float] = {}

    def _transport(self, bundle: Bundle) -> PageTransport:
        return PageTransport(bundle.keys.seed, bundle.keys.fail_per_mille, self.ok, self.err)

    def _check_sink(self, name, sink, bundle, kind, which) -> None:
        pdf = self.spark.read.parquet(sink).toPandas()
        urls = set(pdf["url"])
        missing = set(bundle.urls[kind][which]) - urls
        failing = bundle.expected[f"{kind}:failing"] & set(bundle.urls[kind][which])
        problems = []
        if len(urls) != len(pdf):
            problems.append(f"{len(pdf) - len(urls)} duplicate keys")
        if missing != failing:
            problems.append(f"absent {len(missing)} urls, scripted failing {len(failing)}")
        got, want = digest(pdf), bundle.expected[f"{kind}:{which}"]
        if got != want:
            problems.append(f"sink digest {got} != expected {want}")
        self.run.op(name, not problems, "; ".join(problems))

    def _timed(self, step, group, fn):
        """Run one timed operation of ``step``, adding its wall time, own
        time and CPU seconds to the cycle's tallies; returns its result and
        error."""
        op = timed(self.run, self.spark, group, fn)
        self.cpu_s += op.cpu
        self.walls[step] = self.walls.get(step, 0.0) + op.wall
        self.own[step] = self.own.get(step, 0.0) + op.own
        return op.out, op.error

    def _new_query(self, before: set[str]) -> list[dict]:
        if self.listener is None:
            return []
        new = self.listener.query_ids() - before
        return self.listener.wait_terminated(new.pop()) if new else []

    def __call__(self, bundle: Bundle, tag: str, count: bool, traced: bool,
                 phases=("cold", "delta", "noop")) -> dict:
        from sports_stats_data_pipeline_spark.sources import scrape_pipeline
        from sports_stats_data_pipeline_spark.streaming import dedup_lsh, pipeline

        run, spark = self.run, self.spark
        self.cpu_s, self.walls, self.own = 0.0, {}, {}
        walls = self.walls
        transport = self._transport(bundle)
        group = (lambda s: f"{tag}:{s}") if traced else (lambda s: None)
        layer: dict[str, float] = {}
        sinks = {k: run.path(tag, f"sink_{k}") for k in KINDS}

        def ok_calls():
            return self.ok.value, self.err.value

        if traced:
            layer.update(self._prefixes(bundle, transport, group))

        written: dict[str, int] = {}

        def on_promote(sink_path):
            written[sink_path] = dir_bytes(sink_path + ".staging")

        promote = CallStats(scrape_pipeline, "promote_staging", on_promote) if traced else None
        with promote or nullcontext():
            for phase in phases:
                which = "cold" if phase == "cold" else "all"
                calls0 = ok_calls()
                before = {k: dir_bytes(sinks[k]) for k in KINDS}
                for kind in KINDS:
                    name = f"{phase}:{kind}"
                    written.clear()
                    _, error = self._timed(phase, group(name), lambda: scrape_pipeline.ingest(
                        spark, bundle.urls[kind][which], transport, sinks[kind],
                        kind=kind, cfg=self.cfg, concurrency=run.cores))
                    if error:
                        if count:
                            run.op(name, False, error)
                        continue
                    if count:
                        self._check_sink(name, sinks[kind], bundle, kind, which)
                    new_bytes = dir_bytes(sinks[kind]) - before[kind]
                    wrote = sum(written.values())
                    layer[f"operators.sinks.write_bytes.{phase}"] = (
                        layer.get(f"operators.sinks.write_bytes.{phase}", 0) + wrote)
                    if phase != "noop":
                        layer[f"_new_bytes.{phase}"] = layer.get(f"_new_bytes.{phase}", 0) + new_bytes
                ok, err = ok_calls()
                layer[f"_calls.{phase}"] = (ok - calls0[0], err - calls0[1])

        if promote is not None:
            layer["operators.sinks.promote_calls"] = promote.calls
            layer["operators.sinks.promote_s"] = promote.seconds

        # 4. near-dup admission stream
        store = run.path(tag, "neardup_store")
        before = self.listener.query_ids() if self.listener else set()
        admitted, error = self._timed("stream", group("stream"), lambda: {
            int(x) for x in dedup_lsh.run_streaming_neardup_dedup(
                spark, bundle.landing, store).select("doc_id").toPandas()["doc_id"]})
        progress = self._new_query(before)
        if count:
            want = bundle.expected["neardup"]
            run.op("stream", admitted == want,
                   error or f"admitted {len(admitted or ())} docs, fold admits {len(want)}")
        layer.update(_neardup_layers(progress, store, admitted, walls["stream"], bundle))

        # 5. streaming upsert
        sink = run.path(tag, "upsert_sink")
        upsert_written: list[int] = []
        before = self.listener.query_ids() if self.listener else set()
        with CallStats(pipeline, "promote_staging",
                       lambda p: upsert_written.append(dir_bytes(p + ".staging"))) if traced else nullcontext():
            counts, error = self._timed("upsert", group("upsert"), lambda: (
                pipeline.run_streaming_upsert(spark, bundle.sf_dir, sink)
                .selectExpr("count(*) AS n", "count(DISTINCT event_id) AS d").collect()[0]))
        progress = self._new_query(before)
        if count:
            run.op("upsert", counts is not None and counts["n"] == counts["d"] == bundle.n_events,
                   error or f"sink rows {counts and counts['n']}, distinct ids "
                            f"{counts and counts['d']}, events {bundle.n_events}")
        sink_bytes = dir_bytes(sink)
        layer["streaming.pipeline.upsert.add_batch_s"] = sum(
            p["durationMs"].get("addBatch", 0) for p in progress) / 1000
        layer["streaming.pipeline.upsert.write_amp"] = (
            sum(upsert_written) / sink_bytes if sink_bytes else 0.0)
        layer["streaming.pipeline.upsert.rows_per_s"] = bundle.n_events / walls["upsert"]

        # 6. tumbling-window stream
        before = self.listener.query_ids() if self.listener else set()
        pdf, error = self._timed("window", group("window"), lambda: (
            pipeline.streaming_tumbling_hourly_table(spark, bundle.sf_dir).toPandas()))
        progress = self._new_query(before)
        if count:
            got, want = (digest(pdf) if pdf is not None else None), bundle.expected["window"]
            run.op("window", got == want, error or f"digest {got} != oracle {want}")
        states = [s for p in progress for s in p.get("stateOperators", [])]
        layer["streaming.pipeline.window.s"] = walls["window"]
        layer["streaming.pipeline.window.state_rows"] = max((s.get("numRowsTotal", 0) for s in states), default=0)
        layer["streaming.pipeline.window.state_mem_bytes"] = max(
            (s.get("memoryUsedBytes", 0) for s in states), default=0)
        layer["streaming.pipeline.window.state_commit_s"] = sum(
            s.get("commitTimeMs", 0) for s in states) / 1000

        return {"walls": dict(walls), "own": dict(self.own), "layer": layer, "cpu_s": self.cpu_s}

    def _prefixes(self, bundle: Bundle, transport, group) -> dict:
        """Time the cold run's fetch and fetch+parse prefixes on their own
        (noop sink) so the ingest wall splits into fetch, parse and merge."""
        from sports_stats_data_pipeline_spark.sources.fetch import fetch_urls
        from sports_stats_data_pipeline_spark.sources.html_source import parse_pages
        from sports_stats_data_pipeline_spark.schemas import fights_raw_ddl, fighters_raw_ddl

        out = {"_fetch_s": 0.0, "_fetch_parse_s": 0.0}
        for kind in KINDS:
            url_df = self.spark.createDataFrame(
                [(u,) for u in bundle.urls[kind]["cold"]], schema="url string")
            ddl = fighters_raw_ddl() if kind == "fighter" else fights_raw_ddl()
            for key, build in (
                ("_fetch_s", lambda: fetch_urls(url_df, transport, self.cfg, concurrency=self.run.cores)),
                ("_fetch_parse_s", lambda: parse_pages(
                    fetch_urls(url_df, transport, self.cfg, concurrency=self.run.cores),
                    kind=kind, schema=ddl, field_names=_field_names(kind))),
            ):
                t = time.perf_counter()
                with job_group(self.spark, group(f"prefix{key}:{kind}")):
                    build().write.format("noop").mode("overwrite").save()
                out[key] += time.perf_counter() - t
        return out


def _neardup_layers(progress, store, admitted, wall, bundle) -> dict:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p["durationMs"] for p in batches]
    rows = sum(p["numInputRows"] for p in batches)
    return {
        "streaming.dedup_lsh.batch_s": median(d.get("triggerExecution", 0) for d in dur) / 1000,
        "streaming.dedup_lsh.batch_s.max": max((d.get("triggerExecution", 0) for d in dur), default=0) / 1000,
        "streaming.dedup_lsh.docs_per_s": bundle.n_docs / wall,
        "streaming.dedup_lsh.add_batch_s": median(d.get("addBatch", 0) for d in dur) / 1000,
        "streaming.dedup_lsh.planning_s": median(d.get("queryPlanning", 0) for d in dur) / 1000,
        "streaming.dedup_lsh.commit_s": median(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1000,
        "streaming.dedup_lsh.input_rows": rows,
        "streaming.dedup_lsh.admit_ratio": len(admitted or ()) / rows if rows else 0.0,
        "streaming.dedup_lsh.store_bytes": dir_bytes(store),
        "_neardup_batches": [(p["id"], str(p["batchId"])) for p in batches],
    }


def _own_s(cycles: list[dict], step: str | None = None) -> float:
    """Median over cycles of one step's own time (wall less stolen host
    time), or of the whole cycle's when ``step`` is None."""
    return median(c["own"][step] if step else sum(c["own"].values()) for c in cycles)


def run_ingest(run: Run) -> dict[str, float]:
    spark, start_s = start_session(run)
    size = SIZES[run.scale]
    t = time.perf_counter()
    bundle = _make_bundle(run, spark, size)
    inputs_s = time.perf_counter() - t
    run.record["inputs"] = {
        **size, "delta_share": bundle.keys.delta_share,
        "fail_per_mille": bundle.keys.fail_per_mille,
        "pages_cold": sum(len(bundle.urls[k]["cold"]) for k in KINDS),
        "pages_all": sum(len(bundle.urls[k]["all"]) for k in KINDS),
        "stream_docs": bundle.n_docs, "events": bundle.n_events, "fetch_sleep": "no-op",
    }
    t = time.perf_counter()
    _oracles(run, bundle)
    oracle_s = time.perf_counter() - t
    if run.corrupt:
        bundle.expected["window"] = corrupt(bundle.expected["window"])
    # warm-up (JIT, Python workers, codegen): the cold phase and the three
    # streams; the delta and no-op phases run the cold phase's code path
    cycle = _Cycle(run, spark)
    t = time.perf_counter()
    cycle(bundle, "warm", count=False, traced=False, phases=("cold",))
    warmup_s = time.perf_counter() - t
    setup_s = setup_seconds(run)

    untraced = closed_loop(run, lambda i: cycle(bundle, f"c{i}", count=True, traced=False))
    run.record["pass_s"] = [sum(c["walls"].values()) for c in untraced]
    run.record["steps"] = [c["walls"] for c in untraced]
    run.record["pass_cpu_s"] = [c["cpu_s"] for c in untraced]
    out = {
        "setup_s": setup_s,
        "pass_s": _own_s(untraced),
        "pass_cpu_s": median(run.record["pass_cpu_s"]),
        "process.peak_rss_mb": peak_rss_mb(spark),
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "setup.inputs_s": inputs_s,
        "setup.oracle_s": oracle_s,
    }
    if run.trace:
        out.update(_traced(run, spark, cycle, untraced, bundle))
    return out


def _traced(run, spark, cycle, untraced, bundle) -> dict:
    cycle.listener = StreamListener()
    spark.streams.addListener(cycle.listener)
    log = EventLog(spark, run.path("eventlog"))
    log.start()
    try:
        traced = closed_loop(run, lambda i: cycle(
            bundle, f"c{len(untraced) + i}", count=True, traced=True))
    finally:
        events = log.stop()
        spark.streams.removeListener(cycle.listener)
        cycle.listener = None
    _, by_batch = stage_profile(events)
    traced_times = [sum(c["walls"].values()) for c in traced]
    run.record["traced_pass_s"] = traced_times
    per_cycle = []
    for c in traced:
        layer, walls = c["layer"], c["walls"]
        ok_cold, err_cold = layer.pop("_calls.cold")
        ok_noop, err_noop = layer.pop("_calls.noop")
        layer.pop("_calls.delta")
        fetch_s, fetch_parse_s = layer.pop("_fetch_s"), layer.pop("_fetch_parse_s")
        batches = layer.pop("_neardup_batches")
        jobs = [by_batch.get(b, 0) for b in batches]
        layer.update({
            "sources.fetch.s": fetch_s,
            "sources.fetch.transport_calls": ok_cold + err_cold,
            "sources.fetch.useful_ratio": ok_cold / (ok_cold + err_cold) if ok_cold + err_cold else 0.0,
            "sources.html_source.s": fetch_parse_s - fetch_s,
            "sources.html_source.parse_us": 1e6 * bundle.parse_s / max(1, bundle.pages_parsed),
            "sources.html_source.rows_per_page": bundle.rows_parsed / max(1, bundle.pages_parsed),
            "operators.merge.s": walls["cold"] - fetch_parse_s,
            "operators.merge.noop_refetches": ok_noop,
            "operators.merge.noop_retry_calls": err_noop,
            "streaming.dedup_lsh.jobs_per_batch": sum(jobs) / len(jobs) if jobs else 0.0,
        })
        for phase in ("cold", "delta"):
            new = layer.pop(f"_new_bytes.{phase}")
            layer[f"operators.sinks.write_amp.{phase}"] = (
                layer[f"operators.sinks.write_bytes.{phase}"] / new if new else 0.0)
        per_cycle.append(layer)
    out = {k: median(c[k] for c in per_cycle) for k in per_cycle[0]}
    # the step metrics a user sees come from the untraced cycles
    pages = sum(len(bundle.urls[k]["cold"]) for k in KINDS)
    out["ingest.cold_pages_per_s"] = pages / _own_s(untraced, "cold")
    out["ingest.delta_s"] = _own_s(untraced, "delta")
    out["ingest.noop_s"] = _own_s(untraced, "noop")
    out["trace_overhead"] = _own_s(traced) / _own_s(untraced)
    return out
