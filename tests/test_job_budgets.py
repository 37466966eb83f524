"""Per-slot Spark-JOB budgets — the regression gate for scheduling
fixed cost.

Round 12 cut neardup_doc_clusters from 158 jobs to 67 (triangles
und-checkpoint, components edge-checkpoint + fused probe, small-graph
fast paths) and corpus_quality_filter from 22 to 11; job count is the
quantity those fixes moved and the quantity bench's netted ratios are
built on — but nothing PINNED it, so a regression (an un-checkpointed
multi-consumer subtree, a lost fast path, AQE bookkeeping creep) would
only surface as a slow drift in BENCH records. This suite runs every
extended-tier slot once at sf0.01 inside a job group and asserts its
job count stays under budget.

Budgets are measured-count x ~1.5, rounded up (measured twice at
sf0.01 on round-12 HEAD — identical counts both passes, so the counts
are deterministic for a fixed plan + SF; the headroom absorbs minor
AQE re-planning, not structural regressions: the pre-fix doc_clusters
at 158 would trip its budget of 100 by 58%). A legitimate plan change
that raises a count should update the budget IN THE SAME COMMIT with
the measured number — this file is a ledger, not a suggestion.
"""

from __future__ import annotations

import pytest

from sports_stats_data_pipeline_spark.plans import all_registries

SF = "/root/testdata/sf0.01"

#: slot -> (measured, budget). Measured column refreshed by the
#: round-12 continuation session (semdedup single-projection
#: assignment, lazy diff_summary, shared corpus_mix max-id, load_table
#: schema memo) — every changed count moved DOWN, so the original
#: budgets remain valid upper bounds and stay as committed.
JOB_BUDGETS = {
    "neardup_doc_clusters": (65, 100),
    "data_quality_report": (36, 60),
    "incremental_mart_maintenance": (20, 33),
    "corpus_mix_split_shards": (21, 32),
    "events_props_pivot": (11, 18),
    "asof_join_purchase_click": (10, 15),
    "lexical_search_bm25": (9, 15),
    "rollup_cube_grouping": (8, 15),
    "set_ops_semi_anti": (8, 15),
    "orders_by_period_rangejoin": (8, 14),
    "outer_join_family": (6, 14),
    "corpus_quality_filter": (7, 12),
    "customers_above_nation_avg": (7, 12),
    "scd2_dimension_history": (8, 12),
    "doc_text_profile": (6, 11),
    "events_resample_ffill": (5, 9),
    "span_redaction_stats": (4, 8),
    "url_domain_curation": (2, 5),
}


def test_budget_table_covers_the_bench_extended_tier():
    import bench

    assert set(JOB_BUDGETS) == set(bench.EXTENDED), (
        "extended tier changed — re-measure and extend JOB_BUDGETS "
        "(module docstring)"
    )


def test_extended_slots_within_job_budgets(spark):
    reg = all_registries()
    tracker = spark.sparkContext.statusTracker()
    over: list[str] = []
    for name, (_, budget) in JOB_BUDGETS.items():
        grp = f"job_budget_{name}"
        spark.sparkContext.setJobGroup(grp, name)
        try:
            reg.queries[name](spark, SF).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            spark.sparkContext.setJobGroup("job_budget_idle", "idle")
        n = len(tracker.getJobIdsForGroup(grp))
        spark.catalog.clearCache()
        if n > budget:
            over.append(f"{name}: {n} jobs > budget {budget}")
    assert not over, "; ".join(over)


#: ingest phase -> (measured, budget): Spark jobs per
#: ``scrape_pipeline.ingest`` call on the fixture transport below,
#: budgeted like JOB_BUDGETS (measured x ~1.5, rounded up). The
#: write path is fixed cost per job, not per page, so the count is the
#: quantity to pin: cold = the one fused fetch+parse write; delta and
#: no-op add the sink's url-column broadcast for the anti-join. The
#: createDataFrame + two-mapInPandas + full-rewrite merge plan took
#: 6 / 7 / 7 and must fail these budgets.
INGEST_JOB_BUDGETS = {
    "cold": (1, 2),
    "delta": (2, 3),
    "noop": (2, 3),
}


def test_ingest_phases_within_job_budgets(spark, tmp_path):
    from sports_stats_data_pipeline_spark.sources.fetch import FetchConfig
    from sports_stats_data_pipeline_spark.sources.scrape_pipeline import (
        ingest,
    )

    from . import fixtures_html as fx

    urls = [f"http://example.com/fighter-details/j{i}" for i in range(40)]
    pages = {u: (200, fx.fighter_page(f"F{i}", record=f"{i}-0-0"))
             for i, u in enumerate(urls)}
    pages[urls[3]] = (500, "")  # retried, then dropped every run

    def transport(url):
        return pages[url]

    cfg = FetchConfig(sleep=lambda s: None)
    sink = str(tmp_path / "sink")
    tracker = spark.sparkContext.statusTracker()
    over: list[str] = []
    for phase, run_urls in (("cold", urls[:30]), ("delta", urls),
                            ("noop", urls)):
        grp = f"job_budget_ingest_{phase}"
        spark.sparkContext.setJobGroup(grp, phase)
        try:
            ingest(spark, run_urls, transport, sink, cfg=cfg, concurrency=4)
        finally:
            spark.sparkContext.setJobGroup("job_budget_idle", "idle")
        n = len(tracker.getJobIdsForGroup(grp))
        if n > INGEST_JOB_BUDGETS[phase][1]:
            over.append(f"{phase}: {n} jobs > budget "
                        f"{INGEST_JOB_BUDGETS[phase][1]}")
    assert not over, "; ".join(over)
    assert spark.read.parquet(sink).count() == 39
