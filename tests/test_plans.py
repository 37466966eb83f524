"""Physical-plan guard tests: the optimizations we rely on at 100 TB must
be visible in explain() output, or a refactor silently regressed them.

- predicate pushdown + column pruning reach the parquet scan
  (PushedFilters / ReadSchema);
- fixed-cardinality dims broadcast (BroadcastHashJoin), big joins stay
  shuffled;
- the relational hot path contains no row-wise Python (BatchEvalPython);
  Python appears only as Arrow-batched evaluation in the multimodal path;
- the incremental merge plans as a real anti-join.
"""

from __future__ import annotations

from sports_stats_data_pipeline_spark.plans.documents import (
    embedding_cosine_topk,
)
from sports_stats_data_pipeline_spark.plans.multimodal import (
    multimodal_decode_frames,
)
from sports_stats_data_pipeline_spark.plans.relational import (
    merge_insert_if_absent,
    q1_pricing_summary,
    q3_shipping_priority,
    q5_local_supplier_volume,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(q1_pricing_summary(spark, SF))
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split(
        "PushedFilters:"
    )[1].split("\n")[0], "shipdate predicate not pushed to parquet scan"
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema, (
        "column pruning failed: unused l_orderkey read from parquet"
    )


def test_q3_filters_pushed_below_join(spark):
    plan = _plan(q3_shipping_priority(spark, SF))
    assert plan.count("PushedFilters: [") >= 3
    assert "c_mktsegment" in plan


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(q5_local_supplier_volume(spark, SF))
    assert "BroadcastHashJoin" in plan, "dim joins did not broadcast"


def test_embedding_topk_broadcasts_queries(spark):
    plan = _plan(embedding_cosine_topk(spark, SF))
    assert "Broadcast" in plan, "query-vector side not broadcast"


def test_merge_plans_as_anti_join(spark):
    plan = _plan(merge_insert_if_absent(spark, SF))
    assert "LeftAnti" in plan


def test_relational_path_has_no_python(spark):
    for fn in (q1_pricing_summary, q3_shipping_priority, q5_local_supplier_volume):
        plan = _plan(fn(spark, SF))
        assert "EvalPython" not in plan, f"{fn.__name__} crosses into Python"


def test_multimodal_python_is_arrow_batched(spark):
    plan = _plan(multimodal_decode_frames(spark, SF))
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "BatchEvalPython" not in plan, "row-wise Python UDF in decode path"


def test_q1_whole_stage_codegen(spark):
    import contextlib
    import io

    # formatted mode under AQE shows the pre-execution plan without
    # codegen ids; codegen mode prints the generated subtrees directly.
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q1_pricing_summary(spark, SF).explain(mode="codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_semi_anti_merged_query_plans_both_join_types(spark):
    from sports_stats_data_pipeline_spark.plans.relational import (
        set_ops_semi_anti,
    )

    plan = _plan(set_ops_semi_anti(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_topk_global_scope_is_take_ordered(spark):
    from sports_stats_data_pipeline_spark.plans.relational import (
        topk_orders_per_segment,
    )

    plan = _plan(topk_orders_per_segment(spark, SF))
    # the '_global' branch must not be a full global sort: Spark plans
    # orderBy+limit as TakeOrderedAndProject (per-partition top-N).
    assert "TakeOrderedAndProject" in plan


def test_lsh_skew_guard_is_broadcast_anti_join(spark):
    # the bucket cap must plan as a BROADCAST anti-join against the tiny
    # hot-key list — a count-window formulation would shuffle the whole
    # banded relation and show a Window node above the scan instead.
    from sports_stats_data_pipeline_spark.plans.documents import (
        neardup_minhash_pairs,
    )

    plan = _plan(neardup_minhash_pairs(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (
        "bucket cap not planned as broadcast anti-join"
    )
    spark.catalog.clearCache()


def test_corpus_quality_filter_broadcasts_model_and_index(spark):
    from sports_stats_data_pipeline_spark.plans.corpus import (
        corpus_quality_filter,
    )

    plan = _plan(corpus_quality_filter(spark, SF))
    # LM gram/context tables and the decontam shingle index must reach
    # the probe joins as broadcasts — shuffling the exploded corpus by
    # gram against them is the 100 TB failure mode.
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_shard_packing_has_no_global_sort_window(spark):
    from sports_stats_data_pipeline_spark.plans.corpus import (
        corpus_mix_split_shards,
    )

    plan = _plan(corpus_mix_split_shards(spark, SF))
    # the bucket-offset side broadcasts back; the only single-partition
    # window runs over bucket aggregates, not documents
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" in plan  # the tiny bucket-level window


def test_bm25_topk_is_take_ordered_with_broadcast_idf(spark):
    from sports_stats_data_pipeline_spark.operators.search import bm25_topk
    from sports_stats_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = _plan(bm25_topk(docs, ["query", "stream"], k=5))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_data_quality_report_plan_shape(spark):
    """The governance composite (five families since round 5): the FK
    dim must broadcast, the expectations row-level block must NOT
    rescan orders per constraint, and no row-wise Python anywhere
    (heavy hitters runs through Arrow mapInPandas, never
    BatchEvalPython)."""
    from sports_stats_data_pipeline_spark.plans.quality import (
        data_quality_report,
    )

    plan = _plan(data_quality_report(spark, SF))
    assert "BroadcastHashJoin" in plan, "FK dim did not broadcast"
    assert "BatchEvalPython" not in plan
    # scans stay bounded by the RELATION count, never the constraint
    # count: expectations row-level agg (1) + unique (1) + FK probe (1)
    # + FK customer (1) + two PSI sides (2) + heavy-hitters summary and
    # exact passes over events (2, the two-scan contract) + reconcile's
    # old/new snapshot sides — 2×2 since round 12 made diff_summary
    # lazy: its full-outer join now executes inside THIS action instead
    # of as a build-time collect job, so the status leg's two orders
    # scans appear in the static plan alongside the (previously
    # hidden) literal report; same two underlying scans, now visible
    # and AQE-reusable — + the MAD outlier family's median/deviation
    # branches (2 in the STATIC plan; at runtime AQE collapses them
    # into one ReusedExchange stage — pinned in test_outliers) + the
    # round-6 small_files advisor's stats/median branches over the
    # synthesized inventory (2, both from documents — same AQE-reuse
    # story) + plan-reuse artifacts = 18 on Spark 4.1; a jump past
    # this means some family started rescanning per constraint.
    assert plan.count("Location: InMemoryFileIndex") <= 18


def test_streaming_join_batch_twin_is_shuffle_bounded(spark):
    """The batch twin of the stream-stream interval join must plan as a
    single-shuffle-per-side join on user_id with the range condition
    attached, not a cross product."""
    from sports_stats_data_pipeline_spark.streaming.join import (
        purchase_click_pairs_batch,
    )

    plan = _plan(purchase_click_pairs_batch(spark, SF, how="left_outer"))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, (
        "interval join degenerated to a cross product"
    )


def test_semdedup_assignment_is_literal_fold(spark):
    """Caller-supplied-centroid assignment is a LITERAL argmin fold in
    the projection that computes the norm (the round-12 shape): no
    cross join, no per-id argmin aggregate/join-back (the old _assign
    machinery's ``__best`` buffer must not appear anywhere in the
    plan), and the within-cell self-join stays an equi-join."""
    from pyspark.sql import functions as F

    from sports_stats_data_pipeline_spark.operators.semdedup import (
        semantic_dedup,
    )
    from sports_stats_data_pipeline_spark.plans.documents import (
        _SEM_CENTROIDS,
    )
    from sports_stats_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 64)
    cents = spark.createDataFrame(
        [(j + 1, c) for j, c in enumerate(_SEM_CENTROIDS)],
        "cell int, centroid array<double>",
    )
    out = semantic_dedup(emb, centroids=cents)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__best" not in plan and "__dc" not in plan, (
        "assignment regressed to the crossJoin+argmin-aggregate shape"
    )


def test_url_domain_curation_prunes_and_shuffles_bounded(spark):
    """The URL slot must read ONLY (doc_id, source) from documents —
    the synthesized-URL projection and every regex rule are per-row
    codegen over a pruned scan — and plan no cartesian product."""
    from sports_stats_data_pipeline_spark.plans.corpus import (
        url_domain_curation,
    )

    plan = _plan(url_domain_curation(spark, SF))
    assert "CartesianProduct" not in plan
    import re

    schemas = re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    assert schemas
    for s in schemas:
        assert "text" not in s and "n_chars" not in s, s


def test_interval_overlap_binned_leg_is_equi_join(spark):
    """The interval part of the range-join composite must route its
    short×short pairs through a real equi-join on the bin key (hash or
    sort-merge or broadcast-hash), never a cartesian product; only the
    long-interval fallback legs may be broadcast nested loops."""
    from sports_stats_data_pipeline_spark.plans.advanced import (
        orders_by_period_rangejoin,
    )

    plan = _plan(orders_by_period_rangejoin(spark, SF))
    assert "CartesianProduct" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), "no equi-join found for the binned leg"


def test_attribution_is_equi_join_no_cartesian(spark):
    """The touch<->conversion pairing must plan as a real equi-join on
    the user key with the time range as a residual filter — never a
    cartesian/broadcast-nested-loop over the event log."""
    from sports_stats_data_pipeline_spark.operators.attribution import (
        attribute_conversions,
    )
    from sports_stats_data_pipeline_spark.sources.tables import load_table

    plan = _plan(
        attribute_conversions(load_table(spark, SF, "events"))
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "BatchEvalPython" not in plan


def test_triangles_wedge_and_closure_are_equi_joins(spark):
    """Wedge generation (self-join on the center node) and closure (the
    (t1, t2) pair lookup) must both be equi-joins; degree orientation
    exists precisely so no stage is quadratic in a hub's degree."""
    from sports_stats_data_pipeline_spark.operators.triangles import (
        triangles,
    )

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src long, dst long"
    )
    plan = _plan(triangles(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_mart_zorder_readback_prunes(spark, tmp_path):
    """The mart slot's z-order read-back (round 9): each of the two
    complementary key-range branches must push its o_custkey predicate
    into the parquet scan (row-group min/max pruning over the Morton
    layout), and the union must reproduce the mart exactly."""
    from pyspark.sql import functions as F

    from sports_stats_data_pipeline_spark.operators.zorder import (
        write_zordered,
    )
    from sports_stats_data_pipeline_spark.plans.advanced import (
        _zorder_pruned_readback,
    )
    from sports_stats_data_pipeline_spark.sources.tables import load_table

    mart = (
        load_table(spark, SF, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("volume_c"),
        )
    )
    zpath = str(tmp_path / "mart_z")
    write_zordered(mart, zpath, ["o_custkey", "volume_c"], n_files=4)
    back = _zorder_pruned_readback(spark, zpath)
    plan = _plan(back)
    # both range predicates reach the scan as pushed filters; the low
    # branch is null-safe (Or(IsNull, <=)) since the round-9
    # self-review — still prunable: a row group with min > mid and
    # null_count = 0 is skipped
    assert "PushedFilters: [Or(IsNull(o_custkey),LessThanOrEqual(o_custkey" in plan, plan
    assert "PushedFilters: [IsNotNull(o_custkey), GreaterThan(o_custkey" in plan, plan
    # and the read-back is value-neutral
    a = sorted(map(tuple, mart.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_zorder_readback_null_keys_and_empty(spark, tmp_path):
    """Round-9 self-review contract pins: a NULL key row survives the
    complementary union (it fails both range predicates — the low
    branch must carry isNull), and an empty table reads back whole
    instead of raising on int(None) bounds."""
    from pyspark.sql import Row

    from sports_stats_data_pipeline_spark.plans.advanced import (
        _zorder_pruned_readback,
    )

    rows = [Row(o_custkey=k, v=i) for i, k in enumerate([1, None, 7, 3])]
    p = str(tmp_path / "nullable")
    spark.createDataFrame(rows).write.parquet(p)
    back = _zorder_pruned_readback(spark, p)
    assert sorted(
        map(tuple, back.collect()), key=lambda t: (t[0] is None, t)
    ) == sorted(
        map(tuple, rows), key=lambda t: (t[0] is None, t)
    )

    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "o_custkey long, v long").write.parquet(empty)
    assert _zorder_pruned_readback(spark, empty).count() == 0
