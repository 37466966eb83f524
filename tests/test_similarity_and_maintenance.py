"""Fast-path ANN kernel vs oracle-checked expression twin, and the
compaction maintenance operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.maintenance import (
    compact_parquet,
    parquet_file_count,
)
from sports_stats_data_pipeline_spark.operators.similarity import (
    ann_topk_numpy,
)
from sports_stats_data_pipeline_spark.plans.documents import (
    embedding_cosine_topk,
)
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_numpy_ann_matches_expression_baseline(spark):
    emb = load_table(spark, SF, "embeddings")
    fast = ann_topk_numpy(emb, F.col("vec_id") < 8, k=3)
    slow = embedding_cosine_topk(spark, SF)
    f = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in fast.collect()}
    s = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in slow.collect()}
    assert f == s


def test_numpy_ann_score_ties_keep_smaller_ids(spark):
    # duplicate vectors -> exact score ties spanning the k boundary; the
    # batch-local truncation must keep the smaller neighbor ids, matching
    # the final (score desc, neighbor_id asc) rule regardless of
    # partitioning (single-partition vs many changes batch composition).
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(0, base)] + [(i, base) for i in range(1, 7)] + [
        (7, [0.0, 1.0, 0.0, 0.0])
    ]
    for parts in (1, 4):
        emb = spark.createDataFrame(
            rows, schema="vec_id long, embedding array<double>"
        ).repartition(parts)
        out = sorted(
            (r["rank"], r["neighbor_id"])
            for r in ann_topk_numpy(emb, F.col("vec_id") == 0, k=3).collect()
        )
        assert out == [(1, 1), (2, 2), (3, 3)], (parts, out)


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    orders = load_table(spark, SF, "orders")
    orders.repartition(37).write.mode("overwrite").parquet(path)
    n_before = parquet_file_count(path)
    assert n_before >= 37

    before_rows = sorted(
        map(tuple, spark.read.parquet(path).select("o_orderkey").collect())
    )
    out = compact_parquet(spark, path, target_partitions=4)
    assert parquet_file_count(path) <= 4
    after_rows = sorted(map(tuple, out.select("o_orderkey").collect()))
    assert before_rows == after_rows


def test_compaction_zorder_mode_row_preserving(spark, tmp_path):
    """compact_parquet(zorder_cols=...) — the round-10 fused
    OPTIMIZE-ZORDER rewrite — is row-preserving, hits the file target,
    and actually clusters: with caller-supplied bounds no extra job is
    needed and each output file covers a narrow o_custkey span (the
    z-key leads with the key bits, so per-file key ranges must be
    near-disjoint — the property row-group pruning relies on)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "fragz")
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    orders.repartition(23).write.mode("overwrite").parquet(path)
    before_rows = sorted(
        map(tuple, spark.read.parquet(path).select("o_orderkey").collect())
    )
    lo_hi = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("price_c"), F.max("price_c"),
    ).first()
    out = compact_parquet(
        spark, path, target_partitions=4,
        zorder_cols=["o_custkey", "price_c"],
        zorder_bounds={
            "o_custkey": (lo_hi[0], lo_hi[1]),
            "price_c": (lo_hi[2], lo_hi[3]),
        },
    )
    assert parquet_file_count(path) <= 4
    after_rows = sorted(map(tuple, out.select("o_orderkey").collect()))
    assert before_rows == after_rows
    # clustering check: EVERY file's key span must cover well under the
    # full range (a coalesce-compacted layout holds a random row subset
    # per file, spanning ~the whole range). With 2 interleaved columns
    # a z-contiguous file covers about HALF the key range by
    # construction (the top bit pair splits key space first, the next
    # splits price space), so 0.75 discriminates cleanly — and unlike a
    # sum-of-spans cap it is robust to repartitionByRange's sampled
    # (session-nondeterministic) boundary placement, which flipped a
    # borderline sum assertion in the round-10 full-suite run.
    spans = []
    full_span = lo_hi[1] - lo_hi[0]
    import os as _os

    for root, _, files in _os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(_os.path.join(root, f), columns=["o_custkey"])
            ck = t.column("o_custkey").to_pylist()
            if ck:
                spans.append(max(ck) - min(ck))
    assert spans and max(spans) <= 0.75 * full_span, spans
