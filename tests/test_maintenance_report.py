"""small_file_report_df: fragmentation stats + recommendation thresholds."""

from __future__ import annotations

import os

from sports_stats_data_pipeline_spark.operators.maintenance import (
    small_file_report_df,
)
from sports_stats_data_pipeline_spark.sources.tables import (
    load_table,
    local_relation,
)

from .conftest import SF_SMOKE


def _report(spark, path, **kw):
    """The report rows over a directory's walked (file, bytes) inventory."""
    inv = [
        (os.path.join(root, f), os.path.getsize(os.path.join(root, f)))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]
    files = local_relation(spark, inv, "file string, bytes bigint")
    return small_file_report_df(files, **kw).collect()


def test_fragmented_table_flagged(spark, tmp_path):
    out = str(tmp_path / "frag")
    load_table(spark, SF_SMOKE, "orders").repartition(16).write.parquet(out)
    [rep] = _report(spark, out)  # 16 tiny files vs 128 MiB target
    assert rep["n_files"] == 16
    assert rep["n_small"] == 16 and rep["small_fraction_bp"] == 10_000
    assert rep["recommend_compaction"] == 1
    assert rep["p50_bytes"] <= rep["max_bytes"]


def test_healthy_single_file_not_flagged(spark, tmp_path):
    out = str(tmp_path / "one")
    load_table(spark, SF_SMOKE, "orders").coalesce(1).write.parquet(out)
    # one file: never worth a rewrite regardless of size
    [rep] = _report(spark, out, target_bytes=1024)
    assert rep["n_files"] == 1
    assert rep["recommend_compaction"] == 0


def test_empty_dir(spark, tmp_path):
    # no files: an empty report, so nothing is recommended
    assert _report(spark, str(tmp_path)) == []


def test_relation_variant_even_count_median_and_empty(spark):
    """Lower-median contract on an even-length inventory, and the empty
    inventory yielding an empty relation."""
    inv = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 30), ("d", 1000)],
        "file string, bytes long",
    )
    row = small_file_report_df(inv, target_bytes=200).collect()[0]
    assert row["p50_bytes"] == 20  # sizes[(4-1)//2] == 20, the LOWER median
    assert row["n_small"] == 3 and row["small_fraction_bp"] == 7500
    assert row["recommend_compaction"] == 1
    empty = spark.createDataFrame([], "file string, bytes long")
    assert small_file_report_df(empty).count() == 0
