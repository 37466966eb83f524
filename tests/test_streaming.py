"""Structured Streaming tests: stream-to-completion equals batch, and the
foreachBatch insert-if-absent upsert is idempotent under replay and
appends nothing when replayed."""

from __future__ import annotations

from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.plans.events import (
    events_fixed_windows,
)
from sports_stats_data_pipeline_spark.streaming.pipeline import (
    run_streaming_upsert,
    streaming_tumbling_hourly_table,
)

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark):
    stream_out = streaming_tumbling_hourly_table(spark, SF)
    batch_out = (
        events_fixed_windows(spark, SF)
        .filter(F.col("win") == "tumbling_1h")
        .select("bucket_s", "event_type", "n_events", "value_c")
    )
    assert _sorted_rows(stream_out) == _sorted_rows(batch_out)


def test_streaming_upsert_idempotent_replay(spark, tmp_path):
    sink = str(tmp_path / "events_sink")
    out1 = run_streaming_upsert(spark, SF, sink)
    n1 = out1.count()
    assert n1 == spark.read.parquet(f"{SF}/events.parquet").count()

    # replay the whole stream into the same sink with a fresh checkpoint
    # (simulates at-least-once redelivery) -> no duplicates, and the
    # O(Delta) append writes nothing: no new data file, existing files
    # unchanged
    import os
    import shutil

    def data_files():
        return {
            f: os.path.getsize(os.path.join(sink, f))
            for f in os.listdir(sink)
            if f.endswith(".parquet")
        }

    files1 = data_files()
    shutil.rmtree(sink + ".checkpoint")
    out2 = run_streaming_upsert(spark, SF, sink)
    assert data_files() == files1
    assert out2.count() == n1
    assert out2.select("event_id").distinct().count() == n1
