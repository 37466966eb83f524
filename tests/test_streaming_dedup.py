"""Streaming keyed dedup state: the session's state store is RocksDB and
``dropDuplicatesWithinWatermark`` keeps its state bounded by the
watermark horizon."""

from __future__ import annotations

import datetime

from sports_stats_data_pipeline_spark.streaming.pipeline import (
    EVENTS_RAW_SCHEMA,
)

BASE = 1_700_000_000


def _ts(epoch_s: float) -> datetime.datetime:
    return datetime.datetime.utcfromtimestamp(epoch_s)


def test_rocksdb_provider_pinned_and_state_bounded(spark, tmp_path):
    """Round-6 scale pin: (1) the session's streaming state store is
    RocksDB (disk-backed — the provider that survives 100 TB of dedup
    state; env-overridable via SPARK_GRAFT_STATE_STORE), proven by the
    rocksdb* custom metrics in query progress, not just the conf
    string; (2) dropDuplicatesWithinWatermark EVICTS: after a batch
    whose watermark has passed the early keys' expiry, state row count
    drops below the total number of distinct keys ever seen."""
    import os

    expected = os.environ.get(
        "SPARK_GRAFT_STATE_STORE",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == expected
    )

    src = str(tmp_path / "src")
    checkpoint = str(tmp_path / "ckpt")
    sink_dir = str(tmp_path / "out")

    def write(rows, part):
        spark.createDataFrame(rows, schema=EVENTS_RAW_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/{part}")

    def run():
        stream = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .format("parquet")
            .option("recursiveFileLookup", "true")
            .load(src)
        )
        q = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.lastProgress

    # batch 0: 40 early keys at t≈BASE
    write(
        [
            (i, _ts(BASE + i), 1, "click", 1.0, "{}")
            for i in range(1, 41)
        ],
        "b0",
    )
    p0 = run()
    so0 = p0["stateOperators"][0]
    assert any(
        k.startswith("rocksdb") for k in so0.get("customMetrics", {})
    ), "rocksdb custom metrics absent — provider not actually RocksDB"
    assert so0["numRowsTotal"] == 40

    # batch 1: 5 keys a week later — the watermark (max ts - 1h) passes
    # the early keys' expiry, so they must be EVICTED from state
    week = 7 * 24 * 3600
    write(
        [
            (100 + i, _ts(BASE + week + i), 2, "view", 2.0, "{}")
            for i in range(5)
        ],
        "b1",
    )
    p1 = run()
    so1 = p1["stateOperators"][0]
    assert so1["numRowsTotal"] <= 10, (
        "state must be bounded by the watermark horizon, not grow with "
        f"total keys seen: {so1['numRowsTotal']}"
    )
