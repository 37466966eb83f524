"""Structured Streaming over the events table.

The reference's incremental/resume-safe loop is micro-batch streaming
semantics (SURVEY.md §2.10): checkpointed offsets replace the
resume-from-sink scan, state-store dedup replaces the processed-key set,
and ``foreachBatch`` + insert-if-absent replaces the checkpoint-every-N
CSV rewrite — O(Δ) per batch instead of the reference's O(total) rewrite
(fighters_scraper.py:187-193, fights_scraper.py:242-248).

These pipelines read the *static* events parquet as a file-stream source
with ``availableNow`` (process everything, then stop) — the same code
runs unmodified against a live directory/Kafka source at cluster scale.

Watermark notes: aggregations run in APPEND mode with a watermark — the
scale-correct shape (complete mode re-emits all window state every
trigger). A finite backfill would leave the tail windows above the
terminal watermark withheld forever, so the pipelines stage an
end-of-stream flush event (_stage_with_flush) that advances the
watermark past every real window; append output then matches the batch
oracle exactly.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# promote_staging stays importable here: perfbench's traced layer
# wraps it by this module path.
from ..operators.sinks import (  # noqa: F401
    append_staging,
    promote_staging,
    recover_sink,
)
from ..plans.relational import cents

#: events schema for the file-stream source. Declaring ``ts timestamp``
#: (LTZ) makes the parquet reader hand back epoch micros directly for
#: both flavors the corpus has shipped (TIMESTAMP(MICROS) NTZ today,
#: adjusted-to-UTC from our own re-staged files) — under the UTC session
#: TZ that every path pins (sources.tables.ensure_session_confs) the
#: wall-clock and the epoch agree, matching the batch loader and the
#: DuckDB oracle.
EVENTS_RAW_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events parquet (same ts semantics as
    the batch loader)."""
    from ..sources.tables import ensure_session_confs

    ensure_session_confs(spark)
    # file-stream sources take a directory; select the one table's file
    # with a glob filter (a live deployment would point at a landing dir).
    return (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )


#: sentinel event type used by the end-of-stream flush pattern.
_FLUSH_TYPE = "__flush__"


def stage_parquet(src: str, staging: str) -> None:
    """Copy a parquet table into a staging dir, accepting BOTH shapes:
    a single file (the driver testdata) or a Spark-written DIRECTORY of
    part files (every real corpus). Directory mode stages the data
    files only — _SUCCESS/.crc bookkeeping would read as zero-row
    parquet and the file stream errors on them."""
    import shutil

    if os.path.isdir(src):
        staged = 0
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f), os.path.join(staging, f))
                staged += 1
        if staged == 0:
            # a partitionBy-written table keeps its data under
            # key=value SUBdirectories whose pathnames carry column
            # values — blind recursion would lose those columns, so
            # fail loudly instead of streaming only the flush sentinel
            raise ValueError(
                f"stage_parquet: no top-level part files in {src} — "
                "partitioned layouts are not stageable as-is; read and "
                "rewrite unpartitioned first"
            )
    else:
        shutil.copy(src, os.path.join(staging, os.path.basename(src)))


def _stage_with_flush(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events file plus one far-future sentinel event.

    The sentinel drives the terminal watermark past every real window so
    append-mode output is complete (a live deployment posts the flush
    message to the real source — Kafka topic, landing dir — instead of
    staging files).
    """
    import shutil
    import tempfile

    staging = tempfile.mkdtemp(prefix="events_flush_")
    stage_parquet(os.path.join(sf_dir, "events.parquet"), staging)
    # 2100-01-01 — beyond any corpus event time. Naive datetime into an
    # LTZ column = wall clock in the session TZ (pinned UTC).
    # Built from spark.range(1) + literals, NOT createDataFrame([row]):
    # a Python-list DataFrame is a Python-RDD-backed relation sliced
    # over defaultParallelism, and the former coalesce(1) evaluated all
    # 32 slices' Python-worker rounds SEQUENTIALLY in one task —
    # measured 4 s for this one-row file vs ~0.2 s pure-JVM (the single
    # range partition also writes the single file the old coalesce
    # bought). Round-12 finding; same fix in streaming/join.py and
    # streaming/quality.py.
    import datetime

    flush_ts = datetime.datetime(2100, 1, 1)
    spark.range(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(flush_ts).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(_FLUSH_TYPE).alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(os.path.join(staging, "flush.parquet"))
    return staging


def _flushed_events_stream(
    spark: SparkSession, sf_dir: str, delay: str
) -> tuple[DataFrame, str]:
    """Watermarked file-stream over the staged events+flush directory;
    returns (stream, staging_dir) — the caller removes the staging dir
    once the stream has run (it holds a full copy of the events file)."""
    from ..sources.tables import ensure_session_confs

    ensure_session_confs(spark)
    staging = _stage_with_flush(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("recursiveFileLookup", "true")
        .load(staging)
        .withWatermark("ts", delay)
    )
    return stream, staging


def _run_append_to_memory(agg: DataFrame, prefix: str) -> str:
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sink


def streaming_tumbling_hourly_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run the 1-hour tumbling aggregation as a stream to completion and
    return the result — identical output contract to the tumbling branch
    of plans.events.events_fixed_windows (same DuckDB oracle applies).

    APPEND mode + watermark + end-of-stream flush: the scale-correct
    shape. Complete mode would re-emit the entire window state on every
    trigger — fine for a demo, unusable on an unbounded 100 TB stream;
    append emits each window exactly once when the watermark finalizes
    it, and the flush sentinel finalizes the tail (see
    :func:`_stage_with_flush`)."""
    stream, staging = _flushed_events_stream(spark, sf_dir, "1 minute")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("value_c"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_s"),
            "event_type",
            "n_events",
            "value_c",
        )
    )
    try:
        sink = _run_append_to_memory(agg, "stream_tumbling")
    finally:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
    return spark.table(sink).filter(F.col("event_type") != _FLUSH_TYPE)


def streaming_user_sessions_exact(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "10 minutes",
    delay: str = "1 minute",
) -> DataFrame:
    """Session windows in APPEND mode with EXACT batch parity via the
    end-of-stream flush pattern.

    Append-mode session windows only emit a session once the watermark
    passes its end; with a finite backfill the terminal watermark is
    ``max(ts) - delay``, so sessions ending inside the last ``delay`` are
    withheld forever. The fix used by production pipelines: post one
    sentinel "flush" event with an event time beyond every possible
    session end — the watermark advances past all real sessions, and the
    sentinel's own (still-open) session is the only thing withheld.

    The flush event is staged next to a copy of the events file (see
    :func:`_stage_with_flush`). Output is column-identical to
    plans.events.events_user_sessions.
    """
    stream, staging = _flushed_events_stream(spark, sf_dir, delay)
    agg = (
        stream.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("value_c"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "value_c",
        )
    )
    try:
        sink = _run_append_to_memory(agg, "sessions_exact")
    finally:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
    # the sentinel's own session is the only one the watermark withholds;
    # filter defensively in case a source replays it as finalized.
    return spark.table(sink).filter(F.col("user_id") != -1)


def streaming_dedup(events_stream: DataFrame, keys: list[str]) -> DataFrame:
    """State-store keyed dedup — the exact streaming analog of the
    reference's processed-key set (SURVEY.md §2.10 row 2): first
    occurrence of a key passes, replays and duplicates within the
    watermark horizon are dropped by state.

    Uses ``dropDuplicatesWithinWatermark`` (Spark >= 3.5), NOT plain
    ``dropDuplicates``: with a pure-key subset (no event-time column),
    ``dropDuplicates`` never evicts state — the watermark instead drops
    late NEW keys while state grows without bound. The WithinWatermark
    variant evicts a key once the watermark passes its expiry, which is
    what makes state finite at 100 TB (the reference's in-memory ``set``
    grows without bound). The trade is explicit: a replay arriving later
    than the watermark delay re-admits the key — size the delay to the
    at-least-once redelivery window of the source."""
    return events_stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        keys
    )


def run_streaming_upsert(
    spark: SparkSession,
    sf_dir: str,
    sink_path: str,
    keys: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Streaming version of the reference's incremental merge: every
    micro-batch is insert-if-absent'ed into a parquet sink via
    foreachBatch (SURVEY.md §2.10 row 3 / §7.2 step 6). O(Δ) per batch:
    only the batch's keys absent from the sink are written, and their
    files are appended to it (operators.sinks.append_staging); the
    existing files are never rewritten.

    Idempotent under replay: re-delivered rows lose the anti-join, so a
    replayed batch appends nothing, and a crash at any point (+ startup
    recovery) leaves a complete sink for the replayed batch to
    anti-join against (operators.sinks documents the protocol and its
    guarantees).
    """
    recover_sink(sink_path)
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        recover_sink(sink_path)
        new = batch.dropDuplicates(list(keys))
        if os.path.exists(sink_path):
            new = new.join(
                s.read.parquet(sink_path).select(*keys),
                on=list(keys),
                how="left_anti",
            )
        new.write.mode("overwrite").parquet(sink_path + ".staging")
        append_staging(sink_path, f"b{batch_id}_")

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", sink_path + ".checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_path)
