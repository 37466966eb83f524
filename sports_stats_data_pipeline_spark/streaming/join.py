"""Watermarked stream-stream joins over the events stream.

The batch as-of/interval join (operators.asof, plans.events
``asof_join_purchase_click``) answers "which click led to this
purchase" after the fact; the streaming form answers it CONTINUOUSLY —
the attribution join every event pipeline runs live. Structured
Streaming's stream-stream join buffers both sides in state keyed by the
join key and emits matches as they arrive; two things bound that state
(the 100-TB concern — unbounded buffers are the classic stream-join
OOM):

1. watermarks on BOTH sides (here both derive from the same watermarked
   source, so one delay bounds both), and
2. an event-time RANGE in the join condition (``click_ts`` within
   ``max_gap`` before ``purchase_ts``) — without it the engine must
   keep every row forever because a future match can never be ruled
   out.

State per key is then at most the rows inside
``watermark delay + max_gap`` — independent of stream length.

Outer matches (purchases with no preceding click) can only be emitted
once the watermark passes the purchase's join window — on a finite
backfill the tail would be withheld forever, so the stream needs the
end-of-stream flush pattern. The aggregation pipelines' untyped
``__flush__`` sentinel does NOT work here: Catalyst pushes the
``event_type`` side filters below the ``EventTimeWatermark`` node
(legal for any predicate not referencing the event-time column), so an
out-of-band sentinel is dropped BEFORE the watermark collector ever
sees it and the terminal watermark stalls at ``max(real ts) - delay``
— found the hard way; the last unmatched purchases were withheld.
Instead this module stages TYPED sentinels: one far-future click and
one far-future purchase (negative ids, disjoint sentinel user ids)
that legitimately pass the side filters and advance both watermark
nodes. They can never match a real row (a 2100 click precedes no
purchase; the sentinel purchase's user has no clicks), and the
sentinel purchase is never emitted either — its own outer-emission
horizon (its event time) lies beyond the terminal watermark
(``2100 - delay``), so append output contains exactly the real rows.

Both joins are run-to-completion (``availableNow``) and pinned EQUAL to
the corresponding batch join in tests — the batch twin is the oracle.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import ensure_session_confs, load_table
from .pipeline import EVENTS_RAW_SCHEMA, _stage_with_flush


def _sides(stream: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split one watermarked events stream into click / purchase sides.
    The typed sentinels pass these filters by design — that is how they
    reach the watermark collector (module docstring)."""
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return clicks, purchases


def purchase_click_pairs_stream(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "2 hours",
    max_gap_minutes: int = 60,
    how: str = "inner",
) -> tuple[DataFrame, str]:
    """All (purchase, preceding click ≤ ``max_gap_minutes``) pairs per
    user as a stream-stream join; ``how='left_outer'`` also emits
    unmatched purchases (null click columns) once the watermark rules a
    match out. Returns (streaming DataFrame, staging dir to clean up).

    Output: (purchase_id, user_id, purchase_ts, click_id, gap_s).
    """
    ensure_session_confs(spark)
    # a far-future click AND purchase sentinel (module docstring: the
    # untyped flush row cannot advance a stream-stream join's watermark)
    staging = _stage_with_flush(spark, sf_dir, ("click", "purchase"))
    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("recursiveFileLookup", "true")
        .load(staging)
        .withWatermark("ts", delay)
    )
    clicks, purchases = _sides(stream)
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {int(max_gap_minutes)} MINUTES")
        )
    )
    joined = purchases.join(clicks, cond, how).select(
        "purchase_id",
        "user_id",
        F.col("purchase_ts").cast("long").alias("purchase_epoch_s"),
        "click_id",
        (
            F.col("purchase_ts").cast("long")
            - F.col("click_ts").cast("long")
        ).alias("gap_s"),
    )
    return joined, staging


def purchase_click_pairs_table(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "2 hours",
    max_gap_minutes: int = 60,
    how: str = "inner",
) -> DataFrame:
    """Run the stream-stream join to completion (availableNow → memory
    sink) and return the finished table — the driver-gate entry point
    (plans.events streaming composite). Output holds exactly the real
    rows: the typed sentinels never match anything and the sentinel
    purchase's outer-emission horizon lies past the terminal watermark
    (module docstring)."""
    from .pipeline import _run_append_to_memory

    streamed, staging = purchase_click_pairs_stream(
        spark, sf_dir, delay=delay, max_gap_minutes=max_gap_minutes, how=how
    )
    try:
        sink = _run_append_to_memory(streamed, "stream_join")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return spark.table(sink)


def purchase_click_pairs_batch(
    spark: SparkSession, sf_dir: str, max_gap_minutes: int = 60,
    how: str = "inner",
) -> DataFrame:
    """Batch twin of :func:`purchase_click_pairs_stream` — the oracle
    the streaming output must equal exactly."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {int(max_gap_minutes)} MINUTES")
        )
    )
    return purchases.join(clicks, cond, how).select(
        "purchase_id",
        "user_id",
        F.col("purchase_ts").cast("long").alias("purchase_epoch_s"),
        "click_id",
        (
            F.col("purchase_ts").cast("long")
            - F.col("click_ts").cast("long")
        ).alias("gap_s"),
    )
