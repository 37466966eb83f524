"""Time-series resampling: align an irregular event stream to a regular
grid per key and forward-fill values across the gaps — the
dashboard/feature-engineering primitive every events table eventually
needs ("1-minute series per user, carrying the last observation").

Shape: the grid is generated per key with ``sequence`` + ``explode``
(rows = key_count x grid_len — linear, no join against a global
calendar table), observations land on their bucket via a UNION (by
name) rather than a join, and the carry-forward is one
``last(ignore_nulls)`` window per key ordered by bucket — a single
shuffle on the key, the same topology as the as-of family
(plans.events.purchase-asof path). No cross joins, no per-key driver
loops.

Grid bounds default to EACH KEY'S OWN [min, max] observation span
(``bounds="per_key"``): one extra tiny aggregate, fully distributed (no
driver action), and — critically at 100 TB — one ancient outlier event
cannot inflate every other key's grid. A dense global-range grid
(``bounds="global"`` or explicit ``start_s``/``end_s``) multiplies
output by ``distinct_keys × (global max−min)/step`` regardless of
per-key span; it remains available for aligned-calendar use cases, and
``max_buckets`` guards either mode against a runaway grid.

Forward-fill semantics: multiple observations inside one bucket keep
the LATEST (ts, then a stable tiebreak) — the value a sampler reading
at bucket close would see; with explicit/global bounds, buckets before
a key's first observation stay NULL (nothing to carry), while
observations outside the pinned range still seed the carry-forward."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import local_relation

__all__ = ["resample_ffill"]


def resample_ffill(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_s: int,
    start_s: int | None = None,
    end_s: int | None = None,
    bounds: str = "per_key",
    max_buckets: int | None = None,
) -> DataFrame:
    """Regular grid of ``step_s``-second buckets per key with the last
    observed ``value_col`` carried forward.

    Output: ``(key_col, bucket_s, value, observed)`` — ``bucket_s`` is
    the epoch-second bucket start, ``observed`` is 1 when the bucket
    contains a real observation, 0 when filled. By default each key's
    grid spans its own [min, max] observation times; pass
    ``bounds="global"`` for one shared grid over the global span, or
    pin ``start_s``/``end_s`` explicitly (e.g. for streaming
    micro-batch alignment). ``max_buckets`` raises if any key's grid
    would exceed that many rows — the guard against a fine step over a
    wide span.
    """
    if step_s <= 0:
        raise ValueError(f"step_s must be positive, got {step_s}")
    if bounds not in ("per_key", "global"):
        raise ValueError(f"bounds must be 'per_key' or 'global', got {bounds!r}")
    ev = events.select(
        F.col(key_col).alias("__k"),
        F.unix_timestamp(F.col(ts_col)).alias("__s"),
        F.col(value_col).alias("__v"),
    )
    # latest observation per (key, bucket): max over a (ts, value)
    # struct orders by time with the value as a deterministic tiebreak.
    obs = (
        ev.withColumn(
            "bucket_s", (F.col("__s") - (F.col("__s") % step_s)).cast("long")
        )
        .groupBy("__k", "bucket_s")
        .agg(F.max(F.struct("__s", "__v")).alias("__last"))
        .select(
            "__k",
            "bucket_s",
            F.col("__last.__v").alias("value"),
            F.lit(1).alias("observed"),
        )
    )
    val_t = obs.schema["value"].dataType
    pinned = start_s is not None or end_s is not None
    if pinned or bounds == "global":
        if start_s is None or end_s is None:
            lo, hi = ev.agg(F.min("__s"), F.max("__s")).first()
            if lo is None:
                # schema derived from the input, not hardcoded — the
                # empty path must union cleanly with the non-empty one
                return local_relation(
                    events.sparkSession,
                    [],
                    obs.withColumnRenamed("__k", key_col).schema,
                )
            start_s = start_s if start_s is not None else int(lo - lo % step_s)
            end_s = end_s if end_s is not None else int(hi)
        n_buckets = max(0, (int(end_s) - int(start_s)) // step_s + 1)
        if max_buckets is not None and n_buckets > max_buckets:
            raise ValueError(
                f"grid of {n_buckets} buckets/key exceeds max_buckets="
                f"{max_buckets}; widen step_s or narrow the range"
            )
        grid = (
            ev.select("__k")
            .distinct()
            .select(
                "__k",
                F.explode(
                    F.sequence(
                        F.lit(int(start_s)), F.lit(int(end_s)), F.lit(int(step_s))
                    )
                ).alias("bucket_s"),
                F.lit(None).cast(val_t).alias("value"),
                F.lit(0).alias("observed"),
            )
        )
        lo_f, hi_f = int(start_s), int(end_s)
    else:
        # per-key span: lo snapped to the key's own first bucket. One
        # tiny (key → 2 longs) aggregate; the sequence stays distributed
        # and no driver action runs at all.
        span = ev.groupBy("__k").agg(
            (F.min("__s") - F.min("__s") % step_s).cast("long").alias("__lo"),
            F.max("__s").cast("long").alias("__hi"),
        )
        if max_buckets is not None:
            worst = span.agg(
                F.max(
                    ((F.col("__hi") - F.col("__lo")) / step_s).cast("long") + 1
                )
            ).first()[0]
            if worst is not None and worst > max_buckets:
                raise ValueError(
                    f"widest key grid of {worst} buckets exceeds max_buckets="
                    f"{max_buckets}; widen step_s or pin start_s/end_s"
                )
        grid = span.select(
            "__k",
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.lit(int(step_s)))
            ).alias("bucket_s"),
            F.lit(None).cast(val_t).alias("value"),
            F.lit(0).alias("observed"),
        )
        lo_f = hi_f = None
    # union-then-window: grid rows carry NULL value; per bucket the
    # observed row (if any) wins via max(observed), and the fill is
    # last(value, ignorenulls) over buckets so far.
    unioned = (
        obs.unionByName(grid)
        .groupBy("__k", "bucket_s")
        .agg(
            F.max("observed").alias("observed"),
            F.max(F.struct("observed", "value")).alias("__best"),
        )
        .select(
            "__k", "bucket_s", F.col("__best.value").alias("value"), "observed"
        )
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.withColumn(
        "value", F.last("value", ignorenulls=True).over(w)
    )
    if lo_f is not None:
        filled = filled.filter(
            (F.col("bucket_s") >= lo_f) & (F.col("bucket_s") <= hi_f)
        )
    return filled.select(
        F.col("__k").alias(key_col), "bucket_s", "value", "observed"
    )
