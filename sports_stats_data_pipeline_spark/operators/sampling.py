"""Deterministic sampling / split assignment for training-data pipelines.

``rand()``-based sampling is nondeterministic across retries, partitions,
and engine versions — a retried task can emit a different sample, and a
train/val split computed that way is not reproducible. The standard
at-scale alternative: hash the stable row id into [0, denom) and carve
the range. Properties that matter at 100 TB:

- stateless and shuffle-free: the split is a projection, computed
  independently per row, so it survives repartitioning, task retries,
  incremental reruns, and engine swaps (md5 is engine-agnostic);
- stable under corpus growth: a document keeps its split forever —
  new data never reshuffles old assignments (critical for avoiding
  train/test contamination across dataset versions);
- stratification is free: hash (salt || id) to draw independent splits
  per experiment, or group-hash (e.g. by domain) to keep groups intact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(
    id_col: str | Column, denom: int = 10_000, salt: str = ""
) -> Column:
    """Deterministic bucket in [0, denom): the first 14 hex digits of
    md5(salt || id) mod denom (14 digits = 56 bits, exact in int64).

    DuckDB twin (same value, nibble-sum arithmetic — DuckDB has no
    hex->BIGINT cast)::

        list_aggregate(list_transform(range(1, 15), i ->
          (strpos('0123456789abcdef', substr(md5(id), i, 1)) - 1)
          * CAST(pow(16, 14 - i) AS BIGINT)), 'sum') % denom
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return F.conv(F.substring(h, 1, 14), 16, 10).cast("long") % denom


def deterministic_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Attach a ``split`` column assigning each row to a named split.

    ``fractions`` maps split name -> fraction; fractions must sum to
    <= 1.0 (any remainder gets split name ``None`` — useful for
    subsampling). Assignment is by contiguous hash-bucket ranges, so
    growing one split later (e.g. train 0.8 -> 0.9) only MOVES rows from
    the adjacent split, never reshuffles existing members.
    """
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    denom = 1_000_000
    bucket = hash_bucket(id_col, denom=denom, salt=salt)
    expr: Column = F.lit(None).cast("string")
    hi = 0
    # build the when-chain in range order; first match wins.
    chain = []
    for name, frac in fractions.items():
        lo, hi = hi, hi + int(round(frac * denom))
        chain.append((name, lo, hi))
    for name, lo, hi_ in reversed(chain):
        expr = F.when((bucket >= lo) & (bucket < hi_), F.lit(name)).otherwise(
            expr
        )
    return df.withColumn("split", expr)


def mix_sources(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-source re-weighting — the source-mixing step of
    an LLM training-data pipeline (e.g. upsample wiki 2.5×, downsample
    crawl 0.3×, drop a source with weight 0).

    A weight ``w`` for a source keeps each of its rows ``floor(w)`` times
    plus one more with probability ``frac(w)`` — decided by the same
    md5 hash-bucket trick as :func:`deterministic_split` (salted per
    integer copy so the fractional draw is independent of the split
    draw). Output rows carry a ``copy`` ordinal (0-based) so downstream
    shuffling/packing can keep replicas apart.

    Scale shape: a projection + ``explode`` of a per-row built array —
    no shuffle, no rand(); replication factor is bounded by
    ``ceil(max(weights))``. Unlisted sources default to weight 0
    (dropped) — pass an explicit weight for every source you keep.
    Stable under retries/partitioning/corpus growth for the same reasons
    as the split operator (pure hash of the row id).
    """
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for source {s!r}: {w}")
    denom = 1_000_000
    bucket = hash_bucket(id_col, denom=denom, salt=salt)
    # copies per row: floor(w) whole copies + 1 iff bucket < frac(w)*denom.
    n_copies: Column = F.lit(0)
    for s, w in weights.items():
        whole, frac = int(w), w - int(w)
        n_copies = F.when(
            F.col(source_col) == s,
            F.lit(whole)
            + F.when(bucket < int(round(frac * denom)), 1).otherwise(0),
        ).otherwise(n_copies)
    out = df.withColumn("__n_copies", n_copies).filter(F.col("__n_copies") > 0)
    return out.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1)).alias("copy")
    ).drop("__n_copies")
