"""Schema evolution for append pipelines: conform an incoming batch to
a target table schema — the missing half of every long-lived ingest
(upstream adds a column, widens an int, reorders fields; the sink must
keep accepting batches without a rewrite).

Policy (the Delta/Iceberg-compatible safe set):
- missing columns → added as typed NULLs;
- SAFE widenings applied: int→long, float→double, int/long→double,
  date→timestamp — conversions that cannot lose information;
- column order → target order (positional writers care);
- extra columns → rejected by default (a typo'd producer column should
  fail loudly), kept with ``allow_extra=True`` (appended after the
  target columns, for sinks that merge schemas);
- NARROWING (long→int, double→float, string→anything) → always an
  error listing every offender; silent truncation is the one thing an
  ingest must never do.

Pure projection — no shuffle, no data pass beyond the cast itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: (from, to) pairs that cannot lose information.
_SAFE_WIDENINGS = {
    (T.IntegerType(), T.LongType()),
    (T.IntegerType(), T.DoubleType()),
    (T.FloatType(), T.DoubleType()),
    (T.ShortType(), T.IntegerType()),
    (T.ShortType(), T.LongType()),
    (T.ShortType(), T.DoubleType()),
    (T.ByteType(), T.ShortType()),
    (T.ByteType(), T.IntegerType()),
    (T.ByteType(), T.LongType()),
    (T.DateType(), T.TimestampType()),
}

#: (from, to) pairs that LOOK like widenings but can silently lose
#: precision — long→double keeps only 53 mantissa bits, so |v| > 2^53
#: rounds. Not in the Delta/Iceberg safe set; applied only under an
#: explicit ``allow_lossy=True`` opt-in.
_LOSSY_WIDENINGS = {
    (T.LongType(), T.DoubleType()),
}


def evolve_to_schema(
    batch: DataFrame,
    target: T.StructType,
    allow_extra: bool = False,
    allow_lossy: bool = False,
) -> DataFrame:
    """Project ``batch`` onto ``target``: see module docstring for the
    add/widen/reject policy. Raises ``ValueError`` naming every
    incompatible column. ``allow_lossy=True`` additionally permits the
    precision-losing conversions in ``_LOSSY_WIDENINGS`` (long→double,
    which rounds |v| > 2^53)."""
    have = {f.name: f.dataType for f in batch.schema.fields}
    allowed = _SAFE_WIDENINGS | (_LOSSY_WIDENINGS if allow_lossy else set())
    errors: list[str] = []
    cols = []
    for f in target.fields:
        if f.name not in have:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        src = have[f.name]
        if src == f.dataType:
            cols.append(F.col(f.name))
        elif (src, f.dataType) in allowed:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        elif (src, f.dataType) in _LOSSY_WIDENINGS:
            errors.append(
                f"{f.name}: {src.simpleString()} -> "
                f"{f.dataType.simpleString()} loses precision "
                "(pass allow_lossy=True to accept rounding)"
            )
        else:
            errors.append(
                f"{f.name}: {src.simpleString()} -> "
                f"{f.dataType.simpleString()} is not a safe widening"
            )
    extra = [n for n in have if n not in {f.name for f in target.fields}]
    if extra and not allow_extra:
        errors.append(
            "unexpected columns (allow_extra=False): " + ", ".join(sorted(extra))
        )
    if errors:
        raise ValueError("schema evolution rejected: " + "; ".join(errors))
    if allow_extra:
        cols += [F.col(n) for n in sorted(extra)]
    return batch.select(*cols)
