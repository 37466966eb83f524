"""SCD Type-2 dimension maintenance (effective-dated history + CDC).

The reference pipeline keeps only CURRENT dimension state: its sink
overwrites merged fighter/fight records with first-wins survivorship
(fighters_scraper.py:193-205, fights_scraper.py:247-260 — read existing
CSV, skip already-present keys, rewrite). SCD Type-2 generalizes that
sink contract to FULL history: every observed attribute change becomes
an effective-dated version row, so the same merged state is queryable
as-of any past point in time — the standard warehouse answer to "what
did this dimension look like when the fact happened?".

Operators:
- :func:`scd2_build` — collapse an observation/change stream into
  version rows ``(attrs, valid_from, valid_to, version, is_current,
  n_obs)``. Run-length change detection via null-safe lag comparison.
- :func:`point_in_time_lookup` — attach to each fact row the dimension
  version in effect at the fact timestamp. Reuses the single-shuffle
  as-of union-trick (operators/asof.py) rather than an inequality
  range join, which Spark can only plan as a broadcast nested loop.

100 TB design: :func:`scd2_build` is ONE exchange end-to-end — the
change-detect window, the per-run aggregate, and the valid_to window
all cluster on (a superset of) the key columns, so Catalyst satisfies
each downstream distribution requirement from the first
hashpartitioning and inserts no further shuffles (pinned by
tests/test_scd.py::test_scd2_build_single_exchange). Skewed dimension
keys are naturally bounded: a key's cost is its own change count, and
change streams are append logs partitioned by key — the same shape as
the sessionize/window operators that already carry the skew corpus.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: internal column names (dunder-prefixed to avoid user-schema clashes)
_CHANGED = "__scd_changed"
_WEIGHT = "__scd_weight"


def _any_attr_differs(attrs: Sequence[str], w_seq) -> Column:
    """Null-safe "this row differs from the previous row" predicate;
    the first row of a key (all lags NULL) must also count as a change,
    which ``row_number() == 1`` handles at the call site."""
    diff = F.lit(False)
    for a in attrs:
        diff = diff | ~F.col(a).eqNullSafe(F.lag(a).over(w_seq))
    return diff


def scd2_build(
    changes: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    seq_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Collapse a change/observation stream into SCD2 version rows.

    ``changes`` carries one row per observed dimension state;
    ``seq_col`` orders observations within a key and MUST be unique per
    key (ties would make run boundaries nondeterministic — pre-collapse
    to one row per (key, seq) first, as the driver query does).
    ``weight_col`` (optional) weights ``n_obs`` — so a run rebuilt from
    collapsed history rows preserves the observation count they already
    carried.

    Returns ``keys + attrs + [valid_from, valid_to, version,
    is_current, n_obs]`` where ``valid_from`` is the first ``seq_col``
    of the run, ``valid_to`` the next run's ``valid_from`` (NULL for
    the current version — half-open ``[valid_from, valid_to)``
    intervals tiling the key's timeline), and ``version`` numbers runs
    from 1 in ``seq_col`` order.
    """
    ks = list(keys)
    w_seq = Window.partitionBy(*ks).orderBy(seq_col)
    weight = (
        F.col(weight_col) if weight_col is not None else F.lit(1)
    ).cast("long")

    flagged = changes.withColumn(
        _CHANGED,
        (
            (F.row_number().over(w_seq) == 1)
            | _any_attr_differs(attrs, w_seq)
        ).cast("long"),
    ).withColumn(_WEIGHT, weight)
    versioned = flagged.withColumn(
        "version",
        F.sum(_CHANGED).over(
            w_seq.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    runs = versioned.groupBy(*ks, "version").agg(
        *[F.first(a).alias(a) for a in attrs],
        F.min(seq_col).alias("valid_from"),
        F.sum(_WEIGHT).alias("n_obs"),
    )
    w_ver = Window.partitionBy(*ks).orderBy("version")
    return runs.select(
        *ks,
        *attrs,
        "valid_from",
        F.lead("valid_from").over(w_ver).alias("valid_to"),
        "version",
        F.lead("valid_from").over(w_ver).isNull().alias("is_current"),
        "n_obs",
    )


def point_in_time_lookup(
    facts: DataFrame,
    history: DataFrame,
    key: str,
    fact_ts: str,
    attrs: Sequence[str],
) -> DataFrame:
    """Attach the dimension version in effect at each fact's timestamp
    (``asof_<attr>`` + ``asof_version`` columns; NULL when the fact
    predates the key's first version).

    A point-in-time join over half-open intervals IS an as-of join on
    ``valid_from`` (non-strict: a fact at exactly ``valid_from``
    belongs to the version that starts there), so this reuses the
    single-shuffle union-trick from operators/asof.py instead of the
    broadcast-nested-loop plan an interval predicate would force.

    The attrs ride in ONE struct payload column: asof_join carries
    each payload column independently with ``last(..., ignorenulls)``,
    so a version whose attr is legitimately NULL (scd2_build supports
    NULL runs) would otherwise leak the PREVIOUS version's non-null
    attr into a mixed-version row. The struct is non-null whenever a
    version exists, so the carry is all-or-nothing per version.
    """
    from .asof import asof_join

    joined = asof_join(
        facts,
        history.select(
            key,
            "valid_from",
            F.struct(
                F.col("version").alias("version"),
                *[F.col(a).alias(a) for a in attrs],
            ).alias("__pit"),
        ),
        key=key,
        left_ts=fact_ts,
        right_ts="valid_from",
        right_payload=["__pit"],
        strict=False,
        order_by=None,
    )
    return joined.select(
        *facts.columns,
        *[F.col(f"asof___pit.{a}").alias(f"asof_{a}") for a in attrs],
        F.col("asof___pit.version").alias("asof_version"),
    )
