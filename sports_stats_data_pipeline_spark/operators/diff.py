"""Table diff / reconciliation — keyed comparison of two snapshots.

The migration-validation operator: after a backfill, engine swap, or
CDC replay, diff the new table against the old BY KEY and report what
changed. (This engine's own correctness gate is exactly this shape —
Spark output vs DuckDB oracle — done driver-side; ``table_diff`` is the
distributed, in-engine version for tables that don't fit a pandas
compare.)

- :func:`table_diff` — one row per key present in either side, with a
  ``diff_status`` of ``added`` / ``removed`` / ``changed`` /
  ``unchanged`` and a ``changed_cols`` array naming the differing
  columns (null-safe comparison: NULL == NULL, NULL != value).
- :func:`diff_summary` — the counts a reconciliation report needs:
  rows per status plus per-column change counts, as one tagged
  relation.

Scale shape: ONE full outer join on the key (the unavoidable shuffle —
both sides hash-partition by key; with bucketed/co-located snapshots
even that exchange disappears, cf. operators/bucketing.py), then
per-row null-safe comparisons in codegen. The summary is a map-side-
combinable aggregate over the diff — counts and an array-sum fold, no
second shuffle of data rows. No collect, no UDF.

At 100 TB the common fast path is diffing PARTITIONS (a day, a
source): push the partition predicate into both scans and the join
cost is the changed slice, not the table. Column pruning applies too:
pass ``compare_cols`` to read only the columns under comparison.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_relation

STATUSES = ("added", "removed", "changed", "unchanged")


def _null_safe_ne(a: Column, b: Column) -> Column:
    return ~a.eqNullSafe(b)


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Diff ``right`` (new) against ``left`` (old) by ``keys``.

    Returns ``keys + [diff_status, changed_cols]`` — one row per key in
    either input. ``compare_cols`` defaults to every non-key column
    present on BOTH sides (one-sided columns can't be compared and are
    ignored; schema evolution is operators/schema_evolution.py's job).
    Keys must be unique per side (snapshot semantics — pre-dedup with
    dedup/survivorship operators otherwise).
    """
    ks = list(keys)
    if compare_cols is None:
        cc = [
            c
            for c in left.columns
            if c not in ks and c in set(right.columns)
        ]
    else:
        cc = list(compare_cols)
    lt = left.select(
        *ks,
        F.lit(True).alias("__in_l"),
        *[F.col(c).alias(f"__l_{c}") for c in cc],
    )
    rt = right.select(
        *ks,
        F.lit(True).alias("__in_r"),
        *[F.col(c).alias(f"__r_{c}") for c in cc],
    )
    joined = lt.join(rt, ks, "full_outer")
    changed_cols = F.filter(
        F.array(
            *[
                F.when(
                    _null_safe_ne(
                        F.col(f"__l_{c}"), F.col(f"__r_{c}")
                    ),
                    F.lit(c),
                ).otherwise(F.lit(None))
                for c in cc
            ]
        )
        if cc
        else F.array().cast("array<string>"),
        lambda x: x.isNotNull(),
    )
    status = (
        F.when(F.col("__in_l").isNull(), F.lit("added"))
        .when(F.col("__in_r").isNull(), F.lit("removed"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *ks,
        status.alias("diff_status"),
        F.when(
            status == "changed", changed_cols
        ).otherwise(F.array().cast("array<string>")).alias("changed_cols"),
    )


def diff_summary(diff: DataFrame) -> DataFrame:
    """Reconciliation report over a :func:`table_diff` output: one row
    per ``kind``/``name`` with a count —

    - ``kind='status'``: rows per diff_status (all four, 0-filled);
    - ``kind='column'``: per-column changed-row counts (only columns
      that actually changed appear).
    """
    # ONE lazy aggregation over the diff's data rows, no collect and no
    # reuse of any subtree (so the full-outer join upstream executes
    # exactly once, INSIDE the caller's action where it overlaps with
    # the rest of the plan — the previous eager collect ran it as a
    # serial driver-blocking job at plan-build time, ~1 s per build of
    # the quality slot; round-12 finding). Shape: every diff row
    # explodes to one weight-1 status marker (NULL name) plus one
    # weight-1 row per changed column; four injected weight-0 markers
    # 0-fill the statuses; a single map-side-combinable groupBy over
    # (status|column, name) keys — tiny, bounded by 4 + |columns| —
    # yields the report directly.
    spark = diff.sparkSession
    exploded = diff.select(
        "diff_status",
        F.explode(
            F.concat(
                F.array(F.lit(None).cast("string")),
                # NULL-safe: concat(array(null), NULL) is NULL and
                # explode of NULL emits ZERO rows, silently dropping
                # the row's status marker. table_diff never emits NULL
                # arrays, but diff_summary is a public operator over
                # any diff-shaped input (round-12 ADVICE).
                F.coalesce(
                    F.col("changed_cols"),
                    F.array().cast("array<string>"),
                ),
            )
        ).alias("__c"),
        F.lit(1).cast("long").alias("__w"),
    )
    zero_fill = local_relation(
        spark,
        [(s, None, 0) for s in STATUSES],
        "diff_status string, __c string, __w long",
    )
    return (
        exploded.unionByName(zero_fill)
        .groupBy(
            F.when(F.col("__c").isNull(), F.lit("status"))
            .otherwise(F.lit("column"))
            .alias("kind"),
            F.coalesce("__c", "diff_status").alias("name"),
        )
        .agg(F.sum("__w").alias("n"))
    )
