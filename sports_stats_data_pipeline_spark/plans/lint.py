"""Plan auditing: programmatic checks over a DataFrame's physical plan —
the "is this the plan I'd want at 100 TB" questions as assertions
instead of eyeballing ``.explain()`` output:

- does the scan PUSH the filters / prune the columns?
- did the small side BROADCAST (or did a 2 MB dim trigger a shuffle)?
- how many Exchanges (shuffles) does the plan pay?
- does a supposedly map-only operator really avoid Exchange?
- does a relation built from driver-side Python rows leave a Python-RDD
  leaf behind (see ``sources.tables.local_relation``)?

Use in tests to pin a plan shape (several of this repo's test suites
do), or interactively while tuning: every check returns data, the
``assert_*`` forms raise with the offending plan attached so a CI
failure is diagnosable from the log alone.

Implementation note: this parses ``explain(mode="formatted")`` text —
the same stable surface the Spark UI renders — rather than private
plan-node APIs, so it survives Spark upgrades that shuffle internal
class names.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def plan_text(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def scan_count(df: DataFrame) -> int:
    """Number of file scans (one ``Location:`` detail block per scan —
    the tree line and detail header both repeat the node name, so
    counting node-name occurrences double-counts)."""
    return plan_text(df).count("Location: InMemoryFileIndex")


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchanges (broadcast exchanges excluded — they
    move the SMALL side and are usually the goal, not the problem)."""
    p = plan_text(df)
    return len(re.findall(r"\(\d+\) Exchange\b", p))


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"\(\d+\) Broadcast(?:Hash|NestedLoop)Join", plan_text(df)))


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters`` list in the plan, one string per scan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan_text(df))


def read_schemas(df: DataFrame) -> list[str]:
    """Every scan's ``ReadSchema`` struct string — audit column pruning
    (a 2-column projection reading a 16-column struct is a bug)."""
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", plan_text(df))


def python_rdd_leaves(df: DataFrame) -> list[str]:
    """The ``Arguments`` of every ``Scan ExistingRDD`` leaf built from
    driver-side Python data (``createDataFrame``, ``rdd.toDF()``; see
    ``sources.tables.local_relation``). Checkpoint leaves are skipped."""
    args = re.findall(
        r"\(\d+\) Scan ExistingRDD.*?\nArguments: ([^\n]*)", plan_text(df), re.S
    )
    return [a for a in args if "checkpoint" not in a.lower()]


def assert_no_shuffle(df: DataFrame) -> None:
    """The map-only contract: no shuffle Exchange anywhere."""
    n = exchange_count(df)
    if n:
        raise AssertionError(
            f"expected a map-only plan, found {n} Exchange(s):\n"
            + plan_text(df)
        )


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    got = exchange_count(df)
    if got > n:
        raise AssertionError(
            f"expected <= {n} Exchange(s), found {got}:\n" + plan_text(df)
        )


def assert_broadcast_join(df: DataFrame) -> None:
    """At least one broadcast join (the small-dim contract)."""
    if not broadcast_join_count(df):
        raise AssertionError(
            "expected a broadcast join, found none:\n" + plan_text(df)
        )


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    """Some scan's PushedFilters must mention ``fragment`` (a column
    name or predicate piece) — the predicate reached the reader."""
    pushed = pushed_filters(df)
    if not any(fragment in p for p in pushed):
        raise AssertionError(
            f"no scan pushes a filter mentioning {fragment!r}; "
            f"pushed: {pushed}\n" + plan_text(df)
        )


def assert_columns_pruned(df: DataFrame, max_cols: int) -> None:
    """Every scan must read at most ``max_cols`` columns."""
    for s in read_schemas(df):
        n = s.count(":")
        if n > max_cols:
            raise AssertionError(
                f"scan reads {n} columns (> {max_cols}): {s}\n"
                + plan_text(df)
            )
