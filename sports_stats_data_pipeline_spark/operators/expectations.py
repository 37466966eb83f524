"""Declarative data-quality expectations: evaluate a set of constraints
over a table in ONE pass and report violation counts — the dbt-test /
Delta-constraint / quality-gate primitive a pipeline runs before
promoting a batch (pair with operators.sinks staged-replace: validate
the staging table, promote only when the gate passes).

Supported constraint kinds:
- ``not_null(col)`` — no NULLs;
- ``unique(cols)`` — no duplicate key tuples;
- ``accepted_values(col, values)`` — domain check;
- ``in_range(col, lo, hi)`` — inclusive bounds (NULLs don't violate —
  compose with not_null to forbid them);
- ``expression(sql_bool)`` — arbitrary row predicate that must hold;
- ``foreign_key(cols, dim, dim_cols)`` — referential integrity into a
  dimension table.

Scale shape: every row-level constraint compiles to a conditional-sum
column in ONE aggregate over ONE scan (no per-constraint passes);
``unique`` adds one groupBy on its key and ``foreign_key`` one
left-anti join against the (broadcastable) dimension — each extra
relation is keyed by exactly the columns it checks, nothing rescans.
At 100 TB the row-level gate is a single map-side-combinable pass.

Output: one row per expectation — (name, kind, violations, total,
passed) — so the gate is ``max(violations) == 0`` and the report is
small enough to log/persist with the batch.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: the kind taxonomy used by validate()'s row-level filter and up-front
#: kind check. NOTE: _violation_expr and the unique/foreign_key branches
#: still dispatch on the literal kind strings — adding a kind means
#: extending BOTH a set here and the matching dispatch branch (the
#: up-front check guarantees a forgotten branch fails loudly, not
#: silently).
ROW_LEVEL_KINDS = ("not_null", "accepted_values", "in_range", "expression")
RELATION_KINDS = ("unique", "foreign_key")
KNOWN_KINDS = frozenset(ROW_LEVEL_KINDS) | frozenset(RELATION_KINDS)


@dataclass(frozen=True)
class Expectation:
    name: str
    kind: str
    params: dict = field(default_factory=dict)


def not_null(col: str, name: str | None = None) -> Expectation:
    return Expectation(name or f"not_null_{col}", "not_null", {"col": col})


def unique(cols: list[str], name: str | None = None) -> Expectation:
    return Expectation(
        name or "unique_" + "_".join(cols), "unique", {"cols": list(cols)}
    )


def accepted_values(
    col: str, values: list, name: str | None = None
) -> Expectation:
    return Expectation(
        name or f"accepted_values_{col}",
        "accepted_values",
        {"col": col, "values": list(values)},
    )


def in_range(col: str, lo, hi, name: str | None = None) -> Expectation:
    return Expectation(
        name or f"in_range_{col}", "in_range", {"col": col, "lo": lo, "hi": hi}
    )


def expression(sql_bool: str, name: str) -> Expectation:
    return Expectation(name, "expression", {"sql": sql_bool})


def foreign_key(
    cols: list[str],
    dim: DataFrame,
    dim_cols: list[str],
    name: str | None = None,
) -> Expectation:
    return Expectation(
        name or "fk_" + "_".join(cols),
        "foreign_key",
        {"cols": list(cols), "dim": dim, "dim_cols": list(dim_cols)},
    )


def _sql_lit(v) -> str:
    """Render a Python scalar as a SQL literal (the violation
    indicators are built as SQL STRINGS and parsed once — each pyspark
    Column operation is a py4j round-trip, and a report over a handful
    of expectations was paying hundreds of them per plan build;
    round-13 profile: the quality slot's build spent ~80% of its wall
    in py4j socket reads)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise ValueError(f"unsupported literal type for SQL render: {type(v)}")


def _q(col: str) -> str:
    """Backtick-quote an identifier."""
    return "`" + col.replace("`", "``") + "`"


def _violation_sql(e: Expectation) -> str:
    """Row-level violation indicator (1 = this row violates) as a SQL
    string — semantics identical to the former Column builder: NULLs
    don't violate range/domain checks, expression NULL (three-valued
    unknown) counts as a violation (gates fail shut)."""
    p = e.params
    if e.kind == "not_null":
        return f"CAST(({_q(p['col'])} IS NULL) AS BIGINT)"
    if e.kind == "accepted_values":
        c = _q(p["col"])
        vals = ", ".join(_sql_lit(v) for v in p["values"])
        return (
            f"CAST(((NOT {c} IN ({vals})) AND {c} IS NOT NULL) AS BIGINT)"
        )
    if e.kind == "in_range":
        c = _q(p["col"])
        return (
            f"CAST(({c} IS NOT NULL AND NOT ({c} BETWEEN "
            f"{_sql_lit(p['lo'])} AND {_sql_lit(p['hi'])})) AS BIGINT)"
        )
    if e.kind == "expression":
        return f"CAST((NOT COALESCE(({p['sql']}), false)) AS BIGINT)"
    raise ValueError(f"not a row-level expectation kind: {e.kind}")


def validate(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Evaluate all expectations; returns (name, kind, violations,
    total, passed) with one row per expectation."""
    if not expectations:
        raise ValueError("expectations must be non-empty")
    unknown = sorted({e.kind for e in expectations} - KNOWN_KINDS)
    if unknown:
        # an unrecognized kind must fail loudly — silently producing no
        # report row would let a caller pass as if the check succeeded
        raise ValueError(
            "unrecognized expectation kind(s): " + ", ".join(unknown)
        )
    row_level = [e for e in expectations if e.kind in ROW_LEVEL_KINDS]
    results = []
    if row_level:
        # ONE aggregate row exploded into one report row per expectation
        # — a per-expectation select-then-union would re-plan the
        # aggregate (and re-scan the table) once per branch. Built as
        # SQL strings, parsed once per expression (see _sql_lit): the
        # Column-builder form paid hundreds of py4j round-trips here.
        aggs = [F.expr("count(*)").alias("__total")] + [
            F.expr(f"sum({_violation_sql(e)})").alias(f"__v{i}")
            for i, e in enumerate(row_level)
        ]
        entries = "array(" + ", ".join(
            f"named_struct('name', {_sql_lit(e.name)}, "
            f"'kind', {_sql_lit(e.kind)}, "
            f"'violations', CAST(COALESCE(__v{i}, 0) AS BIGINT))"
            for i, e in enumerate(row_level)
        ) + ")"
        # inline() emits the struct fields (name, kind, violations) as
        # columns in declaration order — same output as the former
        # explode + e.* unpack
        results.append(
            df.agg(*aggs).selectExpr(
                f"inline({entries})",
                "CAST(__total AS BIGINT) AS total",
            )
        )
    for e in expectations:
        if e.kind == "unique":
            cols = e.params["cols"]
            dup = (
                df.groupBy(*cols)
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") > 1)
                .agg(
                    F.coalesce(F.sum("__n"), F.lit(0)).alias("violations"),
                )
            )
            total = df.agg(F.count("*").alias("t"))
            results.append(
                dup.crossJoin(total).selectExpr(
                    f"{_sql_lit(e.name)} AS name",
                    "'unique' AS kind",
                    "CAST(violations AS BIGINT) AS violations",
                    "CAST(t AS BIGINT) AS total",
                )
            )
        elif e.kind == "foreign_key":
            cols, dim, dim_cols = (
                e.params["cols"],
                e.params["dim"],
                e.params["dim_cols"],
            )
            keyed = dim.select(
                *[F.col(d).alias(c) for c, d in zip(cols, dim_cols)]
            ).dropDuplicates(cols)
            orphans = df.select(*cols).join(
                F.broadcast(keyed), cols, "left_anti"
            )
            total = df.agg(F.count("*").alias("t"))
            results.append(
                orphans.agg(F.count("*").alias("violations"))
                .crossJoin(total)
                .selectExpr(
                    f"{_sql_lit(e.name)} AS name",
                    "'foreign_key' AS kind",
                    "CAST(violations AS BIGINT) AS violations",
                    "CAST(t AS BIGINT) AS total",
                )
            )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.withColumn(
        "passed", (F.col("violations") == 0).cast("int")
    )
