"""Data-quality expectations: every kind against a DuckDB twin on the
real tables, the one-scan plan shape for row-level kinds, NULL
three-valued-logic fail-shut behavior, and unknown kinds failing loudly."""

from __future__ import annotations

import contextlib
import io

import duckdb
import pytest
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.expectations import (
    Expectation,
    accepted_values,
    expression,
    foreign_key,
    in_range,
    not_null,
    unique,
    validate,
)
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_real_tables_match_duckdb_twin(spark):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    got = {
        r["name"]: (r["violations"], r["total"], r["passed"])
        for r in validate(
            orders,
            [
                not_null("o_custkey"),
                unique(["o_orderkey"]),
                accepted_values("o_orderstatus", ["O", "F", "P"]),
                in_range("o_totalprice", 0, 1e9),
                expression("o_orderdate >= DATE'1990-01-01'", "date_floor"),
                foreign_key(["o_custkey"], customer, ["c_custkey"]),
            ],
        ).collect()
    }
    con = duckdb.connect()
    for t in ["orders", "customer"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    n, nn, av, ir, ex = con.execute(
        """
        SELECT count(*),
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
               sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                         AND o_orderstatus IS NOT NULL THEN 1 ELSE 0 END),
               sum(CASE WHEN o_totalprice IS NOT NULL
                         AND o_totalprice NOT BETWEEN 0 AND 1e9
                        THEN 1 ELSE 0 END),
               sum(CASE WHEN NOT coalesce(o_orderdate >= DATE'1990-01-01',
                                          false) THEN 1 ELSE 0 END)
        FROM orders
        """
    ).fetchone()
    dup = con.execute(
        "SELECT coalesce(sum(n), 0) FROM (SELECT count(*) n FROM orders "
        "GROUP BY o_orderkey HAVING count(*) > 1)"
    ).fetchone()[0]
    fk = con.execute(
        "SELECT count(*) FROM orders o WHERE NOT EXISTS "
        "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)"
    ).fetchone()[0]
    assert got == {
        "not_null_o_custkey": (nn, n, int(nn == 0)),
        "unique_o_orderkey": (dup, n, int(dup == 0)),
        "accepted_values_o_orderstatus": (av, n, int(av == 0)),
        "in_range_o_totalprice": (ir, n, int(ir == 0)),
        "date_floor": (ex, n, int(ex == 0)),
        "fk_o_custkey": (fk, n, int(fk == 0)),
    }


def test_violations_are_counted(spark):
    df = spark.createDataFrame(
        [(1, "a", 5), (1, "b", -2), (None, "z", 50), (3, "a", 5)],
        "k long, s string, v long",
    )
    got = {
        r["name"]: r["violations"]
        for r in validate(
            df,
            [
                not_null("k"),
                unique(["k"]),
                accepted_values("s", ["a", "b"]),
                in_range("v", 0, 10),
                expression("v % 5 = 0", "v_mod5"),
            ],
        ).collect()
    }
    assert got == {
        "not_null_k": 1,
        "unique_k": 2,  # both rows of the duplicated key count
        "accepted_values_s": 1,
        "in_range_v": 2,  # -2 and 50
        "v_mod5": 1,  # -2 only; NULL-free column so no unknown rows
    }


def test_null_predicate_fails_shut(spark):
    df = spark.createDataFrame([(None,), (10,)], "v long")
    got = validate(df, [expression("v > 0", "v_pos")]).collect()[0]
    assert got["violations"] == 1  # NULL > 0 is unknown -> violation


def test_row_level_kinds_share_one_scan(spark):
    """All row-level expectations must compile into a single aggregate
    over one scan of the table."""
    orders = load_table(spark, SF, "orders")
    rep = validate(
        orders,
        [not_null("o_custkey"), in_range("o_totalprice", 0, 1e9),
         accepted_values("o_orderstatus", ["O", "F", "P"])],
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rep.explain(mode="formatted")
    plan = buf.getvalue()
    # one scan-detail block == one scan (the tree line and the detail
    # header both contain "Scan parquet"; Location appears once per scan)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_unknown_kind_raises_up_front(spark):
    """An unrecognized kind must fail loudly — silently skipping it
    would let a caller pass as if the check ran (ADVICE r3)."""
    df = spark.createDataFrame([(1,)], "k long")
    bogus = Expectation("my_check", "no_such_kind", {})
    with pytest.raises(ValueError, match="no_such_kind"):
        validate(df, [bogus])
    with pytest.raises(ValueError, match="no_such_kind"):
        validate(df, [not_null("k"), bogus])
