"""PSI drift monitoring: zero for identical distributions, sensitive to
real shifts, out-of-span mass lands in the under/overflow bins, and the
whole report matches a DuckDB twin."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.drift import (
    OVERFLOW,
    UNDERFLOW,
    bin_counts,
    psi_report,
)
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def psi(reference, current, col, **kw):
    """Scalar PSI: the sum of the report's per-bin terms."""
    return (
        psi_report(reference, current, col, **kw)
        .agg(F.sum("psi_term"))
        .first()[0]
    )


def test_identical_distributions_score_zero(spark):
    orders = load_table(spark, SF, "orders")
    assert psi(orders, orders, "o_totalprice") == pytest.approx(0.0, abs=1e-12)


def test_shift_is_detected_and_split_is_stable(spark):
    orders = load_table(spark, SF, "orders")
    # a random-ish half vs the whole: same distribution -> stable
    half = orders.filter(F.col("o_orderkey") % 2 == 0)
    assert psi(orders, half, "o_totalprice") < 0.1
    # the cheap tail only: a real distribution shift -> drifted
    cheap = orders.filter(F.col("o_totalprice") < 50000)
    assert psi(orders, cheap, "o_totalprice") > 0.25


def test_out_of_span_mass_hits_flow_bins(spark):
    ref = spark.range(100).select((F.col("id") % 10).cast("double").alias("v"))
    cur = spark.range(100).select((F.col("id") % 10 + 100).cast("double").alias("v"))
    rep = {r["bin"]: r["cur_n"] for r in
           psi_report(ref, cur, "v", n_bins=5).collect()}
    assert rep[OVERFLOW] == 100
    assert psi(ref, cur, "v") > 0.25
    low = spark.range(10).select(F.lit(-5.0).alias("v"))
    rep2 = {r["bin"]: r["cur_n"] for r in
            psi_report(ref, low, "v", n_bins=5).collect()}
    assert rep2[UNDERFLOW] == 10


def test_matches_duckdb_twin(spark):
    orders = load_table(spark, SF, "orders")
    cur = orders.filter(F.col("o_orderkey") % 3 != 0)
    got = {
        r["bin"]: (r["ref_n"], r["cur_n"], r["psi_term"])
        for r in psi_report(
            orders, cur, "o_totalprice", n_bins=8
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{SF}/orders.parquet')"
    )
    lo, hi = con.execute(
        "SELECT min(o_totalprice), max(o_totalprice) FROM orders"
    ).fetchone()
    w = (hi - lo) / 8

    def duck_bins(where):
        rows = con.execute(
            f"""
            SELECT CASE WHEN o_totalprice < {lo} THEN {UNDERFLOW}
                        WHEN o_totalprice > {hi} THEN {OVERFLOW}
                        WHEN CAST(FLOOR((o_totalprice - {lo}) / {w}) AS INT) >= 8
                          THEN 7
                        ELSE CAST(FLOOR((o_totalprice - {lo}) / {w}) AS INT)
                   END AS bin, count(*)
            FROM orders WHERE {where} GROUP BY 1
            """
        ).fetchall()
        return dict(rows)

    ref_b = duck_bins("true")
    cur_b = duck_bins("o_orderkey % 3 <> 0")
    bins = set(ref_b) | set(cur_b)
    rt, ct = sum(ref_b.values()), sum(cur_b.values())
    for b in bins:
        rn, cn = ref_b.get(b, 0), cur_b.get(b, 0)
        rp, cp = max(rn / rt, 1e-4), max(cn / ct, 1e-4)
        term = (cp - rp) * (math.log(cp) - math.log(rp))
        g = got[b]
        assert g[0] == rn and g[1] == cn
        assert g[2] == pytest.approx(term, rel=1e-9)


def test_rejects_degenerate_reference(spark):
    const = spark.range(5).select(F.lit(3.0).alias("v"))
    # the span contract fires by name from inside the plan
    with pytest.raises(Exception, match="drift_reference_span"):
        psi(const, const, "v")
