"""Differential test: every registered query vs its DuckDB oracle —
the same check the driver runs (at sf0.01) for CORRECTNESS_r{N}.json —
plus a plan check that no query carries a Python-RDD leaf.

Default scale here is sf0.001 for speed; set
``SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01`` to mirror the driver.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from sports_stats_data_pipeline_spark.plans import all_registries
from sports_stats_data_pipeline_spark.plans.lint import python_rdd_leaves
from sports_stats_data_pipeline_spark.sources.tables import TABLE_NAMES

from ._compare import assert_frames_match

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

REG = all_registries()


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


#: ops allowed to omit an oracle. EMPTY since round 4: bpe_train_merges
#: graduated via unrolled MATERIALIZED-CTE merge rounds and
#: sketch_approx_stats via running each sketch inside its documented
#: exact regime (plans/documents.py block comment).
NO_ORACLE_ALLOWED: set[str] = set()


def test_every_query_has_an_oracle_or_is_flagged():
    missing = sorted(set(REG.queries) - set(REG.oracles) - NO_ORACLE_ALLOWED)
    # non-SQL-expressible ops are allowed to omit the oracle; keep the
    # list explicit so additions are deliberate.
    assert missing == [], f"queries without oracle (add or whitelist): {missing}"


def test_sketches_exact_in_documented_regime(spark):
    """The HLL estimate must EQUAL the exact distinct count while the
    lgConfigK=21 sketch stays in its pre-dense exact regime (the
    property the driver oracle now relies on)."""
    from sports_stats_data_pipeline_spark.plans.documents import (
        sketch_approx_stats,
    )
    from sports_stats_data_pipeline_spark.sources.tables import load_table

    import pyspark.sql.functions as F

    approx = {
        r["event_type"]: r for r in sketch_approx_stats(spark, SF_DIR).collect()
    }
    exact = {
        r["event_type"]: r["nd"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    for et, nd in exact.items():
        assert approx[et]["approx_users"] == nd, (et, approx[et], nd)
        assert approx[et]["value_p50_c"] <= approx[et]["value_p95_c"]


@pytest.mark.parametrize("name", sorted(REG.oracles))
def test_oracle_parity(spark, oracle, name):
    df = REG.queries[name](spark, SF_DIR)
    # local rows enter through sources.tables.local_relation, never a
    # Python-RDD leaf (one explain, no Spark job)
    assert python_rdd_leaves(df) == [], name
    spark_pdf = df.toPandas()
    oracle_pdf = oracle.execute(REG.oracles[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)
