"""``sources.tables.local_relation`` is the package's one way to turn
driver-side Python rows into a relation.

The lint walk is ``ast``-only like ``tests/test_reachability.py``: it
fails if any package module other than the helper's calls
``.createDataFrame(``. The helper test pins that the relation does not
depend on the session's Arrow conf and never leaves a Python-RDD leaf.
"""

from __future__ import annotations

import ast
import datetime
import math
import os

import numpy as np
import pandas as pd
import pytest

from sports_stats_data_pipeline_spark.plans.lint import (
    plan_text,
    python_rdd_leaves,
)
from sports_stats_data_pipeline_spark.sources.tables import local_relation

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "sports_stats_data_pipeline_spark"
_HELPER_MODULE = os.path.join(_PKG, "sources", "tables.py")


def _create_dataframe_calls(path: str) -> list[int]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_no_create_dataframe_outside_local_relation():
    found = {}
    for dirpath, _dirs, files in os.walk(os.path.join(_REPO, _PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), _REPO)
            if rel == _HELPER_MODULE:
                continue
            lines = _create_dataframe_calls(os.path.join(_REPO, rel))
            if lines:
                found[rel] = lines
    assert found == {}, (
        "build local relations with sources.tables.local_relation, not "
        f"createDataFrame: {found}"
    )


def test_lint_walk_sees_a_create_dataframe_call(tmp_path):
    p = tmp_path / "m.py"
    p.write_text("def f(s):\n    return s.createDataFrame([], 'a int')\n")
    assert _create_dataframe_calls(str(p)) == [2]


_SCHEMA = (
    "id long, name string, score double, vec array<double>, ts timestamp"
)
_TS = datetime.datetime(2024, 2, 29, 12, 34, 56, 123456)
_ROWS = [
    (np.int64(1), "a", 0.5, [1.0, 2.5], datetime.datetime(2100, 1, 1)),
    (2, None, float("nan"), [], pd.Timestamp(_TS)),
    (3, pd.NA, None, None, pd.NaT),
    (np.int32(4), "d", np.float64(-1.25), [0.25, None], None),
]


def _canon(rows):
    return [
        tuple("nan" if isinstance(v, float) and math.isnan(v) else v
              for v in r)
        for r in rows
    ]


def test_local_relation_same_with_arrow_on_and_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    got = {}
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            df = local_relation(spark, _ROWS, _SCHEMA)
            empty = local_relation(spark, [], _SCHEMA)
            assert empty.collect() == []
            assert empty.schema == df.schema
            plan = plan_text(df)
            assert "Range" in plan, plan
            assert "ExistingRDD" not in plan, plan
            assert python_rdd_leaves(df) == []
            got[arrow] = (df.schema, _canon(df.orderBy("id").collect()))
    finally:
        spark.conf.set(key, prior)
    assert got["true"] == got["false"]
    schema, rows = got["true"]
    assert schema.simpleString() == (
        "struct<id:bigint,name:string,score:double,vec:array<double>,"
        "ts:timestamp>"
    )
    assert rows == [
        (1, "a", 0.5, [1.0, 2.5], datetime.datetime(2100, 1, 1)),
        (2, None, "nan", [], _TS),
        (3, None, None, None, None),
        (4, "d", -1.25, [0.25, None], None),
    ]


@pytest.mark.parametrize(
    "row, column",
    [
        ((1.5, "a", None), "id"),  # a float is not a long
        (("1", "a", None), "id"),
        ((2**63, "a", None), "id"),  # out of range
        ((1, 7, None), "name"),
        ((1, b"bytes", None), "name"),
        ((1, "a", True), "flag"),  # no boolean columns
    ],
)
def test_local_relation_rejects_a_value_its_column_cannot_hold(
    spark, row, column
):
    with pytest.raises(ValueError, match=repr(column)):
        local_relation(spark, [row], "id long, name string, flag boolean")
