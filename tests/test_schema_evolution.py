"""Schema evolution: add/widen/reorder conform, loud narrowing and
extra-column rejection, and the round-trip through a parquet sink (old +
evolved batches read back as one table)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from sports_stats_data_pipeline_spark.operators.schema_evolution import (
    evolve_to_schema,
)

TARGET = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("note", T.StringType()),
    ]
)


def test_add_widen_reorder(spark):
    batch = spark.createDataFrame(
        [(1.5, 7), (2.5, 8)], "price float, id int"  # reordered, narrow
    )
    out = evolve_to_schema(batch, TARGET)
    assert [f.name for f in out.schema.fields] == ["id", "price", "note"]
    assert [f.dataType for f in out.schema.fields] == [
        T.LongType(), T.DoubleType(), T.StringType(),
    ]
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(7, 1.5, None), (8, 2.5, None)]


def test_narrowing_and_extra_rejected_with_names(spark):
    batch = spark.createDataFrame(
        [(1, "x", 9)], "id long, price string, rogue int"
    )
    with pytest.raises(ValueError) as e:
        evolve_to_schema(batch, TARGET)
    msg = str(e.value)
    assert "price: string -> double" in msg
    assert "rogue" in msg


def test_allow_extra_appends_after_target(spark):
    batch = spark.createDataFrame([(1, 1.0, "n", 9)],
                                  "id long, price double, note string, x int")
    out = evolve_to_schema(batch, TARGET, allow_extra=True)
    assert [f.name for f in out.schema.fields] == ["id", "price", "note", "x"]


def test_parquet_sink_round_trip(spark, tmp_path):
    """The ingest story end-to-end: an old-schema file plus an evolved
    new batch read back as one coherent table under the widened target
    schema (old columns first, ``id`` widened, then the new column)."""
    path = str(tmp_path / "t")
    old = spark.createDataFrame([(1, 10)], "id int, v int")
    old.write.mode("overwrite").parquet(path)
    target = T.StructType.fromDDL("id long, v int, note string")
    new = spark.createDataFrame([(2, "hi")], "id int, note string")
    evolve_to_schema(new, target).write.mode("append").parquet(path)
    # parquet's own mergeSchema does NOT widen (int file vs long file
    # errors); the merged TARGET is the read schema — Spark 4's parquet
    # reader widens int32 file columns into the long target on the fly.
    back = spark.read.schema(target).parquet(path)
    rows = {r["id"]: (r["v"], r["note"]) for r in back.collect()}
    assert rows == {1: (10, None), 2: (None, "hi")}


def test_long_to_double_is_lossy_not_safe(spark):
    """long→double keeps 53 mantissa bits (|v| > 2^53 rounds) — rejected
    by default, allowed only under the explicit allow_lossy opt-in
    (ADVICE r3: it is not in the Delta/Iceberg safe widening set)."""
    target = T.StructType([T.StructField("v", T.DoubleType())])
    batch = spark.createDataFrame([((1 << 60) + 1,)], "v long")
    with pytest.raises(ValueError, match="loses precision"):
        evolve_to_schema(batch, target)
    got = evolve_to_schema(batch, target, allow_lossy=True).collect()[0]
    assert isinstance(got["v"], float)
