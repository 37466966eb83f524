"""Bloom-filter primitive: no false negatives (hard guarantee), bounded
false-positive rate, parquet round-trip, and two-phase insert-if-absent equivalence with the plain operator.

Engine-specific hashing (xxhash64) means there is no DuckDB twin; these
property tests are the correctness pin (operators/bloom.py docstring).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.bloom import (
    build_bloom,
    insert_if_absent_bloom,
    optimal_params,
    probe_bloom,
)
from sports_stats_data_pipeline_spark.operators.merge import insert_if_absent


def _keys_df(spark, lo, hi, col="k"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("key-"), F.col("id")).alias(col)
    )


def test_optimal_params_shape():
    m, k = optimal_params(10_000, 0.01)
    assert m % 64 == 0
    assert m / 10_000 == pytest.approx(9.6, abs=0.7)  # ~9.6 bits/key @1%
    assert k == 7


def test_no_false_negatives(spark):
    members = _keys_df(spark, 0, 2_000)
    m, k = optimal_params(2_000, 0.01)
    bloom = build_bloom(members, "k", m, k)
    flagged = probe_bloom(members, "k", bloom)
    assert flagged.filter(~F.col("maybe_present")).count() == 0


def test_false_positive_rate_bounded(spark):
    members = _keys_df(spark, 0, 2_000)
    m, k = optimal_params(2_000, 0.01)
    bloom = build_bloom(members, "k", m, k)
    outsiders = _keys_df(spark, 1_000_000, 1_002_000)
    fp = probe_bloom(outsiders, "k", bloom).filter("maybe_present").count()
    assert fp / 2_000 < 0.05  # sized for 1%; generous margin for variance


def test_parquet_round_trip(spark, tmp_path):
    members = _keys_df(spark, 0, 300)
    bloom = build_bloom(members, "k", 4096, 5)
    path = str(tmp_path / "bloom.parquet")
    bloom.write.parquet(path)
    loaded = spark.read.parquet(path)
    assert (
        probe_bloom(members, "k", loaded)
        .filter(~F.col("maybe_present"))
        .count()
        == 0
    )


def test_insert_if_absent_bloom_matches_plain(spark):
    # sink keys 0..999; incoming overlaps 500..1499 plus internal dups
    existing = _keys_df(spark, 0, 1_000).withColumn(
        "payload", F.lit("old")
    )
    incoming = (
        _keys_df(spark, 500, 1_500)
        .unionByName(_keys_df(spark, 700, 720))
        .withColumn("payload", F.lit("new"))
    )
    m, k = optimal_params(1_000, 0.01)
    bloom = build_bloom(existing, "k", m, k)
    fast = insert_if_absent_bloom(existing, incoming, ["k"], bloom)
    plain = insert_if_absent(existing, incoming, ["k"])
    assert sorted(fast.collect()) == sorted(plain.collect())
    # existing rows won: no key already in the sink carries the new payload
    assert (
        fast.filter(F.col("payload") == "new")
        .join(existing, "k", "left_semi")
        .count()
        == 0
    )


def test_definite_new_skips_join_path(spark):
    # disjoint incoming: with ~1% FP nearly everything takes the fast path
    existing = _keys_df(spark, 0, 1_000)
    m, k = optimal_params(1_000, 0.01)
    bloom = build_bloom(existing, "k", m, k)
    incoming = _keys_df(spark, 2_000_000, 2_001_000)
    suspects = probe_bloom(incoming, "k", bloom).filter("maybe_present")
    assert suspects.count() < 100  # >90% of rows bypass the anti-join


# ---- sharded representation (100-TB key cardinality path) ----------------


def test_sharded_no_false_negatives_and_fp(spark):
    members = _keys_df(spark, 0, 2_000)
    m, k = optimal_params(2_000, 0.01)
    m = ((m + 64 * 8 - 1) // (64 * 8)) * (64 * 8)  # divisible by 8 shards
    bloom = build_bloom(members, "k", m, k, shards=8)
    assert bloom.count() == 8
    flagged = probe_bloom(members, "k", bloom)
    assert flagged.filter(~F.col("maybe_present")).count() == 0
    outsiders = _keys_df(spark, 1_000_000, 1_002_000)
    fp = probe_bloom(outsiders, "k", bloom).filter("maybe_present").count()
    assert fp / 2_000 < 0.05


def test_sharded_insert_if_absent_matches_plain(spark):
    existing = _keys_df(spark, 0, 1_000).withColumn("payload", F.lit("old"))
    incoming = (
        _keys_df(spark, 500, 1_500)
        .unionByName(_keys_df(spark, 700, 720))
        .withColumn("payload", F.lit("new"))
    )
    m, k = optimal_params(1_000, 0.01)
    m = ((m + 64 * 4 - 1) // (64 * 4)) * (64 * 4)
    bloom = build_bloom(existing, "k", m, k, shards=4)
    fast = insert_if_absent_bloom(existing, incoming, ["k"], bloom)
    plain = insert_if_absent(existing, incoming, ["k"])
    assert sorted(fast.collect()) == sorted(plain.collect())


def test_sharded_empty_shard_probe_is_absent(spark):
    # 1 member, 64 shards: ~63 shards materialise no row; probes landing
    # there must read "certainly absent", not error or NULL
    members = _keys_df(spark, 0, 1)
    bloom = build_bloom(members, "k", 64 * 64, 3, shards=64)
    assert bloom.count() == 1
    outsiders = _keys_df(spark, 100, 600)
    probed = probe_bloom(outsiders, "k", bloom)
    assert probed.filter(F.col("maybe_present").isNull()).count() == 0
    assert probed.count() == 500
    member_flag = probe_bloom(members, "k", bloom)
    assert member_flag.filter(~F.col("maybe_present")).count() == 0


def test_sharded_parquet_round_trip(spark, tmp_path):
    members = _keys_df(spark, 0, 300)
    bloom = build_bloom(members, "k", 4096, 5, shards=4)
    path = str(tmp_path / "bloom_sharded.parquet")
    bloom.write.parquet(path)
    loaded = spark.read.parquet(path)
    assert (
        probe_bloom(members, "k", loaded)
        .filter(~F.col("maybe_present"))
        .count()
        == 0
    )
