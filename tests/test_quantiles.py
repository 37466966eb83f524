"""Bottom-k quantile sketch: split-merge bit-equality, exact regime,
replay idempotence, duplicate-value robustness, DuckDB twin, and the
incremental-mart measure-kind integration."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.quantiles import (
    qsketch_agg,
    qsketch_combine,
    qsketch_entry,
    qsketch_quantile,
)


def _rows_df(spark, n, keys=3):
    """Deterministic (k, id, v) rows with a non-uniform value spread."""
    return spark.range(n).select(
        (F.col("id") % keys).cast("string").alias("k"),
        F.col("id").alias("rid"),
        ((F.col("id") * 37) % 1000 + (F.col("id") % 7) * 10000).alias("v"),
    )


def test_split_merge_bit_equality(spark):
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)) bit-exactly, for an
    adversarial split (by parity) at a k smaller than the groups."""
    df = _rows_df(spark, 600)
    entry = qsketch_entry("rid", "v")
    whole = {
        r["k"]: r["qsk"]
        for r in df.groupBy("k").agg(qsketch_agg(entry, 64).alias("qsk")).collect()
    }
    halves = []
    for p in (0, 1):
        halves.append(
            df.filter(F.col("rid") % 2 == p)
            .groupBy("k")
            .agg(qsketch_agg(entry, 64).alias("qsk"))
        )
    merged = {
        r["k"]: r["qsk"]
        for r in halves[0]
        .unionByName(halves[1])
        .groupBy("k")
        .agg(qsketch_combine("qsk", 64).alias("qsk"))
        .collect()
    }
    assert merged == whole and len(whole) == 3
    assert all(len(s) == 64 for s in whole.values())


def test_replay_idempotent(spark):
    """Re-merging a replayed delta's partial must be a no-op (set
    semantics over entries)."""
    df = _rows_df(spark, 300)
    entry = qsketch_entry("rid", "v")
    sk = df.groupBy("k").agg(qsketch_agg(entry, 32).alias("qsk"))
    once = {r["k"]: r["qsk"] for r in sk.collect()}
    twice = {
        r["k"]: r["qsk"]
        for r in sk.unionByName(sk)
        .groupBy("k")
        .agg(qsketch_combine("qsk", 32).alias("qsk"))
        .collect()
    }
    assert twice == once


def test_exact_regime_and_rank_convention(spark):
    """Groups with <= k rows keep every row, so quantiles equal the
    exact lower-interpolation rank statistic — including the p0/p100
    edges and an even-sized group's lower median."""
    rows = [("a", i, v) for i, v in enumerate([5, 1, 9, 7])] + [
        ("b", 100 + i, v) for i, v in enumerate([10, 20, 30, 40, 50])
    ]
    df = spark.createDataFrame(rows, "k string, rid long, v long")
    sk = df.groupBy("k").agg(
        qsketch_agg(qsketch_entry("rid", "v"), 16).alias("qsk")
    )
    got = {
        r["k"]: (r["p0"], r["p50"], r["p75"], r["p100"])
        for r in sk.select(
            "k",
            qsketch_quantile("qsk", 0, 1).alias("p0"),
            qsketch_quantile("qsk", 1, 2).alias("p50"),
            qsketch_quantile("qsk", 3, 4).alias("p75"),
            qsketch_quantile("qsk", 1, 1).alias("p100"),
        ).collect()
    }
    # 'a' sorted: [1,5,7,9] -> p50 idx (1*(4-1))//2 = 1 -> 5 (LOWER median)
    assert got["a"] == (1, 5, 7, 9)
    # 'b' sorted: [10..50] -> p50 idx 2 -> 30; p75 idx (3*4)//4 = 3 -> 40
    assert got["b"] == (10, 30, 40, 50)


def test_hot_value_does_not_monopolize_sample(spark):
    """Identity hashing: a value occupying 90% of rows fills ~90% of the
    sample (its true share), not 100% — hashing the VALUE would collapse
    all copies onto one hash and let it swallow the whole bottom-k."""
    rows = [("k", i, 100) for i in range(900)] + [
        ("k", 900 + i, i) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, rid long, v long")
    sk = df.groupBy("k").agg(
        qsketch_agg(qsketch_entry("rid", "v"), 64).alias("qsk")
    ).collect()[0]["qsk"]
    minority = sum(1 for e in sk if e["v"] != 100)
    assert 1 <= minority <= 20  # ~6.4 expected at a 10% share


def test_duckdb_twin_of_build_and_quantile(spark):
    """DuckDB builds the identical sketch (same md5 hash family) and
    selects the identical quantile element (integer rank arithmetic)."""
    df = _rows_df(spark, 200, keys=2)
    sk = df.groupBy("k").agg(
        qsketch_agg(qsketch_entry("rid", "v"), 16).alias("qsk")
    )
    got = {
        r["k"]: (r["p50"], r["p90"])
        for r in sk.select(
            "k",
            qsketch_quantile("qsk", 1, 2).alias("p50"),
            qsketch_quantile("qsk", 9, 10).alias("p90"),
        ).collect()
    }
    con = duckdb.connect()
    pdf = df.toPandas()
    con.register("rows", pdf)
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute("""
          WITH e AS (
            SELECT k, ('0x' || substr(md5(CAST(rid AS VARCHAR)), 1, 15))::BIGINT AS h, v
            FROM rows
          ), bk AS (
            SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY h, v) AS bn
            FROM e
          ), sample AS (
            SELECT k, v FROM bk WHERE bn <= 16
          ), ranked AS (
            SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY k) AS n
            FROM sample
          )
          SELECT k,
                 MIN(CASE WHEN rn = (1 * (n-1)) // 2 + 1 THEN v END) AS p50,
                 MIN(CASE WHEN rn = (9 * (n-1)) // 10 + 1 THEN v END) AS p90
          FROM ranked GROUP BY k
        """).fetchall()
    }
    assert got == want and len(got) == 2


def test_incremental_measure_kind(spark):
    """The 'quantile_sketch' measure rides aggregate_delta /
    merge_aggregate_state like HLL: two-batch maintenance equals the
    full recompute's exact quantile (exact regime)."""
    from sports_stats_data_pipeline_spark.operators.incremental import (
        aggregate_delta,
        merge_aggregate_state,
    )

    df = _rows_df(spark, 400).withColumn(
        "pq", qsketch_entry("rid", "v")
    )
    measures = {"vq": ("quantile_sketch", "pq")}
    b1 = df.filter(F.col("rid") < 150)
    b2 = df.filter(F.col("rid") >= 150)
    state = aggregate_delta(b1, ["k"], measures)
    merged = merge_aggregate_state(state, b2, ["k"], measures)
    got = {
        r["k"]: r["p50"]
        for r in merged.select(
            "k", qsketch_quantile("vq", 1, 2).alias("p50")
        ).collect()
    }
    want = {
        r["k"]: r["p50"]
        for r in df.groupBy("k")
        .agg(qsketch_agg("pq").alias("vq"))
        .select("k", qsketch_quantile("vq", 1, 2).alias("p50"))
        .collect()
    }
    assert got == want and len(got) == 3


# ---------------------------------------------------------------------------
# Property tests (hypothesis): the sketch's algebraic contracts over
# randomized multisets and arbitrary splits — hand anchors cover few
# shapes of the merge lattice.
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _py_sketch(rows, k):
    """Pure-python reference: bottom-k DISTINCT (md5-hash, value)."""
    import hashlib

    entries = sorted(
        {
            (
                int(hashlib.md5(str(rid).encode()).hexdigest()[:15], 16),
                v,
            )
            for rid, v in rows
        }
    )
    return entries[:k]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=80,
    ),
    cut=st.integers(min_value=0, max_value=79),
    k=st.sampled_from([1, 4, 16]),
)
def test_property_split_merge_and_python_reference(spark, rows, cut, k):
    """For ANY multiset, ANY split point, ANY k: (1) the Spark sketch
    equals the pure-python bottom-k reference; (2) merging the two
    split halves' sketches equals the whole's, bit-exactly."""
    df = spark.createDataFrame(
        [("g", rid, v) for rid, v in rows], "k string, rid long, v long"
    )
    entry = qsketch_entry("rid", "v")
    whole = df.groupBy("k").agg(qsketch_agg(entry, k).alias("qsk")).collect()[
        0
    ]["qsk"]
    assert [(e["h"], e["v"]) for e in whole] == _py_sketch(rows, k)
    cut = min(cut, len(rows) - 1)
    a = df.limit(0).unionByName(
        spark.createDataFrame(
            [("g", rid, v) for rid, v in rows[:cut]] or [],
            "k string, rid long, v long",
        )
    )
    b = spark.createDataFrame(
        [("g", rid, v) for rid, v in rows[cut:]],
        "k string, rid long, v long",
    )
    halves = a.groupBy("k").agg(
        qsketch_agg(entry, k).alias("qsk")
    ).unionByName(b.groupBy("k").agg(qsketch_agg(entry, k).alias("qsk")))
    merged = halves.groupBy("k").agg(
        qsketch_combine("qsk", k).alias("qsk")
    ).collect()[0]["qsk"]
    assert merged == whole


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.integers(min_value=-10_000, max_value=10_000),
        min_size=1,
        max_size=60,
    ),
    q=st.sampled_from([(0, 1), (1, 4), (1, 2), (3, 4), (9, 10), (1, 1)]),
)
def test_property_exact_regime_rank_statistic(spark, values, q):
    """In the exact regime (k >= n) every quantile equals the lower-
    interpolation rank statistic over the raw values."""
    num, den = q
    rows = [("g", i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k string, rid long, v long")
    got = (
        df.groupBy("k")
        .agg(qsketch_agg(qsketch_entry("rid", "v"), 64).alias("qsk"))
        .select(qsketch_quantile("qsk", num, den).alias("p"))
        .collect()[0]["p"]
    )
    want = sorted(values)[(num * (len(values) - 1)) // den]
    assert got == want
