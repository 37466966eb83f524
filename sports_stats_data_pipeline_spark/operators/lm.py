"""Distributed character n-gram language model — train + perplexity
scoring, the CCNet-style quality signal for corpus filtering.

Production LLM-data pipelines score every document with a small language
model trained on a trusted corpus and drop/bucket by perplexity (CCNet,
Wenzek et al. 2020, uses a KenLM 5-gram; Gopher and LLaMA filter on the
same signal). The container has no KenLM, but the *pipeline* shape is
engine-agnostic: a count-based n-gram model IS a groupBy, and scoring IS
a broadcast join — both native Spark, no Python in the hot path.

Train (one pass over the trusted corpus):
  - explode each document into character n-grams (`substr` over a
    `sequence` — pure codegen, no shuffle until the count);
  - `groupBy(gram).count()` — map-side combinable, network bounded by
    the n-gram *vocabulary* (≤ alphabet^n, in practice ~10-100k for
    n=3), not corpus size;
  - context ((n-1)-gram) counts derived from the gram table itself —
    no second corpus scan.

Score (one pass over the target corpus):
  - explode target docs into grams, LEFT broadcast-join the model (the
    model is tiny — broadcast beats shuffling 100 TB of exploded
    grams by construction);
  - add-k smoothed conditional:  P(c|ctx) = (cnt+k)/(ctx_cnt+k·V),
    unseen context → uniform 1/V;
  - per-doc mean negative log-likelihood (nats/char) and perplexity
    = exp(nll).

Determinism: counts are exact integers; per-gram log-probs are pure
functions of them; the per-doc *mean* of doubles is order-sensitive at
~1e-12, so emitted nll/ppl are rounded to 6 decimals (the cross-engine
convention from plans/__init__.py). DuckDB twin lives in
tests/test_lm.py (same SQL over the same parquet, tolerance 1e-6).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "CharLM",
    "train_char_lm",
    "score_perplexity",
    "char_ngrams",
]


@dataclass(frozen=True)
class CharLM:
    """A trained model: two small count tables plus the smoothing
    constants. Both DataFrames are plain relations — persist them with
    ``.write.parquet`` next to the corpus and reload for later runs."""

    grams: DataFrame  # (gram string, cnt long)
    contexts: DataFrame  # (ctx string, ctx_cnt long)
    vocab_size: int  # distinct final characters V
    n: int
    add_k: float


def char_ngrams(
    df: DataFrame, text_col: str, n: int, out: str = "gram"
) -> DataFrame:
    """Explode each row into its overlapping character n-grams (rows
    shorter than ``n`` contribute nothing). Pure expressions: one
    `sequence` + `transform` + `explode`, no shuffle, no Python."""
    t = F.col(text_col)
    idx = F.sequence(F.lit(1), F.length(t) - (n - 1))
    grams = F.transform(idx, lambda i: F.substr(t, i, F.lit(n)))
    return df.filter(F.length(t) >= n).withColumn(
        out, F.explode(grams)
    )


def train_char_lm(
    corpus: DataFrame, text_col: str, n: int = 3, add_k: float = 1.0
) -> CharLM:
    """Count n-grams over the trusted corpus. Two hash aggregates, the
    second over the (already tiny) gram table; the vocab-size count is
    the only driver-side scalar."""
    grams = (
        char_ngrams(corpus.select(text_col), text_col, n)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    contexts = (
        grams.groupBy(F.substr("gram", F.lit(1), F.lit(n - 1)).alias("ctx"))
        .agg(F.sum("cnt").alias("ctx_cnt"))
    )
    vocab = (
        grams.select(F.substr("gram", F.lit(n), F.lit(1)).alias("ch"))
        .distinct()
        .count()
    )
    return CharLM(
        grams=grams,
        contexts=contexts,
        vocab_size=max(1, vocab),
        n=n,
        add_k=add_k,
    )


def score_perplexity(
    docs: DataFrame, id_col: str, text_col: str, lm: CharLM
) -> DataFrame:
    """Per-document ``(id_col, n_grams, nll, ppl)``.

    One corpus scan: explode → two LEFT broadcast joins (gram then
    context counts) → smoothed log-prob expression → one hash aggregate
    by document. Documents shorter than ``n`` come back with NULL
    nll/ppl (no evidence) via the final left join.
    """
    a = float(lm.add_k)
    v = float(lm.vocab_size)
    grams = char_ngrams(docs.select(id_col, text_col), text_col, lm.n)
    joined = (
        grams.join(F.broadcast(lm.grams), "gram", "left")
        .withColumn(
            "ctx", F.substr("gram", F.lit(1), F.lit(lm.n - 1))
        )
        .join(F.broadcast(lm.contexts), "ctx", "left")
    )
    # unseen context → uniform 1/V; else add-k over the context row
    logp = F.when(
        F.col("ctx_cnt").isNull(), F.lit(-1.0) * F.log(F.lit(v))
    ).otherwise(
        F.log(
            (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(a))
            / (F.col("ctx_cnt").cast("double") + F.lit(a * v))
        )
    )
    scores = (
        joined.select(F.col(id_col), logp.alias("logp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(-F.avg("logp"), 6).alias("nll"),
        )
        .withColumn("ppl", F.round(F.exp("nll"), 6))
    )
    return docs.select(id_col).join(scores, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        "nll",
        "ppl",
    )
