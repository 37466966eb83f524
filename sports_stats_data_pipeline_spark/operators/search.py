"""Lexical full-text search: inverted document-frequency statistics and
BM25 top-k retrieval — the keyword-side complement to the embedding ANN
family (operators/similarity.py). Training-data pipelines use exactly
this shape for quality-by-query auditing ("which documents match this
eval prompt?") and lexical dedup triage.

Scale shape (the reason this is NOT a per-query UDF loop):

- ``term_stats``: one scan → explode tokens → two hash aggregates.
  Network is bounded by the *vocabulary* (distinct terms), not corpus
  bytes; both aggregates partially combine map-side. The stats relation
  is the persisted "index" — at cluster scale you write it to parquet
  next to the corpus and reload per query batch.
- ``bm25_topk``: the query terms (a handful) and the per-term df rows
  for those terms broadcast; the corpus is scanned ONCE, tokens
  explode, non-query terms are filtered *before* the shuffle, and the
  per-(doc, term) tf aggregate + per-doc score sum are both map-side
  combinable. Top-k is a ``TakeOrderedAndProject`` — no global sort.

Determinism: BM25 is float; each (doc, term) contribution is floored
to integer micro-units (``floor(contrib * 1e6)``) BEFORE the per-doc
sum, so the aggregate adds integers — order-independent under any
partitioning, where a float sum's last bit can flip with partial-
aggregation order — and ties break by doc_id. Ordering and values are
therefore stable across partitionings and engines (the DuckDB twin in
tests/test_search.py matches exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources.tables import local_relation

__all__ = [
    "term_stats",
    "bm25_topk",
]


def term_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Build the inverted statistics for a corpus.

    Returns ``(df_table, doc_lens)``:

    - ``df_table``: one row per distinct term — ``(term, df)`` where df
      is the number of documents containing the term;
    - ``doc_lens``: one row per document — ``(id_col, dl)`` token count.
    """
    exploded = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    df_table = (
        exploded.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    doc_lens = docs.select(
        F.col(id_col), F.size(tokens(text_col)).cast("long").alias("dl")
    )
    return df_table, doc_lens


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query under BM25.

    Output ``(id_col, score_micro, n_query_terms_hit)`` ordered by
    (score desc, id asc); ``score_micro`` sums the per-term
    ``floor(contrib * 1e6)`` integers (module docstring: determinism).

    Uses the standard Robertson/Sparck-Jones idf with +1 flooring
    (``ln(1 + (N - df + 0.5) / (df + 0.5))`` — always positive, the
    Lucene formulation), and document-length normalization against the
    corpus mean. N, avgdl and the per-query-term df values are scalars /
    broadcast-size relations; the corpus is scanned once.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qt = sorted(set(query_terms))
    df_table, doc_lens = term_stats(docs, id_col, text_col)
    # driver-side scalars: corpus size + mean doc length (one tiny agg).
    n_docs, avgdl = docs.agg(
        F.count(F.lit(1)), F.avg(F.size(tokens(text_col)))
    ).first()
    if not n_docs or avgdl is None:
        # empty corpus: avg() is NULL — return an empty, correctly
        # shaped result rather than a TypeError from float(None)
        return local_relation(
            docs.sparkSession,
            [],
            docs.select(
                F.col(id_col),
                F.lit(0).cast("long").alias("score_micro"),
                F.lit(0).cast("int").alias("n_query_terms_hit"),
            ).schema,
        )
    qdf = df_table.filter(F.col("term").isin(qt))
    # idf per query term — computed JVM-side from the broadcast df rows.
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    qidf = qdf.select("term", idf.alias("idf"))
    # single corpus pass for term frequencies: explode, keep query terms
    # only (the filter sits below the aggregate, so non-matching tokens
    # never reach a shuffle), then join doc lengths onto the (query-hit-
    # sized) tf relation. The dl column must NOT ride the explode as a
    # size()-of-tokens projection sibling: a non-attribute sibling of a
    # Generate is re-evaluated per exploded row, re-tokenizing the
    # document once per token — O(len²) per doc (found at corpus scale
    # in a shingle explode: 546 s vs 8 s on a 5000-doc corpus).
    tf = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term").isin(qt))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .join(doc_lens, id_col)
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl))
    )
    contrib = F.col("idf") * (
        F.col("tf") * (F.lit(k1) + 1.0) / (F.col("tf") + norm)
    )
    scored = (
        tf.join(F.broadcast(qidf), "term")
        .groupBy(id_col)
        .agg(
            F.sum(F.floor(F.lit(1e6) * contrib).cast("long")).alias(
                "score_micro"
            ),
            F.count(F.lit(1)).cast("int").alias("n_query_terms_hit"),
        )
    )
    return scored.orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    ).limit(k)
