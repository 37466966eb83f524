"""Similarity-search kernels beyond the expression-based baseline in
plans.documents.

:func:`ann_topk_numpy` is the throughput path for brute-force top-k:
query vectors (a handful) broadcast to every batch, corpus streamed
through Arrow, scores computed as one BLAS matmul per batch, and only
each batch's local top-k survives to the final merge — the classic
map-side partial top-k. On 100 TB this scans once, shuffles O(q × k ×
n_partitions) rows, and keeps all float math inside numpy.

The expression-based twin (plans.documents.embedding_cosine_topk) is the
*oracle-checked* form; tests assert both return identical neighbor sets,
so the fast path inherits its verified semantics.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ann_topk_numpy(
    embeddings: DataFrame,
    query_filter,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k with a vectorized kernel.

    ``query_filter`` is a Column predicate selecting the query rows
    (e.g. ``F.col("vec_id") < 8``). Queries are collected to the driver
    (they are the *query set*, not data) and closed over by the Arrow
    batch function.
    """
    q_rows = (
        embeddings.filter(query_filter).select(id_col, vec_col).collect()
    )
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            c = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = c / np.linalg.norm(c, axis=1, keepdims=True)
            scores = q_norm @ c_norm.T  # (q, batch)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                row = scores[qi]
                mask = ids != q_ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # tie-break by neighbor id INSIDE the batch (lexsort keys
                # are last-key-primary): an exact score tie at the k
                # boundary must keep the smaller id, matching the final
                # (score desc, neighbor_id asc) rank — plain argsort
                # truncates ties by intra-batch position, which makes the
                # output partition-dependent.
                order = np.lexsort((ids[cand_idx], -row[cand_idx]))
                top = cand_idx[order[:k]]
                out_q.extend([q_ids[qi]] * len(top))
                out_n.extend(ids[top])
                out_s.extend(row[top])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "neighbor_id": pd.Series(out_n, dtype="int64"),
                    "score": pd.Series(out_s, dtype="float64"),
                }
            )

    partial = embeddings.select(id_col, vec_col).mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("score", 4).alias("score_r4"))
    )
