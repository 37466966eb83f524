"""Contrastive-pair mining over an embedding column: per anchor, the
top-k same-label neighbors (positives) and top-k different-label
neighbors (hard negatives) — the data-prep step for training embedding
models with triplet / InfoNCE losses, where random negatives are too
easy to carry gradient and the HARD ones (high-cosine, wrong label) do
the work (Schroff et al., FaceNet, 2015).

Built on the same scale shape as operators.quantize.quantized_ivf_topk: a
k-means coarse quantizer bounds the candidate set to the anchor's
``n_probe`` nearest cells, so mining cost is ~|anchors| × (corpus /
n_cells × n_probe) instead of |anchors| × corpus. ``n_probe >= n_cells``
degenerates to exact brute force (the equality the tests pin).

Semi-hard option: with ``semi_hard`` set, negatives are additionally
required to score BELOW the anchor's best positive (cos(a,n) <
cos(a,p_best)) — FaceNet's "semi-hard" band, which skips the
label-noise-dominated negatives that outrank every positive. Anchors
with no positive in the probed cells keep all their negatives (nothing
to be semi to) — mirroring the in-batch fallback trainers use.

Determinism: scores compare in integer micro-units (floor(cos·1e6)) and
rank ties break on neighbor id, so the mined pair set is stable across
partitionings and retries — a re-run must not feed the trainer a
different dataset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine
from .kmeans import kmeans_fit_assign


def mine_contrastive_pairs(
    embeddings: DataFrame,
    query_filter,
    k_pos: int = 2,
    k_neg: int = 4,
    n_cells: int = 8,
    n_probe: int = 2,
    kmeans_iters: int = 2,
    semi_hard: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Mine (anchor, neighbor) training pairs for the anchors selected by
    ``query_filter``. Returns ``(anchor_id, neighbor_id, is_positive,
    rank, cos_micro)`` — ``rank`` is 1..k within the anchor's positives
    (``is_positive = 1``) resp. negatives (``is_positive = 0``), ordered
    by cosine descending (hardest negative first, most-confident
    positive first), ties on neighbor id.

    Cache lifetime: the kmeans assignment (and, with ``semi_hard``, the
    scored candidate relation) stays persisted for the returned plan's
    lifetime — it feeds the result lazily, so this function cannot
    unpersist it (the quantize.py convention: the caller owns cleanup).
    Long-lived sessions mining many times should
    ``spark.catalog.clearCache()`` between rounds, or persist the cell
    assignment at ingest and mine that.
    """
    assigned, centroids = kmeans_fit_assign(
        embeddings,
        k=n_cells,
        iters=kmeans_iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    assigned = assigned.persist()
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        F.col(label_col).alias("nlabel"),
    ).join(
        assigned.select(F.col(id_col).alias("neighbor_id"), "cell"),
        "neighbor_id",
    )

    q = embeddings.filter(query_filter).select(
        F.col(id_col).alias("anchor_id"),
        as_double(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("alabel"),
    )
    cw = Window.partitionBy("anchor_id").orderBy(F.col("cdist"), F.col("cell"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn(
            "cdist",
            F.aggregate(
                F.zip_with(
                    F.col("qv"),
                    F.col("centroid"),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .withColumn("crank", F.row_number().over(cw))
        .filter(F.col("crank") <= n_probe)
        .select("anchor_id", "qv", "alabel", "cell")
    )

    scored = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("anchor_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_micro",
            F.floor(cosine(F.col("qv"), F.col("cv")) * 1_000_000).cast(
                "long"
            ),
        )
        .withColumn(
            "is_positive",
            (F.col("alabel") == F.col("nlabel")).cast("int"),
        )
        .select("anchor_id", "neighbor_id", "is_positive", "cos_micro")
    )

    if semi_hard:
        # the anchor's best-positive score; persist — it feeds a join
        # against the same scored relation (cf. similarity.py persist
        # note). Anchors absent here (no positive candidate) keep all
        # negatives via the left join + coalesce(+inf sentinel).
        scored = scored.persist()
        best_pos = (
            scored.filter(F.col("is_positive") == 1)
            .groupBy("anchor_id")
            .agg(F.max("cos_micro").alias("best_pos_micro"))
        )
        scored = scored.join(
            F.broadcast(best_pos), "anchor_id", "left"
        ).filter(
            (F.col("is_positive") == 1)
            | F.col("best_pos_micro").isNull()
            | (F.col("cos_micro") < F.col("best_pos_micro"))
        ).select("anchor_id", "neighbor_id", "is_positive", "cos_micro")

    w = Window.partitionBy("anchor_id", "is_positive").orderBy(
        F.col("cos_micro").desc(), F.col("neighbor_id")
    )
    k_for = F.when(F.col("is_positive") == 1, F.lit(k_pos)).otherwise(
        F.lit(k_neg)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_for)
        .select("anchor_id", "neighbor_id", "is_positive", "rank", "cos_micro")
    )
