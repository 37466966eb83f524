"""Streaming corpus-quality scoring: perplexity-filter each micro-batch
of documents against a PERSISTED char-LM — the continuously-ingesting
form of plans.corpus.corpus_quality_filter's LM path, and how a live
training-data pipeline actually gates arriving documents (the model is
trained once on the trusted corpus; the stream only scores).

Shapes per micro-batch:

- the model is two small parquet tables (gram counts, context counts —
  vocabulary-bounded, operators.lm.CharLM) loaded once and broadcast
  into every batch's score join; nothing per-batch touches the trusted
  corpus again;
- scoring is operators.lm.score_perplexity verbatim: explode the batch
  into grams, two broadcast left-joins, one per-doc aggregate — O(batch
  bytes), no state store (scoring is stateless, unlike dedup);
- the keep/drop gate is evaluated on the emitted rounded nll so a batch
  row's verdict is reproducible across replays and engines.

The batch/stream equivalence test (test_streaming_quality) pins that
streaming the corpus through in micro-batches yields exactly the batch
scorer's rows — the property that lets one codebase serve both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lm import CharLM, score_perplexity, train_char_lm

__all__ = [
    "save_char_lm",
    "load_char_lm",
    "run_streaming_quality",
    "streaming_quality_scores_table",
]


def save_char_lm(lm: CharLM, path: str) -> None:
    """Persist the trained model next to the corpus: two parquet tables
    plus a one-row meta table (n, add_k, vocab_size)."""
    lm.grams.write.mode("overwrite").parquet(os.path.join(path, "grams"))
    lm.contexts.write.mode("overwrite").parquet(
        os.path.join(path, "contexts")
    )
    spark = lm.grams.sparkSession
    # range+literals, not createDataFrame([row]).coalesce(1) — the
    # latter serialized 32 Python-worker slice evaluations into one
    # task (~4 s per call; streaming/pipeline.py has the full note)
    spark.range(1).select(
        F.lit(lm.n).cast("int").alias("n"),
        F.lit(lm.add_k).cast("double").alias("add_k"),
        F.lit(lm.vocab_size).cast("int").alias("vocab_size"),
    ).write.mode("overwrite").parquet(os.path.join(path, "meta"))


def load_char_lm(spark: SparkSession, path: str) -> CharLM:
    meta = spark.read.parquet(os.path.join(path, "meta")).first()
    return CharLM(
        grams=spark.read.parquet(os.path.join(path, "grams")),
        contexts=spark.read.parquet(os.path.join(path, "contexts")),
        vocab_size=meta["vocab_size"],
        n=meta["n"],
        add_k=meta["add_k"],
    )


def run_streaming_quality(
    spark: SparkSession,
    docs_dir: str,
    model_path: str,
    sink_path: str,
    nll_keep_max: float,
    doc_schema: str = "doc_id long, text string",
) -> DataFrame:
    """Score a document file-stream against the persisted model and
    append (doc_id, n_grams, nll, keep) to a parquet sink; returns the
    sink relation after the availableNow run drains.

    foreachBatch rather than a stream-static join on the raw tables:
    score_perplexity's per-doc aggregate is unsupported inside an
    append-mode streaming plan without a watermark, and scoring is
    stateless anyway — each batch is a closed computation.

    foreachBatch is AT-LEAST-ONCE: a batch whose write landed but whose
    checkpoint commit did not is re-run on recovery. The sink is
    therefore keyed by batch id — each micro-batch OVERWRITES its own
    deterministic ``batch=<id>`` directory, so a replay rewrites the
    same rows instead of appending duplicates (the parquet-sink
    idempotence pattern; the keyed alternative is the anti-join +
    operators.sinks.append_staging of pipeline.run_streaming_upsert).
    """
    lm = load_char_lm(spark, model_path)
    # persist the (tiny) model tables: every micro-batch broadcasts
    # them; re-reading parquet per batch is wasted scan.
    lm = CharLM(
        grams=lm.grams.persist(),
        contexts=lm.contexts.persist(),
        vocab_size=lm.vocab_size,
        n=lm.n,
        add_k=lm.add_k,
    )
    stream = (
        spark.readStream.schema(doc_schema)
        .format("parquet")
        .option("recursiveFileLookup", "true")
        .load(docs_dir)
    )

    def score(batch: DataFrame, batch_id: int) -> None:
        out = score_perplexity(batch, "doc_id", "text", lm).select(
            "doc_id",
            "n_grams",
            "nll",
            F.when(
                F.col("nll").isNotNull() & (F.col("nll") <= nll_keep_max), 1
            )
            .otherwise(0)
            .alias("keep"),
        )
        out.write.mode("overwrite").parquet(
            os.path.join(sink_path, f"batch={batch_id}")
        )

    q = (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", sink_path + ".checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # partition discovery surfaces batch= as a column; it's sink
    # bookkeeping, not part of the scoring contract
    return spark.read.parquet(sink_path).drop("batch")


def streaming_quality_scores_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full train-once / stream-score cycle run to completion over
    the documents corpus, for the driver gate (plans/events.py
    'quality' family): train the en trigram char-LM (the
    corpus_quality_filter configuration exactly), persist it, land the
    corpus as parquet file-batches, drain run_streaming_quality, and
    return the scored rows eagerly checkpointed (the temp model/landing/
    sink dirs are deleted before returning — the relation must not
    depend on them).

    Scoring is stateless per batch, so the result is independent of the
    file/batch split — which is what makes an order-insensitive value
    oracle possible for a streaming run."""
    import shutil
    import tempfile

    from ..operators.lm import train_char_lm
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    tmp = tempfile.mkdtemp(prefix="spark_graft_squality_")
    try:
        lm = train_char_lm(
            docs.filter(F.col("lang") == "en"), "text", n=3, add_k=1.0
        )
        model = os.path.join(tmp, "model")
        save_char_lm(lm, model)
        landing = os.path.join(tmp, "landing")
        docs.select("doc_id", "text").repartition(4).write.parquet(landing)
        scored = run_streaming_quality(
            spark,
            landing,
            model,
            os.path.join(tmp, "sink"),
            nll_keep_max=float("inf"),
        )
        return scored.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
