"""End-to-end LLM-data curation pipeline: the operator families chained
the way a user of this engine would run them on a real corpus —

  normalize → exact dedup on normalized text → quality gate (lang +
  score) → data-quality expectations → deterministic split →
  token-budget sequence packing → epoch shuffle —

with cross-stage invariants checked at every step. This is the "switch
from the reference and run your whole pipeline" smoke: every stage is a
library operator, no stage collects the corpus, and the chained result
is reproducible run-over-run."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.functions.text import (
    normalize_text,
    predicted_lang,
    token_count,
)
from sports_stats_data_pipeline_spark.operators.expectations import (
    not_null,
    unique,
    validate,
)
from sports_stats_data_pipeline_spark.operators.sampling import (
    deterministic_split,
)
from sports_stats_data_pipeline_spark.operators.sharding import (
    epoch_shuffle,
    pack_training_sequences,
)
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _curate(spark):
    docs = load_table(spark, SF, "documents")
    # 1. normalize (dedup-grade text) + per-doc signals in one projection
    scored = docs.select(
        "doc_id",
        "text",
        normalize_text("text").alias("norm"),
        predicted_lang("text").alias("plang"),
        token_count("text").alias("n_tokens"),
    )
    # 2. exact dedup on the NORMALIZED text, first-wins
    w = Window.partitionBy("norm").orderBy("doc_id")
    deduped = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # 3. quality gate: identified language + a minimum length
    kept = deduped.filter(
        (F.col("plang") != "und") & (F.col("n_tokens") >= 10)
    )
    # 4. promote-blocking expectations on the curated set
    report = validate(
        kept, [not_null("doc_id"), unique(["doc_id"]), not_null("norm")]
    ).collect()
    assert [r["name"] for r in report if r["passed"] == 0] == []
    # 5. deterministic train/val/test split
    split = deterministic_split(
        kept, id_col="doc_id",
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    train = split.filter(F.col("split") == "train")
    # 6. pack the train docs into fixed-length sequences
    packed = pack_training_sequences(
        train, seq_len=128, id_col="doc_id", token_col="n_tokens"
    )
    # 7. epoch order for the packed docs
    shuffled = epoch_shuffle(train, epoch=1, id_col="doc_id")
    return scored, deduped, kept, train, packed, shuffled


def test_pipeline_invariants_and_reproducibility(spark):
    scored, deduped, kept, train, packed, shuffled = _curate(spark)

    n_docs = scored.count()
    n_dedup = deduped.count()
    n_kept = kept.count()
    n_train = train.count()
    assert n_docs >= n_dedup >= n_kept > 0
    assert 0 < n_train < n_kept  # split actually splits

    # packing tiles the train token stream exactly
    tok_total = train.agg(F.sum("n_tokens")).first()[0]
    seg = packed.agg(
        F.sum(F.col("doc_to") - F.col("doc_from")).alias("covered"),
        F.countDistinct("seq_id").alias("n_seqs"),
    ).first()
    assert seg["covered"] == tok_total
    assert seg["n_seqs"] == -(-tok_total // 128)  # ceil

    # every packed doc is a train doc, every train doc is packed
    packed_ids = {r["doc_id"] for r in packed.select("doc_id").distinct().collect()}
    train_ids = {r["doc_id"] for r in train.select("doc_id").collect()}
    assert packed_ids == train_ids

    # the epoch shuffle is a permutation of exactly the train set
    pos = sorted(r["epoch_pos"] for r in shuffled.collect())
    assert pos == list(range(n_train))

    # end-to-end reproducibility: the whole chain re-runs identically
    *_, packed2, shuffled2 = _curate(spark)
    assert sorted(map(tuple, packed.collect())) == sorted(
        map(tuple, packed2.collect())
    )
    assert sorted(map(tuple, shuffled.collect())) == sorted(
        map(tuple, shuffled2.collect())
    )


def test_pipeline_is_fully_distributed(spark):
    """No stage of the chain may collect the corpus: the final packed
    plan must be scan→…→exchange shapes only (collects happen only in
    the tiny two-level-prefix offsets, which appear as joins, not as
    LocalTableScan of corpus size)."""
    *_, packed, _ = _curate(spark)
    from sports_stats_data_pipeline_spark.plans.lint import plan_text

    p = plan_text(packed)
    # the corpus flows from the parquet scan, not a collected local table
    assert "Location: InMemoryFileIndex" in p
