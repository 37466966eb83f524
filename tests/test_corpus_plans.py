"""Semantic anchors for plans/corpus.py — exact values are pinned by the
DuckDB oracles in test_oracle_parity; these assert the *invariants* that
would stay silent if both engines drifted together."""

from __future__ import annotations

from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.plans.corpus import (
    _SHARD_BUDGET,
    corpus_mix_split_shards,
    corpus_quality_filter,
)

SF = "/root/testdata/sf0.001"


def test_quality_filter_one_row_per_doc_and_verdict_consistency(spark):
    out = corpus_quality_filter(spark, SF).persist()
    n_docs = 500
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
    # verdict is exactly the conjunction of its advertised signals
    bad = out.filter(
        F.col("keep")
        != ((F.col("contaminated") == 0) & (F.col("top_gram_char_bp") <= 2000)).cast(
            "int"
        )
    )
    assert bad.count() == 0
    # benchmark members overlap themselves 100% -> contaminated
    bench = out.filter(F.col("doc_id") % 97 == 0)
    assert bench.count() > 0
    assert bench.filter(F.col("contaminated") != 1).count() == 0
    out.unpersist()


def test_quality_filter_english_scores_below_other_langs(spark):
    # the LM is trained on the en slice: en docs must average lower nll
    from sports_stats_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    scored = corpus_quality_filter(spark, SF).join(docs, "doc_id")
    avg = {
        r["lang"]: r["a"]
        for r in scored.groupBy("lang")
        .agg(F.avg("nll_3").alias("a"))
        .collect()
    }
    # (the synthetic corpus is ASCII word-soup in every lang, so the
    # margin is small — but the training slice must still score best)
    assert avg["en"] == min(avg.values()), avg


def test_mix_split_shards_invariants(spark):
    out = corpus_mix_split_shards(spark, SF).persist()
    # dropped source never appears; upsampled sources appear 2-3x
    assert out.filter(F.col("source") == "src19").count() == 0
    copies = {
        r["source"]: (r["lo"], r["hi"])
        for r in out.groupBy("source", "doc_id")
        .agg(F.count("*").alias("n"))
        .groupBy("source")
        .agg(F.min("n").alias("lo"), F.max("n").alias("hi"))
        .collect()
    }
    for s, (lo, hi) in copies.items():
        if s in ("src0", "src1"):
            assert 2 <= lo and hi <= 3, (s, lo, hi)
        elif s == "src18":
            assert (lo, hi) == (1, 1), (s, lo, hi)  # survivors keep 1 copy
        else:
            assert (lo, hi) == (1, 1), (s, lo, hi)
    # every doc has exactly one split; replicas inherit it
    multi = (
        out.groupBy("doc_id")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
    )
    assert multi.count() == 0
    # contiguous packing: per-shard token totals stay within budget +
    # one max-document overhang, and shard ids are dense from 0
    per_shard = (
        out.groupBy("shard").agg(F.sum("n_tokens").alias("t")).collect()
    )
    max_doc = out.agg(F.max("n_tokens")).first()[0]
    shard_ids = sorted(r["shard"] for r in per_shard)
    assert shard_ids == list(range(len(shard_ids)))
    for r in per_shard:
        if r["shard"] != shard_ids[-1]:
            assert r["t"] <= _SHARD_BUDGET + max_doc
    out.unpersist()


def test_top_bigram_run_scan_matches_two_level_aggregate(spark):
    """Docstring theorem of plans.corpus._top_bigram: the sorted
    run-length scan picks the SAME (count, gram) winner — including the
    (cnt DESC, gram DESC) tie-break — as the two-level aggregate of the
    corpus_quality_filter oracle (explode -> GROUP BY (doc, gram) ->
    row_number() per doc), run by DuckDB over the same randomized
    documents, engineered to produce count ties, single-token docs, and
    empty strings."""
    import random

    import duckdb

    from sports_stats_data_pipeline_spark.functions.text import let1, tokens
    from sports_stats_data_pipeline_spark.plans.corpus import _top_bigram

    rng = random.Random(0xC0FFEE)
    vocab = ["a", "b", "ab", "ba", "aa", "zz", "q"]
    texts = ["", "solo", "x y x y", "t t t"]
    for _ in range(200):
        n = rng.randint(1, 30)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
    rows = list(enumerate(texts))
    got = sorted(
        tuple(r)
        for r in spark.createDataFrame(rows, "doc_id long, text string")
        .select(
            "doc_id",
            let1(tokens("text"), lambda tk: _top_bigram(tk)).alias("top"),
        )
        .select("doc_id", "top.c", "top.g")
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = con.execute(
        """
        WITH t AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS toks
          FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(toks) >= 2
                   THEN list_transform(range(1, len(toks)),
                          p -> toks[p] || ' ' || toks[p+1])
                   ELSE [array_to_string(toks, ' ')] END) AS gram
          FROM t
        ), c AS (
          SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY ALL
        )
        SELECT doc_id, cnt, gram
        FROM c
        QUALIFY row_number() OVER (
          PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) = 1
        ORDER BY doc_id
        """
    ).fetchall()
    assert got == want


def test_quality_filter_same_rows_with_arrow_off(spark):
    """The slot must not depend on the session's Arrow conf: the model +
    index broadcast relation is built from pandas, and the non-Arrow
    createDataFrame path type-checks every value row by row."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        on = corpus_quality_filter(spark, SF).collect()
        spark.conf.set(key, "false")
        off = corpus_quality_filter(spark, SF).collect()
    finally:
        spark.conf.set(key, old)
    assert len(on) == 500
    assert sorted(map(tuple, off)) == sorted(map(tuple, on))
