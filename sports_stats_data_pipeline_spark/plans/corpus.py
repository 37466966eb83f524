"""Corpus-curation pipeline queries — the training-data preparation
steps downstream of dedup: quality filtering (perplexity + repetition +
benchmark decontamination) and dataset layout (splits + source mixing +
token-budget shard packing).

Both run end-to-end over the ``documents`` table with full DuckDB
oracles. The quality filter is one fused body (its docstring) whose LM
math is pinned against ``operators.lm`` (tests/test_lm.py); the layout
query drives ``operators.sampling`` and ``operators.sharding``, each
twin-pinned in its own pytest module (test_sampling.py,
test_sharding.py).

Determinism: every filter decision is integer arithmetic; the only
floating output is the LM negative log-likelihood, emitted rounded to 3
decimals (per-doc double means are order-sensitive at ~1e-12 — a 5e-4
rounding boundary makes a cross-engine flip astronomically unlikely,
and both engines round the same 6-decimal intermediate).

Scale notes:
- LM training collects n-gram *vocabulary* counts (bounded by
  alphabet³), never corpus bytes; scoring is broadcast joins over one
  exploded scan.
- The repetition statistic is a per-row array expression — no
  (doc, gram) shuffle.
- Decontamination broadcasts the (small) benchmark shingle index — the
  corpus is never shuffled except the per-doc aggregate.
- Split/mix are pure per-row hash projections (no shuffle, no rand());
  shard packing is the two-level distributed prefix sum — no global
  ordered window (operators/sampling.py, operators/sharding.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import let1, token_count, token_grams, tokens
from ..operators.chunking import chunk_documents
from ..operators.sampling import deterministic_split, mix_sources
from ..operators.sharding import (
    assign_token_shards,
    epoch_shuffle,
    md5_epoch_hash,
    pack_training_sequences,
)
from ..sources.tables import load_table, local_relation
from . import QueryRegistry

REGISTRY = QueryRegistry()

#: benchmark membership rule for the decontamination demo: every 97th
#: document plays the role of an eval-suite member (spread through the
#: corpus; the real pipeline joins an external benchmark table instead).
_BENCH_MOD = 97
#: flag a document when >= this % of its distinct shingles hit the index.
_CONTAM_PCT = 50
#: drop shingles appearing in more than this many benchmark docs (stock
#: phrases are not contamination).
_MAX_BENCH_DF = 10
#: Gopher-style repetition cutoff: top bigram covering > 20% of chars.
_REP_BP = 2000

def _top_bigram(toks):
    """Most frequent token bigram of one document as a pure array
    expression: sort the bigram array, one run-length scan via
    ``F.aggregate`` — O(n log n) per row inside whole-stage codegen, no
    explode, no shuffle. Fallback for <2 tokens: the whole token
    sequence as a single gram (count 1), mirroring the oracle's
    ``ELSE [array_to_string(toks, ' ')]`` branch.

    Theorem (tie-break equivalence, property-pinned against the oracle's
    two-level aggregate in tests/test_corpus_plans.py): array_sort orders
    by UTF8String binary comparison — the same ordering
    ``max(struct(cnt, gram))`` and the oracle's ``ORDER BY cnt DESC,
    gram DESC`` use — and the scan replaces the best run only when
    (cnt, gram) is strictly greater, so the winner is identical.

    ``toks`` must be a cheap reference (let1 lambda variable) — same
    contract as functions.text.token_grams.
    """
    bigrams = F.when(F.size(toks) >= 2, token_grams(toks, 2)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("bc"), F.lit("").alias("bg"),
        zero.alias("cc"), F.lit("").alias("cg"),
    )

    def promote(acc):
        # fold the current run into best if strictly better
        better = (acc["cc"] > acc["bc"]) | (
            (acc["cc"] == acc["bc"]) & (acc["cg"] > acc["bg"])
        )
        return (
            F.when(better, acc["cc"]).otherwise(acc["bc"]),
            F.when(better, acc["cg"]).otherwise(acc["bg"]),
        )

    def merge(acc, g):
        nb, ng = promote(acc)
        return F.when(
            (acc["cc"] > 0) & (acc["cg"] == g),
            F.struct(
                acc["bc"].alias("bc"), acc["bg"].alias("bg"),
                (acc["cc"] + 1).alias("cc"), acc["cg"].alias("cg"),
            ),
        ).otherwise(
            F.struct(
                nb.alias("bc"), ng.alias("bg"),
                F.lit(1).cast("long").alias("cc"), g.alias("cg"),
            )
        )

    def finish(acc):
        nb, ng = promote(acc)
        return F.struct(nb.alias("c"), ng.alias("g"))

    return F.aggregate(F.array_sort(bigrams), init, merge, finish)


# DuckDB twin of operators.sampling.hash_bucket (md5 nibble-sum — DuckDB
# has no hex->BIGINT cast; pinned equal in tests/test_sampling.py).
def _sql_bucket(salt: str) -> str:
    return f"""
      list_aggregate(list_transform(range(1, 15), i ->
        (strpos('0123456789abcdef',
                substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        * CAST(pow(16, 14 - i) AS BIGINT)), 'sum') % 1000000
    """


#: the en-trained trigram char-LM + per-doc nll_3 scoring as a CTE
#: chain (ends with relation ``lm``: doc_id, n_grams, nll_3). Shared by
#: the corpus_quality_filter oracle and the streaming-quality family of
#: streaming_tumbling_hourly (plans/events.py) — the batch and
#: streaming gates score against ONE oracle text so they cannot drift.
SQL_LM_NLL3_BLOCK = """g AS MATERIALIZED (
      SELECT doc_id, lang, substr(text, CAST(i AS INT), 3) AS gram
      FROM documents, UNNEST(range(1, length(text) - 1)) AS t(i)
      WHERE length(text) >= 3
    ),
    gc AS MATERIALIZED (
      SELECT gram, COUNT(*) AS cnt FROM g WHERE lang = 'en' GROUP BY gram
    ),
    cc AS (
      SELECT substr(gram, 1, 2) AS ctx, SUM(cnt) AS ctx_cnt
      FROM gc GROUP BY ctx
    ),
    v AS (SELECT COUNT(DISTINCT substr(gram, 3, 1)) AS vs FROM gc),
    lm AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             round(round(-avg(
               CASE WHEN cc.ctx_cnt IS NULL
                    THEN -ln(CAST(v.vs AS DOUBLE))
                    ELSE ln((CAST(COALESCE(gc.cnt, 0) AS DOUBLE) + 1.0)
                            / (CAST(cc.ctx_cnt AS DOUBLE) + 1.0 * v.vs))
               END), 6), 3) AS nll_3
      FROM g
      LEFT JOIN gc USING (gram)
      LEFT JOIN cc ON substr(g.gram, 1, 2) = cc.ctx
      CROSS JOIN v
      GROUP BY g.doc_id
    )"""


@REGISTRY.register(
    "corpus_quality_filter",
    oracle=f"""
    WITH {SQL_LM_NLL3_BLOCK},
    toks AS (
      SELECT doc_id, length(text) AS n_chars,
             string_split_regex(text, '\\s+') AS toks
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id, n_chars,
             unnest(CASE WHEN len(toks) >= 2
               THEN list_transform(range(1, len(toks)),
                      p -> toks[p] || ' ' || toks[p+1])
               ELSE [array_to_string(toks, ' ')] END) AS gram
      FROM toks
    ),
    bc AS (
      SELECT doc_id, n_chars, gram, count(*) AS cnt
      FROM bigrams GROUP BY ALL
    ),
    rep AS (
      SELECT doc_id,
             cnt AS top_gram_count,
             10000 * cnt * CAST(length(gram) AS BIGINT) // n_chars
               AS top_gram_char_bp
      FROM bc
      QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) = 1
    ),
    sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                      p -> toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2])
               ELSE [text] END) AS shingles
      FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks
            FROM documents)
    ),
    idx AS (
      SELECT shingle FROM (
        SELECT unnest(shingles) AS shingle, doc_id
        FROM sh WHERE doc_id % {_BENCH_MOD} = 0
      )
      GROUP BY shingle
      HAVING COUNT(DISTINCT doc_id) <= {_MAX_BENCH_DF}
    ),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_overlap
      FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh) s
      JOIN idx USING (shingle)
      GROUP BY s.doc_id
    ),
    dec AS (
      SELECT sh.doc_id,
             CAST(COALESCE(hits.n_overlap, 0) AS BIGINT) AS n_overlap,
             CAST(100 * COALESCE(hits.n_overlap, 0)
                  // len(sh.shingles) AS BIGINT) AS overlap_pct
      FROM sh LEFT JOIN hits ON sh.doc_id = hits.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(lm.n_grams, 0) AS BIGINT) AS n_grams,
           lm.nll_3,
           CAST(rep.top_gram_count AS BIGINT) AS top_gram_count,
           rep.top_gram_char_bp,
           dec.n_overlap,
           dec.overlap_pct,
           CAST(CASE WHEN dec.overlap_pct >= {_CONTAM_PCT}
                THEN 1 ELSE 0 END AS INTEGER) AS contaminated,
           CAST(CASE WHEN dec.overlap_pct < {_CONTAM_PCT}
                      AND rep.top_gram_char_bp <= {_REP_BP}
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN lm USING (doc_id)
    LEFT JOIN rep USING (doc_id)
    LEFT JOIN dec USING (doc_id)
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals + keep/drop verdict.

    Three independent signal pipelines over one corpus, joined on
    doc_id (each tiny relative to the scan it aggregates):

    - char-3-gram LM trained on the ``lang = 'en'`` slice (the trusted
      corpus), scoring everything — CCNet-style perplexity filtering;
      non-English and garbled docs surface with high nll;
    - Gopher top-bigram repetition share (drop if the most common
      bigram covers > 20% of characters);
    - benchmark decontamination against the synthetic eval membership
      rule (doc_id % 97 == 0).

    The keep verdict uses integer signals only; nll_3 ships as the
    tunable score (real pipelines bucket by perplexity band per CCNet
    rather than hard-thresholding).

    Plan shape (round-11 verdict #2 — the fused form): the former body
    ran THREE independent signal pipelines, each with its own corpus
    scan + explode (char-trigram LM scoring, token-bigram repetition,
    shingle decontamination) plus a collect-based LM-training scan and
    a benchmark-side shingle scan — ~5 passes over ``documents.text``.
    The fusion is TWO passes, no intermediate materialization:

      pass 1: scan (en + mod slices) → tagged gram explode
              → ONE vocabulary-bounded collect
                (LM model tables + benchmark shingle index TOGETHER)
      pass 2: scan → explode (char-trigram branch ∪ token branch)
              → 3 broadcast joins against pass-1's LocalRelations
              → ONE groupBy(doc) of conditional aggregates
                (every signal lands in a single doc-sized shuffle)

    Fusion choices, each measured on this corpus:
    - The Gopher top-bigram is a pure array expression (sort + one
      run-length scan via F.aggregate) riding the synthetic per-doc
      'len' row — no (doc, gram) shuffle, no per-doc join-back (the
      oracle's two-level aggregate shape costs two exchange stages plus
      a join here).
    - The char-trigram stream explodes PLAIN strings and unions the
      constant ``fam`` column in afterwards; per-element struct tagging
      measured ~2x slower on the dominant stream.
    - The token branch shares ONE let1-bound regex split between the
      bigram run-scan and the shingle array (the split is the
      expensive part of both).
    - The per-doc char length + top-bigram ride the explode as ONE
      synthetic ``fam='len'`` row ('\\n'-delimited, see below) instead
      of projection siblings of the Generate (a non-attribute sibling
      of a Generate is re-evaluated per exploded row: O(len·grams);
      546 s vs 8 s on a 5000-doc corpus) and instead of a join-back.
    - Model + index come back in ONE driver-bounded collect (model:
      n-gram vocabulary ≤ |alphabet|³; index: benchmark-membership-
      bounded) and re-enter as broadcast LocalRelations — zero
      distributed broadcast-stage materializations.
    - NO persist of the exploded relation: it is gram-occurrence-sized
      (≈3x the corpus text bytes), so at 100 TB caching it costs more
      IO than the ONE extra CPU scan pass 2 pays; both variants were
      measured equal-or-cache-slower at bench scale too (the cache
      write+read round-trip cancels the explode it saves).

    This body is the only implementation of the repetition and
    decontamination signals; its LM math matches operators/lm.py, which
    the streaming quality gate uses.
    """
    # fan_out: the scans fan out into expression-dense explodes and
    # nothing downstream repartitions on its own (round-10 A/B: -9% at
    # sf0.1; the underlying serial-scan pathology measured 5x on the
    # bare explode — sources/tables.py)
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", "text", "lang"
    )
    t = F.col("text")
    # ---- branch 1: char trigrams, exploded as PLAIN strings (the
    # dominant stream — ~chars-per-doc elements); fam joins in as a
    # constant column after the Generate, costing nothing per element.
    # Built by zipping shifted slices of the let1-bound char array —
    # NOT transform(sequence(...), i -> substr(text, i, 3)): substr on
    # a UTF8String walks from the start to find codepoint i, so the
    # index form is O(len²) per document (measured ~3x slower on this
    # corpus); the zip form is O(len). zip_with null-pads the 2 tail
    # slots (concat propagates the NULL); the slice trims to the
    # len-2 complete grams. Gram values are bit-identical to
    # substr(text, i, 3) / the oracle's SQL.
    lm_grams = F.when(
        F.length(t) >= 3,
        let1(
            F.split(t, ""),
            lambda ch: F.slice(
                F.zip_with(
                    F.zip_with(
                        ch,
                        F.slice(ch, 2, F.size(ch) - 1),
                        lambda a, b: F.concat(a, b),
                    ),
                    F.slice(ch, 3, F.size(ch) - 2),
                    lambda a, b: F.concat(a, b),
                ),
                1,
                F.size(ch) - 2,
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lm_branch = docs.select(
        "doc_id",
        "lang",
        F.lit("lm").alias("fam"),
        F.explode(lm_grams).alias("gram"),
    )
    # ---- branch 2: token families from ONE let1-bound split —
    # distinct 3-shingles (dec, inlined functions.text.shingles
    # semantics) exploded as rows, plus ONE synthetic 'len' row per doc
    # carrying n_chars AND the Gopher top-bigram statistic.
    #
    # The top bigram is computed as a pure array expression (sort the
    # bigram array, then one run-length scan via F.aggregate) instead
    # of the explode → groupBy(doc, gram) → groupBy(doc) shape the
    # oracle uses: per doc the work is O(n log n) in tokens and
    # entirely inside whole-stage codegen, and
    # it removes two shuffle stages plus a doc-keyed join from the
    # slot. Tie-break equivalence: array_sort orders by UTF8String
    # binary comparison — the same ordering max(struct(cnt, gram)) and
    # the oracle's ORDER BY cnt DESC, gram DESC use — and the scan
    # replaces the best run on (cnt, gram) strictly-greater, so the
    # winner is identical (property-pinned against the oracle's shape in
    # tests/test_corpus_plans.py).
    st = lambda fam, g: F.struct(F.lit(fam).alias("fam"), g.alias("gram"))

    # '\n' is a safe field delimiter: tokens come from a \s+ split, so
    # no gram can contain a newline. The run-scan is let1-bound so it
    # evaluates once per row, not once per referenced field. NULL text
    # encodes its (NULL) char length as '' — concat_ws would otherwise
    # silently DROP the NULL field and shift the layout (round-12
    # self-review); the unpack maps '' back to NULL, mirroring the
    # oracle's NULL n_chars on NULL text.
    #
    # The encoded payload is (n_chars, top_cnt, LENGTH(top_gram)) — the
    # gram string itself is never output (only its length feeds
    # top_gram_char_bp), and keeping every field NUMERIC is what lets
    # the per-doc groupBy below run as a HashAggregate: a max(STRING)
    # aggregate has an immutable buffer type, which forces Spark into
    # SortAggregate — two full sorts of the exploded gram stream per
    # pass (round-13 plan finding; the r12 plan shows SortAggregate ×4).
    # NULL propagation is unchanged: a NULL-text doc has top.c/top.g
    # NULL, length(NULL) is NULL, and concat_ws drops both TAIL fields
    # together, so the decode reads them back as NULL.
    len_gram = lambda toks: let1(
        _top_bigram(toks),
        lambda top: F.concat_ws(
            "\n",
            F.coalesce(F.length(t).cast("string"), F.lit("")),
            top["c"].cast("string"),
            F.length(top["g"]).cast("string"),
        ),
    )
    tok_structs = let1(
        tokens("text"),
        lambda toks: F.concat(
            F.transform(
                F.array_distinct(
                    F.when(F.size(toks) >= 3, token_grams(toks, 3)).otherwise(
                        F.array(t)
                    )
                ),
                lambda g: st("dec", g),
            ),
            F.array(st("len", len_gram(toks))),
        ),
    )
    tok_branch = docs.select(
        "doc_id",
        "lang",
        F.explode(tok_structs).alias("fg"),
    ).select(
        "doc_id",
        "lang",
        F.col("fg.fam").alias("fam"),
        F.col("fg.gram").alias("gram"),
    )
    # each consumer aggregates this the cheapest way for ITS key —
    # lm/dec/len reduce straight to per-doc partials (map-side combine
    # to ~one row per doc) and the model/index collect partial-
    # aggregates to the gram vocabulary. Grouping everything to
    # (doc, fam, gram) first was measured strictly worse (a 1.2M-group
    # hash aggregate + exchange no consumer wants), and the relation is
    # deliberately NOT persisted — docstring "NO persist" bullet.
    exploded = lm_branch.unionByName(tok_branch)
    # ---- ONE bounded collect for both broadcast sides (model grams
    # over the en slice + benchmark shingle index over the mod slice;
    # shingles are distinct per doc, so count-per-(gram, doc-slice)
    # IS count_distinct(doc)). Driver-boundedness: model rows ≤ trigram
    # vocabulary, index rows ≤ benchmark shingle vocabulary — never
    # corpus-sized (docstring).
    #
    # ONE scan, ONE explode (round 13, the round-12 backlog fold): the
    # former pre-collect filtered the main pass's two-branch union, so
    # it scanned documents twice and — because the fam filter only
    # applies AFTER the Generate — paid the tok branch's top-bigram
    # sort/fold for every mod-slice doc whose 'len' row it was about to
    # discard. This dedicated relation reads the corpus once, explodes
    # the en slice's trigrams and the mod slice's distinct shingles
    # from the same row, and skips the top-bigram expression entirely.
    # Counts are identical: a doc that is BOTH en and mod contributes
    # its trigrams to mcnt and its shingles to df, exactly as the two
    # union branches did. (Struct-tagging the en gram stream costs ~2x
    # a plain-string explode per element — round-12 measurement, which
    # is why the MAIN pass keeps its two-branch shape — but here it
    # replaces a whole second scan+explode, a strictly larger cost.)
    _fg_t = "array<struct<fam:string,gram:string>>"
    dec_structs = let1(
        tokens("text"),
        lambda toks: F.transform(
            F.array_distinct(
                F.when(F.size(toks) >= 3, token_grams(toks, 3)).otherwise(
                    F.array(t)
                )
            ),
            lambda g: st("dec", g),
        ),
    )
    pre_structs = F.concat(
        F.when(
            F.col("lang") == "en",
            F.transform(lm_grams, lambda g: st("lm", g)),
        ).otherwise(F.array().cast(_fg_t)),
        F.when(
            F.col("doc_id") % _BENCH_MOD == 0, dec_structs
        ).otherwise(F.array().cast(_fg_t)),
    )
    pre = (
        docs.filter(
            (F.col("lang") == "en") | (F.col("doc_id") % _BENCH_MOD == 0)
        )
        .select(F.explode(pre_structs).alias("fg"))
        .groupBy(
            F.col("fg.fam").alias("fam"), F.col("fg.gram").alias("gram")
        )
        .agg(
            F.count(F.when(F.col("fg.fam") == "lm", F.lit(1))).alias(
                "mcnt"
            ),
            # shingles are array_distinct per doc, so a plain row count
            # IS count_distinct(doc) — and avoids the Expand operator a
            # mixed distinct/non-distinct aggregate would put under the
            # (much larger) lm side of this same aggregation
            F.count(F.when(F.col("fg.fam") == "dec", F.lit(1))).alias(
                "df"
            ),
        )
        .toPandas()
    )
    mdl_pdf = pre[pre["fam"] == "lm"][["gram", "mcnt"]]
    ctx_pdf = (
        mdl_pdf.assign(ctx=mdl_pdf["gram"].str[:2])
        .groupby("ctx", as_index=False)["mcnt"]
        .sum()
        .rename(columns={"ctx": "__ctx", "mcnt": "__ctx_cnt"})
        .sort_values("__ctx", ignore_index=True)
    )
    vocab = float(max(1, int(mdl_pdf["gram"].str[2:].nunique())))
    idx_pdf = pre[(pre["fam"] == "dec") & (pre["df"] <= _MAX_BENCH_DF)][
        ["gram"]
    ].assign(__hit=1)
    # model counts and decontam-index hits share the SAME join key
    # (the gram) over DISJOINT fam slices, so they ship as ONE merged
    # broadcast relation (round 13: one broadcast build job and one
    # probe per row instead of two). The outer merge's gaps are filled
    # with 0, which keeps the semantics exact: an lm gram landing on an
    # index-only entry reads __mcnt 0 (identical to no match, which is
    # coalesced to 0); a dec gram landing on a model-only entry adds
    # __hit 0 to a sum whose no-match NULLs are coalesced to 0 too. The
    # integer cast matters: the outer merge leaves float columns, and a
    # float is not a value of a long column.
    mi_pdf = (
        mdl_pdf.rename(columns={"gram": "__mg", "mcnt": "__mcnt"})
        .merge(
            idx_pdf.rename(columns={"gram": "__mg"}), on="__mg", how="outer"
        )
        .fillna({"__mcnt": 0, "__hit": 0})
        .astype({"__mcnt": "int64", "__hit": "int32"})
    )
    mi_df = local_relation(
        spark,
        mi_pdf.itertuples(index=False),
        "__mg string, __mcnt long, __hit int",
    )
    ctx_df = local_relation(
        spark,
        ctx_pdf.itertuples(index=False),
        "__ctx string, __ctx_cnt long",
    )
    enriched = exploded.join(
        F.broadcast(mi_df),
        ((F.col("fam") == "lm") | (F.col("fam") == "dec"))
        & (F.col("gram") == F.col("__mg")),
        "left",
    ).join(
        F.broadcast(ctx_df),
        (F.col("fam") == "lm")
        & (F.substr("gram", F.lit(1), F.lit(2)) == F.col("__ctx")),
        "left",
    )
    # add-k smoothed trigram log-prob — identical math (and identical
    # per-occurrence avg + double-rounding) to
    # operators/lm.score_perplexity + the oracle's SQL_LM_NLL3_BLOCK
    logp = F.when(
        F.col("__ctx_cnt").isNull(), F.lit(-1.0) * F.log(F.lit(vocab))
    ).otherwise(
        F.log(
            (F.coalesce(F.col("__mcnt"), F.lit(0)).cast("double") + F.lit(1.0))
            / (F.col("__ctx_cnt").cast("double") + F.lit(1.0 * vocab))
        )
    )
    is_lm = F.col("fam") == "lm"
    is_dec = F.col("fam") == "dec"
    # unpack the encoded 'len' row BEFORE the aggregation: n_chars \n
    # top_cnt \n top_gram_len (exactly one such row per doc, so each
    # max() is just a pick — and every aggregate buffer stays NUMERIC,
    # keeping the groupBy a HashAggregate; see the len_gram comment).
    # '' chars = NULL-text doc, decoded back to NULL — ANSI cast of ''
    # would throw. The split is guarded by the fam test, so it runs
    # once per doc, not once per gram row.
    _lr = F.split("gram", "\n", 3)
    _chars_s = F.get(_lr, 0)
    is_len = F.col("fam") == "len"
    # per-doc partials reduce map-side to ~one row per doc before the
    # exchange — the shuffle is doc-count-sized, never gram-sized
    per_doc = enriched.groupBy("doc_id").agg(
        F.max(
            F.when(
                is_len & (_chars_s != ""), _chars_s.cast("long")
            )
        ).alias("__chars"),
        F.max(F.when(is_len, F.get(_lr, 1).cast("long"))).alias("__top_c"),
        F.max(F.when(is_len, F.get(_lr, 2).cast("long"))).alias(
            "__top_glen"
        ),
        F.count(F.when(is_lm, F.lit(1))).cast("long").alias("n_grams"),
        F.avg(F.when(is_lm, logp)).alias("__logp_avg"),
        F.sum(F.when(is_dec, F.lit(1))).alias("__n_shingles"),
        F.coalesce(F.sum(F.when(is_dec, F.col("__hit"))), F.lit(0))
        .cast("long")
        .alias("n_overlap"),
    )
    bp = (
        F.floor(
            F.lit(10000)
            * F.col("__top_c")
            * F.col("__top_glen")
            / F.col("__chars")
        )
        .cast("long")
        .alias("top_gram_char_bp")
    )
    overlap_pct = (
        F.floor(F.lit(100) * F.col("n_overlap") / F.col("__n_shingles"))
        .cast("long")
        .alias("overlap_pct")
    )
    contaminated = (
        (F.col("overlap_pct") >= _CONTAM_PCT).cast("int").alias("contaminated")
    )
    return (
        per_doc.select(
            "doc_id",
            "n_grams",
            F.round(F.round(-F.col("__logp_avg"), 6), 3).alias("nll_3"),
            F.col("__top_c").alias("top_gram_count"),
            bp,
            "n_overlap",
            overlap_pct,
            "__n_shingles",
        )
        .withColumn("contaminated", contaminated)
        .select(
            "doc_id",
            "n_grams",
            "nll_3",
            "top_gram_count",
            "top_gram_char_bp",
            "n_overlap",
            "overlap_pct",
            "contaminated",
            (
                (F.col("contaminated") == 0)
                & (F.col("top_gram_char_bp") <= _REP_BP)
            )
            .cast("int")
            .alias("keep"),
        )
    )


#: per-source mixing weights: upsample src0/src1 2.5x, downsample src18
#: to a half, drop src19, keep the rest 1x.
_MIX_WEIGHTS = {
    f"src{i}": (2.5 if i <= 1 else 0.5 if i == 18 else 0.0 if i == 19 else 1.0)
    for i in range(20)
}
_SHARD_BUDGET = 2_000


@REGISTRY.register(
    "corpus_mix_split_shards",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
               AS n_tokens,
             {_sql_bucket("v1")} AS sbucket,
             {_sql_bucket("mix")} AS mbucket
      FROM documents
    ),
    s AS (
      SELECT *,
             CASE WHEN sbucket < 800000 THEN 'train'
                  WHEN sbucket < 900000 THEN 'val'
                  ELSE 'test' END AS split,
             CASE WHEN source IN ('src0', 'src1')
                    THEN 2 + (CASE WHEN mbucket < 500000 THEN 1 ELSE 0 END)
                  WHEN source = 'src18'
                    THEN CASE WHEN mbucket < 500000 THEN 1 ELSE 0 END
                  WHEN source = 'src19' THEN 0
                  ELSE 1 END AS n_copies
      FROM t
    ),
    m AS (
      SELECT doc_id, source, split, n_tokens, CAST(c AS BIGINT) AS copy,
             doc_id * 4 + CAST(c AS BIGINT) AS uid
      FROM s, UNNEST(range(n_copies)) AS u(c)
      WHERE n_copies > 0
    ),
    w AS (
      SELECT *,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY uid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_offset
      FROM m
    )
    SELECT doc_id, copy, source, split, n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // {_SHARD_BUDGET} AS BIGINT) AS shard,
           -- token-window chunk layout (operators.chunking): window
           -- count and first-window width are pure window math over the
           -- token count — (n-1)//stride + 1 windows of <= chunk_tokens
           CAST((n_tokens - 1) // 48 + 1 AS BIGINT) AS n_chunks,
           CAST(least(n_tokens, 64) AS BIGINT) AS first_chunk_tokens,
           -- GPT-style sequence packing (operators.sharding.
           -- pack_training_sequences, seq_len 512): the first training
           -- sequence this row's tokens land in and how many sequences
           -- its segments span — closed-form over the same offsets
           CAST(start_offset // 512 AS BIGINT) AS first_seq,
           CAST((start_offset + n_tokens - 1) // 512
                - start_offset // 512 + 1 AS BIGINT) AS n_seqs,
           -- deterministic training-epoch shuffle (operators.sharding.
           -- epoch_shuffle, md5 cross-engine mode, epoch 1): position =
           -- global rank of (md5-60-bit hash, uid) — the oracle ranks
           -- directly, the operator reproduces the same rank via its
           -- two-level bucket/prefix shape without a global sort
           CAST(ROW_NUMBER() OVER (ORDER BY
             ('0x' || substr(md5('1:' || CAST(uid AS VARCHAR)), 1, 15))
               ::BIGINT, uid) - 1 AS BIGINT) AS epoch_pos
    FROM w
    """,
)
def corpus_mix_split_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset layout: deterministic split -> source mixing -> token-
    budget shard packing, all hash/prefix-sum based (no rand(), no
    global sort — see module docstring for the scale shapes).

    Replicated rows (copy > 0) keep their split assignment — the split
    is drawn per document, so an upsampled document never straddles
    train/test. The shard layout orders by (doc_id, copy) via the
    synthetic unique id ``doc_id * 4 + copy`` (max 3 copies < 4).

    Driver-slot composite: also gates operators.chunking.chunk_documents
    — each output row carries its document's overlapping-window layout
    (64-token windows, stride 48) aggregated from the real chunk
    relation, which the oracle reproduces in closed-form window math —
    and operators.sharding.pack_training_sequences: per-(doc, copy)
    first-sequence id and segment count aggregated from the real
    segment map (seq_len 512), oracle-reproduced from the same offsets.
    """
    ch = chunk_documents(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        chunk_tokens=64,
        stride=48,
    )
    chstats = ch.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.max(
            F.when(F.col("chunk_idx") == 0, F.col("n_chunk_tokens"))
        ).alias("first_chunk_tokens"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    split = deterministic_split(
        docs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="v1",
    )
    mixed = mix_sources(split, "doc_id", "source", _MIX_WEIGHTS, salt="mix")
    # persist the shared metadata relation (round-12 #2): five consumers
    # (two prefix-sum layouts, the epoch shuffle, and the two max-id
    # actions they used to run separately) each re-evaluated the
    # token_count regex split plus two md5 hash buckets per row. The
    # relation is metadata-narrow (no text column — ~40 B/row at any
    # scale), exactly the "decide with small rows" proxy the optimization
    # guide's worked example stages; bench's clearCache() between passes
    # releases it.
    with_uid = mixed.withColumn(
        "uid", F.col("doc_id") * 4 + F.col("copy")
    ).persist()
    # ONE max-id action shared by both layouts (operators/sharding.py:
    # any shared upper bound yields identical offsets) — this action also
    # materializes the persist above, so every later leg reads the cache.
    max_uid = with_uid.agg(F.max("uid")).first()[0]
    sharded = assign_token_shards(
        with_uid, budget=_SHARD_BUDGET, id_col="uid", token_col="n_tokens",
        max_id=max_uid,
    )
    packed = pack_training_sequences(
        with_uid, 512, id_col="uid", token_col="n_tokens", max_id=max_uid,
    )
    pstats = packed.groupBy("uid").agg(
        F.min("seq_id").cast("long").alias("first_seq"),
        F.count("*").cast("long").alias("n_seqs"),
    )
    # epoch shuffle (md5 cross-engine mode): the bit-exact DuckDB twin
    # already pinned in tests/test_sharding.py, now driver-gated — the
    # oracle ranks the same hash globally, the operator reaches the
    # identical rank through bucketed prefix sums (no global sort).
    shuffled = epoch_shuffle(
        with_uid.select("uid"), epoch=1, id_col="uid", hash_fn=md5_epoch_hash
    )
    return (
        sharded.join(chstats, "doc_id")
        .join(pstats, "uid")
        .join(shuffled, "uid")
        .select(
            "doc_id",
            F.col("copy").cast("long").alias("copy"),
            "source",
            "split",
            "n_tokens",
            "start_offset",
            "shard",
            "n_chunks",
            "first_chunk_tokens",
            "first_seq",
            "n_seqs",
            "epoch_pos",
        )
    )


# --------------------------------------------------------------------------
# Lexical search under the driver gate: BM25 top-k (operators.search)
# over the documents corpus. Scores are sums of per-(doc, term) integer
# micro-contributions — order-independent under any partitioning (the
# operator's determinism contract), which is what lets a float-scoring
# ranker hash-match across engines.
# --------------------------------------------------------------------------
_BM25_TERMS = ("query", "stream", "spark")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)
_BM25_K1, _BM25_B = 1.2, 0.75


@REGISTRY.register(
    "lexical_search_bm25",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS toks
      FROM documents
    ),
    st AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM t),
    e AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
      FROM e WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, term
    ),
    dfv AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df
      FROM e WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY term
    )
    SELECT tf.doc_id,
           CAST(SUM(CAST(FLOOR(1e6 * (
             ln(1 + (st.n - dfv.df + 0.5) / (dfv.df + 0.5))
             * tf.tf * ({_BM25_K1} + 1)
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                + {_BM25_B} * tf.dl / st.avgdl))
           )) AS BIGINT)) AS BIGINT) AS score_micro,
           CAST(COUNT(*) AS INTEGER) AS n_query_terms_hit
    FROM tf JOIN dfv USING (term) CROSS JOIN st
    GROUP BY tf.doc_id
    ORDER BY score_micro DESC, tf.doc_id
    LIMIT 20
    """,
)
def lexical_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.search import bm25_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(
        docs, list(_BM25_TERMS), k=20, k1=_BM25_K1, b=_BM25_B
    )


# --------------------------------------------------------------------------
# Distributed BPE training under the driver gate — WITH a full value
# oracle since round 4: the k merge rounds unroll into k chained
# MATERIALIZED CTEs (DuckDB would otherwise inline each round's vocab
# into both consumers — 2^k plan blowup). Each round mirrors the Spark
# algorithm exactly: pair counts weighted by word frequency, argmax with
# (count DESC, pair ASC) tie-break, HAVING >= 2 early-stop guard, then
# the greedy left-to-right non-overlapping merge as a list_reduce fold
# over US-joined symbol strings (fold invariant: the accumulator's last
# token equals `a` iff acc = a OR acc ends with chr(31)||a — symbols
# never contain chr(31), verified ASCII-only corpus; appending b without
# a separator IS the merge). corpus_symbols_after folds to
# SUM(cnt * |syms|) because the encoded word stream's multiplicities
# equal the vocab counts by construction. Tie-break collation: both
# engines compare ASCII bytewise. The oracle assumes all k rounds find
# a pair with count >= 2 (true for this corpus at every SF; if a
# regenerated corpus ever exhausts merges the row-count mismatch fails
# loudly rather than silently passing). Known corpus assumption: the
# char split is per-UTF-16-code-unit in Spark but per-codepoint in
# DuckDB, so an ASTRAL character (outside the BMP — emoji etc.) in a
# regenerated corpus would split differently and fail the gate loudly;
# the corpus is verified pure ASCII today.
# --------------------------------------------------------------------------
_BPE_MERGES = 10


def _bpe_oracle(n_merges: int) -> str:
    us = "chr(31)"
    parts = [
        f"""
    WITH v0 AS MATERIALIZED (
      SELECT word, COUNT(*) AS cnt,
             array_to_string(string_split(word, ''), {us}) AS syms
      FROM (
        SELECT unnest(string_split_regex(text, '\\s+')) AS word
        FROM documents WHERE doc_id < 300
      )
      WHERE length(word) > 0
      GROUP BY word
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f""",
    b{i} AS MATERIALIZED (
      SELECT pair, string_split(pair, ' ')[1] AS a,
             string_split(pair, ' ')[2] AS b
      FROM (
        SELECT pair, SUM(cnt) AS n
        FROM (
          SELECT cnt,
                 unnest(list_transform(range(1, len(l)),
                        j -> l[j] || ' ' || l[j+1])) AS pair
          FROM (SELECT cnt, string_split(syms, {us}) AS l FROM v{i})
        )
        GROUP BY pair HAVING SUM(cnt) >= 2
        ORDER BY n DESC, pair
        LIMIT 1
      )
    ),
    v{i + 1} AS MATERIALIZED (
      SELECT word, cnt,
             list_reduce(string_split(v.syms, {us}),
               (acc, x) -> CASE
                 WHEN (acc = b{i}.a OR ends_with(acc, {us} || b{i}.a))
                      AND x = b{i}.b
                 THEN acc || b{i}.b
                 ELSE acc || {us} || x END) AS syms
      FROM v{i} v, b{i}
    )"""
        )
    parts.append(
        f""",
    total AS (
      SELECT CAST(SUM(cnt * len(string_split(syms, {us}))) AS BIGINT)
             AS corpus_symbols_after
      FROM v{n_merges}
    )
    """
    )
    parts.append(
        "\n    UNION ALL\n    ".join(
            f"SELECT CAST({i} AS INTEGER) AS rank, a AS left_sym, "
            f"b AS right_sym, corpus_symbols_after FROM b{i}, total"
            for i in range(n_merges)
        )
    )
    return "".join(parts)


@REGISTRY.register("bpe_train_merges", oracle=_bpe_oracle(_BPE_MERGES))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import encode_words, train_bpe

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    merges = train_bpe(docs, n_merges=_BPE_MERGES)
    rules = local_relation(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left_sym string, right_sym string",
    )
    # apply the learned merges back over the training corpus's token
    # stream: the total symbol count is one deterministic scalar — the
    # compression the rule set achieves (encode_words round-trip and
    # greedy-application order are pinned in tests/test_bpe.py)
    from ..functions.text import tokens as _tokens

    words = docs.select(F.explode(_tokens("text")).alias("word")).filter(
        F.length("word") > 0
    )
    encoded = encode_words(words, merges, word_col="word")
    total_syms = encoded.agg(
        F.sum(F.size("bpe_tokens")).cast("long").alias("v")
    ).first()["v"]
    return rules.withColumn(
        "corpus_symbols_after", F.lit(int(total_syms)).cast("long")
    )


# --------------------------------------------------------------------------
# URL/domain curation (functions/url.py): canonicalize a URL per doc,
# key it by registered domain, attach per-domain stats (doc count,
# distinct canonical URLs — the exact-URL-dedup denominator), and a
# deterministic per-domain quota flag (the RefinedWeb-style cap on any
# one domain's contribution to a pretraining mix).
#
# The corpus carries no URL column, so the URL is synthesized in-query
# (identical expression both engines — the dedup-family precedent) with
# deliberate mess: mixed-case schemes/hosts, WWW. prefixes, default and
# non-default ports, tracking params in leading/interior/trailing
# position, fragments, query-less URLs, and a colliding path family
# (doc_id % 13) that makes canonical-URL dedup non-trivial.
#
# Quota selection = row_number over md5(doc_id) within domain — a
# bottom-k-of-hash stratified sample with an engine-portable hash.
# 100 TB note: a mega-domain makes that window partition hot; the scale
# remedy is to rank within (domain, hash-prefix) first, then over the
# bounded survivors — identical output, bounded partitions. The regex
# rules themselves are per-row projections in whole-stage codegen: no
# shuffle until the domain agg.
# --------------------------------------------------------------------------
_SRC_SQL = """COALESCE(NULLIF(
      regexp_replace(lower(source), '[^a-z0-9-]', '', 'g'), ''), 'src')"""

_URL_SQL = f"""
      (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END)
      || '://'
      || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END)
      || (CASE WHEN doc_id % 5 = 0
          THEN upper({_SRC_SQL} || '.example.'
               || (CASE WHEN doc_id % 3 = 0 THEN 'com'
                        WHEN doc_id % 3 = 1 THEN 'co.uk'
                        ELSE 'org' END))
          ELSE {_SRC_SQL} || '.example.'
               || (CASE WHEN doc_id % 3 = 0 THEN 'com'
                        WHEN doc_id % 3 = 1 THEN 'co.uk'
                        ELSE 'org' END) END)
      || (CASE WHEN doc_id % 6 = 0 THEN ':443'
               WHEN doc_id % 11 = 0 THEN ':8080'
               ELSE '' END)
      || (CASE WHEN doc_id % 13 = 0 THEN '/articles/dup'
               ELSE '/articles/' || CAST(doc_id AS VARCHAR) END)
      || (CASE WHEN doc_id % 13 = 0 THEN ''
          ELSE '?'
               || (CASE WHEN doc_id % 7 = 0 THEN 'fbclid=abc123&'
                        ELSE '' END)
               || 'id=' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN doc_id % 2 = 0
                   THEN '&utm_source=feed&utm_campaign=c'
                        || CAST(doc_id % 4 AS VARCHAR)
                   ELSE '' END) END)
      || (CASE WHEN doc_id % 3 = 0 THEN '#s' || CAST(doc_id % 9 AS VARCHAR)
               ELSE '' END)
"""

_DOMAIN_SQL = """
    CASE WHEN len(string_split(host_nw, '.')) <= 2 THEN host_nw
         WHEN array_to_string(list_slice(string_split(host_nw, '.'),
                len(string_split(host_nw, '.')) - 1,
                len(string_split(host_nw, '.'))), '.')
              IN ('co.uk', 'com.au', 'co.jp', 'co.in', 'com.br')
         THEN array_to_string(list_slice(string_split(host_nw, '.'),
                len(string_split(host_nw, '.')) - 2,
                len(string_split(host_nw, '.'))), '.')
         ELSE array_to_string(list_slice(string_split(host_nw, '.'),
                len(string_split(host_nw, '.')) - 1,
                len(string_split(host_nw, '.'))), '.')
    END
"""


@REGISTRY.register(
    "url_domain_curation",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_URL_SQL} AS url FROM documents
    ), parsed AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          AS scheme,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
          AS hostport,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1)
          AS pathq
      FROM raw
    ), comp AS (
      SELECT doc_id, url, scheme,
        -- userinfo strip mirrors functions/url.url_host (no-op on this
        -- synthesized corpus, kept for contract parity)
        lower(regexp_replace(regexp_replace(hostport, '^[^/?#]*@', ''),
                             ':[0-9]+$', '')) AS host,
        regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        regexp_extract(pathq, '^([^?]*)', 1) AS path,
        regexp_extract(pathq, '\\?(.*)$', 1) AS query
      FROM parsed
    ), cleaned AS (
      SELECT *,
        regexp_replace(host, '^(www\\.)+', '') AS host_nw,
        regexp_replace(
          regexp_replace(query,
            '&(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '', 'g'),
          '^(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*&?', '') AS q_clean
      FROM comp
    ), norm AS (
      SELECT doc_id, url, host,
        scheme || '://' || host_nw
          || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                    OR (scheme = 'https' AND port = '443')
               THEN '' ELSE ':' || port END
          || path
          || CASE WHEN q_clean = '' THEN '' ELSE '?' || q_clean END
          AS norm_url,
        COALESCE({_DOMAIN_SQL}, '') AS domain
      FROM cleaned
    ), stats AS (
      SELECT domain, COUNT(*) AS n_docs_in_domain,
             COUNT(DISTINCT norm_url) AS n_unique_norm_urls
      FROM norm GROUP BY domain
    )
    SELECT n.doc_id, n.url, n.norm_url, n.host, n.domain,
           s.n_docs_in_domain, s.n_unique_norm_urls,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY n.domain
             ORDER BY md5(CAST(n.doc_id AS VARCHAR)), n.doc_id
           ) AS BIGINT) AS url_rank,
           CAST(CASE WHEN ROW_NUMBER() OVER (
             PARTITION BY n.domain
             ORDER BY md5(CAST(n.doc_id AS VARCHAR)), n.doc_id
           ) <= 5 THEN 1 ELSE 0 END AS BIGINT) AS quota_keep
    FROM norm n JOIN stats s USING (domain)
    """,
)
def url_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.url import (
        normalize_url,
        registered_domain,
        url_host,
    )

    d = F.col("doc_id")
    tld = (
        F.when(d % 3 == 0, F.lit("com"))
        .when(d % 3 == 1, F.lit("co.uk"))
        .otherwise(F.lit("org"))
    )
    # sanitized source token: regenerated testdata may carry source
    # values that are not hostname-safe; fold to [a-z0-9-] in BOTH
    # engines (empty/NULL -> 'src') so the synthesized host stays valid
    src_clean = F.regexp_replace(
        F.lower(F.col("source")), "[^a-z0-9-]", ""
    )
    src_safe = F.when(F.length(src_clean) > 0, src_clean).otherwise(
        F.lit("src")
    )
    # hostbase is referenced twice below (upper/plain branch). Keep it
    # as a materialized projection column, not an inline subtree: the
    # regexp is non-cheap, so CollapseProject leaves the extra Project
    # in place — one regex eval per row, and the fused
    # project+hashAgg stage stays under Janino's method-size limit
    # (inlining it twice pushed codegen into interpreted fallback).
    hostbase = F.col("hostbase")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP")),
        F.lit("://"),
        F.when(d % 4 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.upper(hostbase)).otherwise(hostbase),
        F.when(d % 6 == 0, F.lit(":443"))
        .when(d % 11 == 0, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.when(d % 13 == 0, F.lit("/articles/dup")).otherwise(
            F.concat(F.lit("/articles/"), d.cast("string"))
        ),
        F.when(d % 13 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("?"),
                F.when(d % 7 == 0, F.lit("fbclid=abc123&")).otherwise(
                    F.lit("")
                ),
                F.lit("id="),
                d.cast("string"),
                F.when(
                    d % 2 == 0,
                    F.concat(
                        F.lit("&utm_source=feed&utm_campaign=c"),
                        (d % 4).cast("string"),
                    ),
                ).otherwise(F.lit("")),
            )
        ),
        F.when(d % 3 == 0, F.concat(F.lit("#s"), (d % 9).cast("string")))
        .otherwise(F.lit("")),
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.concat(src_safe, F.lit(".example."), tld).alias("hostbase"),
        )
        .select("doc_id", url.alias("url"))
    )
    host_parsed = url_host("url")
    # LOUD oracle-regime contract (NOTES watch list -> named assert),
    # fused IN-PLAN (round-10 verdict #1: the eager require() here was
    # a full extra scan+agg Spark job on every invocation): every
    # synthesized URL must parse to a host — the sanitize above makes
    # that true for any source value, and this raise_error keeps it
    # true by NAME from inside the main job if a regenerated corpus
    # finds a hole in it (a NULL host would silently merge rows into
    # the '' domain bucket on both sides and shift quota ranks).
    host = F.when(host_parsed.isNotNull(), host_parsed).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "url_synth_hosts_parse: a synthesized URL produced "
                    "a NULL host (hostname-unsafe source survived the "
                    "sanitizer): "
                ),
                F.col("url"),
            )
        )
    )
    host_nw = F.regexp_replace(host, "^(www\\.)+", "")
    norm = docs.select(
        "doc_id",
        "url",
        normalize_url("url").alias("norm_url"),
        host.alias("host"),
        # coalesce makes `domain` non-nullable, so the groupBy+self-join
        # below infers NO isnotnull(domain) constraint. Without it,
        # Catalyst pushes an inferred filter beneath these Projects,
        # inlining the whole url->host->domain regexp chain into a
        # ~25 KB Filter expression on BOTH join sides — which blows the
        # fused scan+hashAgg past Janino's method limit (interpreted
        # fallback) and re-evaluates every regex once more per row.
        # Mirrored in the oracle (COALESCE(domain, '')); synth URLs
        # always parse, so '' never actually appears.
        F.coalesce(registered_domain(host_nw), F.lit("")).alias("domain"),
    )
    # Domain stats fused into the quota-rank window's single exchange
    # (round-10 verdict #1): the former groupBy + join-back evaluated
    # the regex-heavy `norm` projection TWICE and shuffled it twice
    # (agg side + probe side). count-over-partition and
    # max(dense_rank by norm_url)-over-partition compute the same
    # n_docs / distinct-norm_url values inside the ONE
    # hash-partition-by-domain exchange the rank already needs — three
    # Window nodes, one Exchange, one evaluation of the URL regexes.
    # Hot-domain exposure is unchanged: the rank itself already
    # requires each domain's rows in one partition.
    w_dom = Window.partitionBy("domain")
    w_uniq = Window.partitionBy("domain").orderBy("norm_url")
    w = Window.partitionBy("domain").orderBy(
        F.md5(d.cast("string")), "doc_id"
    )
    return (
        norm.withColumn(
            "n_docs_in_domain", F.count(F.lit(1)).over(w_dom)
        )
        .withColumn("__uniq_dr", F.dense_rank().over(w_uniq))
        # COUNT(DISTINCT) semantics, null-safe (round-11 ADVICE):
        # dense_rank counts a NULL norm_url as one distinct value
        # (NULLs sort first, all rank 1) while the oracle's
        # COUNT(DISTINCT norm_url) ignores NULLs. normalize_url
        # returns NULL for unparseable URLs — host non-nullness is
        # raise_error-enforced above but norm_url's is not — so
        # subtract a null-presence indicator (shares the w_dom
        # exchange) rather than leave the latent divergence.
        .withColumn(
            "n_unique_norm_urls",
            (
                F.max("__uniq_dr").over(w_dom)
                - F.max(F.col("norm_url").isNull().cast("int")).over(w_dom)
            ).cast("long"),
        )
        .withColumn("url_rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "quota_keep",
            (F.col("url_rank") <= 5).cast("long"),
        )
        .select(
            "doc_id", "url", "norm_url", "host", "domain",
            "n_docs_in_domain", "n_unique_norm_urls", "url_rank",
            "quota_keep",
        )
    )
