"""Text-analysis / dedup / similarity queries over ``documents`` and
``embeddings`` — the LLM-training-data-pipeline operator family
(BASELINE.json north star; SURVEY.md §7.2 step 6).

The corpus has no duplicate documents, so the dedup queries synthesize
overlapping copies *inside the query* (identical CTE on the Spark and
DuckDB sides) — the operators are then exercised against known dup/near-
dup structure and verified by the oracle.

Determinism notes:
- Jaccard thresholds are evaluated in integers (``10*|∩| >= 6*|∪|``) —
  no float comparison can flip.
- MinHash uses the md5-based hash family from functions.text (exactly
  reproducible in DuckDB; see that module's docstring).
- Cosine scores are computed in double with an identical operation order
  on both engines (functions.vectors).

Scale notes: exact dedup is one hash-aggregate on md5(text) — the 100 TB
shape. MinHash banding is the standard LSH candidate-generation topology:
signatures are computed in a single codegen stage over the scan, bands
explode 4× and shuffle by band key, and only same-bucket pairs are joined;
candidate verification re-joins shingle sets by doc_id. Nothing driver-
side, no O(n²) stage. Brute-force cosine top-k is the *baseline* ANN path
(a broadcast of the query vectors over a single scan of the corpus — linear,
embarrassingly parallel); the bucketed/IVF variant arrives with the
operators.similarity module.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    EMAIL_RE,
    ENGLISH_STOPWORDS,
    IPV4_RE,
    MINHASH_A,
    MINHASH_B,
    MINHASH_PRIME,
    band_keys,
    minhash_signature_from_hashes,
    normalize_text,
    shingle_hashes,
    pii_email_count,
    pii_ipv4_count,
    predicted_lang,
    redact_pii,
    shingles,
    simhash64_from_hashes,
    sql_normalize_text,
    sql_redact_pii,
    sql_simhash64_int,
    stopword_count,
    token_count,
    token_hashes,
)
from ..functions.vectors import as_double, cosine
from ..operators.nndescent import (
    graph_search_cte_parts,
    knn_graph_cte_parts,
)
from ..operators.pagerank import pagerank_fixedpoint_cte_parts
from ..sources.tables import load_table, local_relation
from . import QueryRegistry

REGISTRY = QueryRegistry()

# SQL twin of functions.text tokenization / shingling / signature.
_SQL_TOKS = "string_split_regex(text, '\\s+')"
_SQL_SHINGLES = f"""
    list_distinct(CASE WHEN len({_SQL_TOKS}) >= 3
      THEN list_transform(range(1, len({_SQL_TOKS}) - 1),
             p -> {_SQL_TOKS}[p] || ' ' || {_SQL_TOKS}[p+1] || ' ' || {_SQL_TOKS}[p+2])
      ELSE [text] END)
"""


#: one md5 per shingle → 32-bit int (the Spark twin is
#: functions.text.shingle_hashes; constants shared from the same module).
_SQL_SH_HASHES = (
    "list_transform(shingles, s -> ('0x' || substr(md5(s),1,8))::BIGINT)"
)


def _sql_minhash(j: int) -> str:
    a, b = MINHASH_A[j], MINHASH_B[j]
    return (
        f"list_aggregate(list_transform(sh_h, h -> ({a} * h + {b}) "
        f"% {MINHASH_PRIME}), 'min') AS mh_{j}"
    )


def _skip_hot(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop rows whose blocking/banding key holds more than ``cap``
    members — the family-wide skew guard.

    Implemented as an anti-join against the over-cap key list, NOT a
    count window: a window would shuffle the full banded relation once
    per consumer (both self-join sides). The join strategy is left to
    Catalyst/AQE deliberately — no broadcast hint: in the expected case
    the hot list is tiny (one row per super-bucket) and AQE broadcasts
    it; on an adversarial corpus the list can reach n/cap keys, where a
    forced broadcast would OOM the driver but AQE degrades to a shuffled
    anti-join and completes.
    """
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > cap)
        .select(*keys)
    )
    return df.join(hot, keys, "left_anti")


# --------------------------------------------------------------------------
# Per-document text statistics + stopword-based language heuristic.
# --------------------------------------------------------------------------
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"
_MARKER_SQL = {
    lang: "["
    + ", ".join(f"'{w}'" for w in words)
    + "]"
    for lang, words in {
        "en": ("the", "a", "of", "and", "is"),
        "de": ("der", "die", "und", "das", "ist"),
        "fr": ("le", "la", "et", "les", "est"),
        "es": ("el", "la", "y", "los", "es"),
    }.items()
}


# The corpus carries no PII-shaped spans or line structure (checked), so —
# exactly like the dedup queries synthesize duplicates — the profile query
# synthesizes a deterministic PII-bearing augmentation of each document
# *inside the query* (identical CTE both engines) and runs the scrubbing /
# repetition signals on that. The original `text` columns are untouched.
_SQL_AUG = f"""
    text
    || CASE WHEN doc_id % 5 = 0
         THEN chr(10) || 'contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com at 10.'
              || CAST(doc_id % 200 AS VARCHAR) || '.0.1'
         ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN chr(10) || 'footer line' || chr(10) || 'footer line'
              || chr(10) || 'footer line'
         ELSE '' END
"""
_SQL_AUG_LINES = "string_split(aug, chr(10))"

# Boilerplate-extraction section: like the PII augmentation above, the
# corpus is plain text, so the query wraps each document in a
# deterministic nav/footer HTML shell *inside the query* (identical CTE
# both engines) and runs operators.boilerplate main-content extraction
# on it — nav + footer are link-dense and must be dropped, the wrapped
# document body kept (when long enough). Regexes stay in the Java/RE2
# common subset (cf. the PII section note).
_SQL_HTML_AUG = (
    "'<html><body><nav><a href=\"/\">Home</a> "
    "<a href=\"/news\">All the news headlines listed here</a></nav><p>' "
    "|| text || "
    "'</p><footer><a href=\"/tos\">Terms of service and privacy"
    "</a></footer></body></html>'"
)
_SQL_BP_DROP = (
    r"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->"
)
_SQL_BP_SPLIT = (
    r"(?i)</(?:p|div|li|ul|ol|h[1-6]|td|tr|table|section|article|header|"
    r"footer|nav|blockquote|pre|br)\s*>|<br\s*/?>"
)


def _sql_block_text(b: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace({b}, '<[^>]+>', ' ', 'g'), "
        f"'\\s+', ' ', 'g'))"
    )


_SQL_KEPT_BLOCKS = f"""
    list_transform(list_filter(
      string_split_regex(
        regexp_replace(html_aug, '{_SQL_BP_DROP}', ' ', 'g'),
        '{_SQL_BP_SPLIT}'),
      b -> length({_sql_block_text('b')}) >= 40
           AND coalesce(list_sum(list_transform(
                 regexp_extract_all(b, '(?is)<a\\b[^>]*>(.*?)</a\\s*>', 1),
                 a -> length({_sql_block_text('a')}))), 0)
               <= length({_sql_block_text('b')}) * 0.33),
      b -> {_sql_block_text('b')})
"""


@REGISTRY.register(
    "doc_text_profile",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, text, {_SQL_AUG} AS aug,
        {_SQL_HTML_AUG} AS html_aug,
        {_SQL_TOKS} AS toks,
        CAST(length(text) AS INTEGER) AS n_chars,
        CAST(len({_SQL_TOKS}) AS INTEGER) AS n_tokens,
        CAST(len(list_filter({_SQL_TOKS},
             x -> list_contains({_STOP_SQL}, x))) AS INTEGER) AS n_stopwords,
        CAST(len(list_filter({_SQL_TOKS},
             x -> list_contains({_MARKER_SQL['en']}, x))) AS INTEGER) AS s_en,
        CAST(len(list_filter({_SQL_TOKS},
             x -> list_contains({_MARKER_SQL['de']}, x))) AS INTEGER) AS s_de,
        CAST(len(list_filter({_SQL_TOKS},
             x -> list_contains({_MARKER_SQL['fr']}, x))) AS INTEGER) AS s_fr,
        CAST(len(list_filter({_SQL_TOKS},
             x -> list_contains({_MARKER_SQL['es']}, x))) AS INTEGER) AS s_es
      FROM documents
    ), finger AS (
      SELECT *,
        CASE WHEN len(toks) >= 8 THEN
          list_transform(range(1, len(toks) - 6),
            p -> md5(array_to_string(toks[p:p+7], ' ')))
        ELSE [md5(array_to_string(toks, ' '))] END AS hashes
      FROM scored
    ), bp AS (
      SELECT *, {_SQL_KEPT_BLOCKS} AS kept_blocks FROM finger
    ), fh_sparse AS (
      SELECT doc_id, bucket, SUM(w) AS weight FROM (
        SELECT doc_id,
               list_aggregate(list_transform(range(1, 15), i ->
                 (strpos('0123456789abcdef',
                         substr(md5(tok), CAST(i AS INT), 1)) - 1)
                 * CAST(pow(16, 14 - i) AS BIGINT)), 'sum') % 512
                 AS bucket,
               CASE WHEN substr(md5(tok), 15, 1) >= '8'
                    THEN 1 ELSE -1 END AS w
        FROM (
          SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
          FROM documents
        ) WHERE tok <> ''
      ) GROUP BY doc_id, bucket HAVING SUM(w) <> 0
    ), fh AS (
      SELECT doc_id, COUNT(*) AS fh_nnz,
             CAST(SUM(ABS(weight)) AS BIGINT) AS fh_l1,
             CAST(SUM(bucket * weight) AS BIGINT) AS fh_checksum
      FROM fh_sparse GROUP BY doc_id
    )
    SELECT doc_id, lang, n_chars, n_tokens, n_stopwords,
           CAST(n_stopwords AS DOUBLE) / n_tokens AS stop_ratio,
           CASE
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
             WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
             WHEN s_es > 0 THEN 'es'
             ELSE 'und'
           END AS predicted_lang,
           10000 * CAST(n_stopwords AS BIGINT) // n_tokens AS stop_bp,
           10 * CAST(n_chars AS BIGINT) // n_tokens AS mean_tok_len_dp,
           CAST(CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 40 ELSE 0 END
              + CASE WHEN 10000 * CAST(n_stopwords AS BIGINT) // n_tokens
                     BETWEEN 200 AND 6000 THEN 40 ELSE 0 END
              + CASE WHEN 10 * CAST(n_chars AS BIGINT) // n_tokens
                     BETWEEN 30 AND 90 THEN 20 ELSE 0 END AS BIGINT)
             AS quality_score,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_units,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_numbers,
           array_to_string(list_sort(hashes)[1:3], ',') AS fingerprint,
           CAST(len(hashes) AS INTEGER) AS n_windows,
           CAST(len(regexp_extract_all(aug, '{EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(aug, '{IPV4_RE}')) AS INTEGER)
             AS n_ipv4,
           CAST(length({sql_redact_pii('aug')}) AS INTEGER)
             AS redacted_n_chars,
           CAST(len({_SQL_AUG_LINES}) AS INTEGER) AS n_lines,
           10000 * CAST(len({_SQL_AUG_LINES})
                        - len(list_distinct({_SQL_AUG_LINES})) AS BIGINT)
             // len({_SQL_AUG_LINES}) AS dup_line_bp,
           CAST(length(array_to_string(kept_blocks, chr(10))) AS INTEGER)
             AS main_n_chars,
           CAST(length({sql_normalize_text('text')}) AS INTEGER)
             AS norm_n_chars,
           CAST(len(kept_blocks) AS INTEGER) AS n_content_blocks,
           CAST(COALESCE(fh.fh_nnz, 0) AS BIGINT) AS fh_nnz,
           CAST(COALESCE(fh.fh_l1, 0) AS BIGINT) AS fh_l1,
           CAST(COALESCE(fh.fh_checksum, 0) AS BIGINT) AS fh_checksum
    FROM bp LEFT JOIN fh USING (doc_id)
    """,
)
def doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis in one scan: raw stats + stopword-based
    language heuristic + composite quality score + BPE-ish unit counts +
    winnowing-style content fingerprint.

    The quality score (LLM-data curation gate) runs in integer basis-point
    arithmetic end-to-end so it is bit-identical across engines; floor
    division via F.floor (DuckDB ``//``) — a plain double cast would round
    in DuckDB but truncate in Spark. BPE-ish counting = regex
    pre-tokenization (letter runs / digit runs / single punctuation), the
    scan-side unit estimate LLM-pipeline budgeting uses when a real
    tokenizer is too expensive. The fingerprint is a bottom-3 sketch over
    rolling 8-token window hashes — constant size per document regardless
    of length; documents sharing a fingerprint element share content.

    PII / repetition section (n_emails, n_ipv4, redacted_n_chars,
    n_lines, dup_line_bp): the scrubbing + Gopher-style repetition
    signals of an LLM curation pass, run over a deterministic in-query
    augmentation ``aug`` (the corpus itself carries no PII-shaped spans
    or newlines — cf. the synthesized duplicates in the dedup queries).
    Everything is linear per row and stays inside codegen: regex
    count/replace for detection+masking (functions.text.redact_pii),
    array_distinct over split lines for the duplicate-line fraction in
    integer basis points."""
    from ..functions.text import tokens
    from ..operators.featurehash import (
        hashed_feature_stats,
        hashed_features,
    )

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    from ..functions.text import let1, token_grams

    # let1-bound split: an index lambda here re-evaluates the split per
    # window (O(tokens²) per row — see functions.text.let1).
    hashes = let1(
        tokens("text"),
        lambda t: F.when(
            F.size(t) >= 8,
            F.transform(token_grams(t, 8), F.md5),
        ).otherwise(F.array(F.md5(F.concat_ws(" ", t)))),
    )
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("\ncontact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com at 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".0.1"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\nfooter line\nfooter line\nfooter line"),
        ).otherwise(F.lit("")),
    )
    aug_lines = F.split(aug, "\n")
    n_lines = F.size(aug_lines)
    from ..operators.boilerplate import extract_main_text, main_text_blocks

    html_aug = F.concat(
        F.lit(
            '<html><body><nav><a href="/">Home</a> '
            '<a href="/news">All the news headlines listed here</a>'
            "</nav><p>"
        ),
        F.col("text"),
        F.lit(
            "</p><footer>"
            '<a href="/tos">Terms of service and privacy</a>'
            "</footer></body></html>"
        ),
    )
    n_tokens = token_count("text").cast("long")
    n_chars = F.length("text").cast("long")
    n_stop = stopword_count("text").cast("long")
    stop_bp = F.floor(F.lit(10000) * n_stop / n_tokens).cast("long")
    mean_tok_len_dp = F.floor(F.lit(10) * n_chars / n_tokens).cast("long")
    score = (
        F.when(n_tokens.between(20, 1000), F.lit(40)).otherwise(0)
        + F.when(stop_bp.between(200, 6000), F.lit(40)).otherwise(0)
        + F.when(mean_tok_len_dp.between(30, 90), F.lit(20)).otherwise(0)
    ).cast("long")
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        token_count("text").alias("n_tokens"),
        stopword_count("text").alias("n_stopwords"),
        (stopword_count("text").cast("double") / token_count("text")).alias(
            "stop_ratio"
        ),
        predicted_lang("text").alias("predicted_lang"),
        stop_bp.alias("stop_bp"),
        mean_tok_len_dp.alias("mean_tok_len_dp"),
        score.alias("quality_score"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
            )
        ).alias("n_bpe_units"),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)).alias(
            "n_numbers"
        ),
        F.concat_ws(",", F.slice(F.array_sort(hashes), 1, 3)).alias(
            "fingerprint"
        ),
        F.size(hashes).alias("n_windows"),
        pii_email_count(aug).alias("n_emails"),
        pii_ipv4_count(aug).alias("n_ipv4"),
        F.length(redact_pii(aug)).alias("redacted_n_chars"),
        n_lines.alias("n_lines"),
        F.floor(
            F.lit(10000)
            * (n_lines - F.size(F.array_distinct(aug_lines)))
            / n_lines
        )
        .cast("long")
        .alias("dup_line_bp"),
        F.length(extract_main_text(html_aug)).alias("main_n_chars"),
        F.length(normalize_text("text")).alias("norm_n_chars"),
        F.size(main_text_blocks(html_aug)).alias("n_content_blocks"),
    ).join(
        # fh_* columns (round 5): operators.featurehash digest — the
        # hashing-trick vectorizer's per-doc (nnz, l1, checksum) pins
        # the whole signed sparse vector cross-engine without shipping
        # it. A doc whose tokens all cancel keeps 0s via the left join.
        hashed_feature_stats(
            hashed_features(docs, "text", dim=512), id_col="doc_id"
        ),
        "doc_id",
        "left",
    ).select(
        "*",
    ).withColumn(
        "fh_nnz", F.coalesce(F.col("fh_nnz"), F.lit(0)).cast("long")
    ).withColumn(
        "fh_l1", F.coalesce(F.col("fh_l1"), F.lit(0)).cast("long")
    ).withColumn(
        "fh_checksum",
        F.coalesce(F.col("fh_checksum"), F.lit(0)).cast("long"),
    )


def ann_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numpy-kernel brute-force ANN (operators.similarity): identical
    neighbor sets AND round-4 scores to embedding_cosine_topk — the
    fast path runs under the full value oracle via the merged
    ``embedding_cosine_topk`` slot (round 5: slot freed for the SCD2
    family; this callable stays for bench.py and direct use)."""
    from ..operators.similarity import ann_topk_numpy

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_numpy(emb, F.col("vec_id") < 8, k=3)


# --------------------------------------------------------------------------
# Sketch aggregates — fully value-oracled since round 4 by running each
# sketch inside its DOCUMENTED exact regime (the incremental-mart HLL
# precedent, generalized):
# - Datasketches HLL with lgConfigK=21 is exact until its coupon set
#   promotes to the dense array (~2^19 distinct values) — far above any
#   test SF (1,500 distinct users/type at sf0.1) and most per-group
#   cardinalities a mart would sketch; beyond it the estimate carries
#   the configured rsd and the oracle would need a tolerance gate
#   instead. Caveat: sparse/coupon-mode exactness is only
#   collision-free with high probability (two distinct values CAN map
#   to the same coupon), so the query also emits an exact
#   COUNT(DISTINCT) column — if a regenerated corpus ever hits a
#   coupon collision, approx_users mismatches by 1 while exact_users
#   still matches, making the failure a diagnosable off-by-one rather
#   than an opaque hash mismatch. approx_count_distinct (HLL++) is NOT exact at these
#   cardinalities (off by 1 at 150, 7% at 1,500 — measured) and is
#   deliberately not used for the gated column.
# - percentile_approx is the Greenwald-Khanna summary: EXACT while the
#   per-group row count stays <= accuracy (100k here vs <=21k rows per
#   type at sf0.1), and its selected element matches DuckDB's
#   quantile_disc convention (verified at every SF, both percentiles).
# Values follow the money convention (scaled-integer cents) so the only
# floats in the output are parquet-stored elements, never computed.
# --------------------------------------------------------------------------
@REGISTRY.register(
    "sketch_approx_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS approx_users,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(ROUND(quantile_disc(value, 0.5) * 100) AS BIGINT)
             AS value_p50_c,
           CAST(ROUND(quantile_disc(value, 0.95) * 100) AS BIGINT)
             AS value_p95_c,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def sketch_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL + quantile sketches in their exact regime (see block comment).
    Scalar columns only: array-typed results (e.g. percentile_approx
    with a literal list) break canonicalization downstream, so p50/p95
    are emitted as separate scalar columns."""
    from .contracts import require

    e = load_table(spark, sf_dir, "events")
    # LOUD oracle-regime contract (NOTES watch list -> named assert):
    # the exact-COUNT(DISTINCT) / quantile_disc oracle is valid only
    # while every group sits inside both sketches' exact regimes —
    # HLL lgConfigK=21 pre-dense (~5e5 distinct, generous margin) and
    # Greenwald-Khanna accuracy=1e5 (exact while rows <= accuracy).
    regimes = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("nd"),
        F.count(F.lit(1)).alias("n"),
    )
    require(
        regimes,
        (F.max("nd") <= 400_000) & (F.max("n") <= 100_000),
        "sketch_exact_regime_cardinality",
        "a group left the HLL/GK exact regime; the exact-value oracle "
        "no longer applies — switch it to a tolerance gate",
        F.max("nd").alias("max_distinct_users"),
        F.max("n").alias("max_rows_per_type"),
    )
    return e.groupBy("event_type").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(21))
        ).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.round(
            F.percentile_approx("value", 0.5, 100000) * 100
        ).cast("long").alias("value_p50_c"),
        F.round(
            F.percentile_approx("value", 0.95, 100000) * 100
        ).cast("long").alias("value_p95_c"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy on md5(text), first-wins canonical id.
# --------------------------------------------------------------------------
# Driver slot (round 5): both exact-dedup survivorship policies —
# first-wins (the reference's A5 rule) and keep-longest (arg-max) —
# gate through ONE `policy`-tagged union slot with a harmonized
# (group_key, survivor_doc_id, survivor_len, n_copies) schema; the
# freed slot went to the URL-domain curation family. The per-policy
# callables stay for bench.py and direct use.
@REGISTRY.register(
    "dedup_survivorship",
    oracle="""
    WITH fw_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 5 = 0
    ), kl_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, substr(text, 1, 40)
      FROM documents WHERE doc_id % 4 = 0
    ), kl_keyed AS (
      SELECT doc_id, md5(substr(text, 1, 40)) AS group_key,
             length(text) AS text_len
      FROM kl_docs
    )
    SELECT 'first_wins' AS policy,
           md5(text) AS group_key,
           CAST(MIN(doc_id) AS BIGINT) AS survivor_doc_id,
           CAST(MIN(length(text)) AS INTEGER) AS survivor_len,
           COUNT(*) AS n_copies
    FROM fw_docs
    GROUP BY 2
    UNION ALL
    SELECT 'keep_longest' AS policy, group_key,
           CAST(doc_id AS BIGINT) AS survivor_doc_id,
           CAST(text_len AS INTEGER) AS survivor_len,
           COUNT(*) OVER (PARTITION BY group_key) AS n_copies
    FROM kl_keyed
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY group_key ORDER BY text_len DESC, doc_id
    ) = 1
    """,
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    fw = dedup_exact_docs(spark, sf_dir).select(
        F.lit("first_wins").alias("policy"),
        F.col("text_hash").alias("group_key"),
        F.col("canonical_doc_id").alias("survivor_doc_id"),
        F.col("survivor_len"),
        "n_copies",
    )
    kl = dedup_keep_longest(spark, sf_dir).select(
        F.lit("keep_longest").alias("policy"),
        "group_key",
        "survivor_doc_id",
        "survivor_len",
        "n_copies",
    )
    return fw.unionByName(kl)


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return (
        base.unionByName(copies)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.min(F.length("text")).cast("int").alias("survivor_len"),
            F.count("*").alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# Dedup survivorship policy: keep the LONGEST copy per duplicate group
# (arg-max survivorship, vs the reference's first-wins). The windowed
# arg-max is the standard one-shuffle pattern; ties break on doc_id.
# --------------------------------------------------------------------------
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    truncated = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.substring("text", 1, 40).alias("text"),
    )
    keyed = base.unionByName(truncated).select(
        "doc_id",
        F.md5(F.substring("text", 1, 40)).alias("group_key"),
        F.length("text").alias("text_len"),
    )
    w = Window.partitionBy("group_key")
    rank_w = w.orderBy(F.col("text_len").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("n_copies", F.count("*").over(w))
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") == 1)
        .select(
            "group_key",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("text_len").cast("int").alias("survivor_len"),
            "n_copies",
        )
    )


# --------------------------------------------------------------------------
# Near-dedup: MinHash (8 hashes) → LSH banding (4 bands × 2 rows) →
# bucket-size cap → candidate pairs → exact Jaccard verification,
# threshold 0.6 evaluated in integers.
#
# The bucket cap is the skew guard: on a homogeneous/boilerplate corpus a
# single band key can collect a large fraction of all docs (observed: 8M
# candidate pairs at sf0.1 on the uncapped word-soup corpus), and a hot
# bucket is QUADRATIC in its size. Buckets above the cap are skipped —
# work is bounded by cap²·n_buckets regardless of adversarial skew; docs
# in a skipped bucket can still pair through their other bands. Mirrored
# in the oracle: bounded-recall LSH is the operator's contract, and at
# 100 TB you'd log the skipped-bucket count as a data-quality metric
# (duplicate-heavy corpora should be exact-deduped first).
# --------------------------------------------------------------------------
_MINHASH_BUCKET_CAP = 64
#: signature width / rows-per-band of the neardup family's LSH banding
#: (4 bands x 2 rows over 8 hashes) — referenced by name everywhere the
#: banding is (re)built, incl. _minhash_band_relation, so the scale
#: harness can never band with stale parameters.
_MINHASH_HASHES = 8
_MINHASH_BAND_ROWS = 2


def _minhash_band_relation(docs: DataFrame) -> DataFrame:
    """(doc_id, band_key) — exactly the banding relation
    neardup_minhash_pairs buckets on, rebuilt standalone (no persist,
    no cap) for observers: the skew harness' caps-bind guard
    (tests/test_scale_replica.py) counts over-cap buckets on it, and a
    100 TB deployment would log the same relation's bucket-size
    distribution as the skipped-bucket data-quality metric."""
    return (
        docs.select("doc_id", shingles("text").alias("shingles"))
        .select("doc_id", shingle_hashes(F.col("shingles")).alias("sh_h"))
        .select(
            "doc_id",
            *minhash_signature_from_hashes(
                F.col("sh_h"), _MINHASH_HASHES
            ),
        )
        .select(
            "doc_id",
            F.explode(
                F.array(*band_keys(_MINHASH_HASHES, _MINHASH_BAND_ROWS))
            ).alias("band_key"),
        )
    )

_NEARDUP_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' near dup tail marker'
      FROM documents WHERE doc_id % 7 = 0
"""

# Shared oracle fragment (CTE list, expects a preceding `docs` CTE): the
# MinHash→band→cap→candidate→exact-Jaccard-verify chain, ending in a
# `pairs` CTE. Used by both neardup_minhash_pairs and neardup_doc_clusters.
# `sh` and `pairs` are MATERIALIZED: DuckDB inlines a CTE per reference
# by default, and the doc-clusters composite references `pairs` ~10
# times (components walk + pagerank rounds + triangle self-joins) —
# each inline re-running the full md5 shingling. Measured at sf0.01:
# 402 s inlined → 1.6 s materialized, identical rows.
#
# cand_sample_mod (round 8, the oracle-wall strategy for >=60x scale
# validation): when set, the CANDIDATE stage keeps only pairs with
# (doc_a*1000003 + doc_b) % mod = 0 — a deterministic 1/mod sample
# applied BEFORE the exact-Jaccard verify join (the referee's quadratic
# cost on clone-dense corpora), so the oracle wall shrinks by ~mod
# while the engine under test still runs the FULL workload (its output
# is filtered by the same predicate only for the comparison).
#
# The modulus must be COPRIME TO 7·1000004 = 7000028 (round 9, an
# advisor catch plus a self-review catch on the first fix): the
# dominant pairs on the clone-dense corpora this mode targets are
# original↔clone with doc_b = doc_a + 1000000, where the predicate
# collapses to (1000004·doc_a + 1000000) % mod — NOT structure-free.
# 1000004 = 2²·53²·89, so for mod ∈ {2,4} EVERY clone pair passes and
# for any power-of-two mod ≥25% do (the 60x run's mod=16 sampled clone
# pairs at 1/4, not 1/16 — sound but weaker relief than documented).
# The factor 7 matters because clone ANCHORS are restricted to
# doc_id % 7 = 0 (_NEARDUP_DOCS_SQL above): with doc_a ≡ 0 (mod 7) the
# residue (1000004·doc_a + 1000000) % 7 is constantly 1000000 % 7 = 1,
# so any mod divisible by 7 samples ZERO clone pairs — the sampled
# referee would silently skip the structurally dominant family.
# gcd(mod, 7000028) = 1 restores the exact 1/mod rate on clone pairs
# (1000004·a mod m cycles the full residue ring as a ranges over the
# multiples of 7 when gcd(m, 7·1000004) = 1) while arbitrary pairs keep
# 1/mod through the b term. Enforced below; use an odd prime
# ∉ {7, 53, 89} (e.g. 3, 11, 17). Max doc_id at 60x replica scale is
# ~6e8, so the product stays far below 2^63 in both engines.
def _sql_minhash_pairs(cand_sample_mod: int | None = None) -> str:
    if cand_sample_mod and math.gcd(cand_sample_mod, 7000028) != 1:
        raise ValueError(
            f"cand_sample_mod={cand_sample_mod} shares a factor with "
            "7000028 (= 7 * 1000004 = 7 * 2^2 * 53^2 * 89): on "
            "original<->clone pairs (doc_b = doc_a + 1000000, anchors "
            "restricted to doc_id % 7 = 0) the sample predicate "
            "degenerates — factors of 1000004 oversample clone pairs, "
            "a factor of 7 samples ZERO of them — and the documented "
            "1/mod referee relief silently fails. Pick an odd modulus "
            "coprime to 7000028, e.g. 3, 11, or 17."
        )
    sample = (
        f"\n       AND (a.doc_id * 1000003 + b.doc_id) "
        f"% {cand_sample_mod} = 0"
        if cand_sample_mod
        else ""
    )
    return f"""
    sh AS MATERIALIZED (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM docs
    ),
    hashed AS (
      SELECT doc_id, shingles, {_SQL_SH_HASHES} AS sh_h FROM sh
    ),
    sig AS (
      SELECT doc_id, shingles,
             {", ".join(_sql_minhash(j) for j in range(8))}
      FROM hashed
    ),
    banded AS (
      SELECT doc_id, unnest([
        '0|' || CAST(mh_0 AS VARCHAR) || '|' || CAST(mh_1 AS VARCHAR),
        '1|' || CAST(mh_2 AS VARCHAR) || '|' || CAST(mh_3 AS VARCHAR),
        '2|' || CAST(mh_4 AS VARCHAR) || '|' || CAST(mh_5 AS VARCHAR),
        '3|' || CAST(mh_6 AS VARCHAR) || '|' || CAST(mh_7 AS VARCHAR)
      ]) AS band_key
      FROM sig
    ),
    capped AS (
      SELECT * FROM banded
      QUALIFY COUNT(*) OVER (PARTITION BY band_key) <= {_MINHASH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id{sample}
    ),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
               AS inter_n,
             CAST(len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
               AS union_n
      FROM cand
      JOIN sh sa ON sa.doc_id = doc_a
      JOIN sh sb ON sb.doc_id = doc_b
      WHERE 10 * CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
            >= 6 * CAST(len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
    )
"""


_SQL_MINHASH_PAIRS = _sql_minhash_pairs()


def minhash_pairs_oracle_sql(cand_sample_mod: int | None = None) -> str:
    """Complete neardup_minhash_pairs oracle, optionally candidate-
    sampled (see _sql_minhash_pairs). ``None`` reproduces the
    registered oracle exactly."""
    return f"""
    WITH docs AS ({_NEARDUP_DOCS_SQL}),
    {_sql_minhash_pairs(cand_sample_mod)}
    SELECT doc_a, doc_b, inter_n, union_n FROM pairs
    """


def _neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _NEARDUP_DOCS_SQL: corpus + synthesized near-dup
    copies, repartitioned to full parallelism.

    The parquet scan yields O(file-size / maxPartitionBytes) partitions —
    far fewer than the cores for a small-but-CPU-heavy stage like the md5
    signature forest. Repartition to full parallelism first (at cluster
    scale: cores × executors; the shuffle is trivially small next to the
    hash compute it unlocks).
    """
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    near = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup tail marker")).alias("text"),
    )
    return base.unionByName(near).repartition(
        spark.sparkContext.defaultParallelism
    )


@REGISTRY.register(
    "neardup_minhash_pairs",
    oracle=minhash_pairs_oracle_sql(),
)
def neardup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_verified_pairs(_neardup_docs(spark, sf_dir))


def _minhash_verified_pairs(docs: DataFrame) -> DataFrame:
    """MinHash→LSH-band→cap→verify over (doc_id, text): the candidate-
    generation + exact-Jaccard-verify chain shared by the pairs query and
    the cluster-resolution query."""
    # Materialization boundary: without it Catalyst's projection collapse
    # inlines the tokenize→shingle→md5 expression tree into every
    # downstream reference (8 signature components + both sides of the
    # verification join), recomputing the md5 forest ~10×. The boundary
    # sits at the per-shingle BASE hashes (one md5 each); the 8
    # permutations are mult-add-mod over the cached array — cheap enough
    # to recompute per consumer. At cluster scale this stage would be
    # written to a parquet/Delta signature table; in-session, persist()
    # is the same cut.
    sig = (
        docs.select("doc_id", shingles("text").alias("shingles"))
        .select(
            "doc_id",
            "shingles",
            shingle_hashes(F.col("shingles")).alias("sh_h"),
        )
        .persist()
    )
    sh = sig.select("doc_id", "shingles")
    banded = sig.select(
        "doc_id",
        *minhash_signature_from_hashes(F.col("sh_h"), _MINHASH_HASHES),
    ).select(
        "doc_id",
        F.explode(
            F.array(*band_keys(_MINHASH_HASHES, _MINHASH_BAND_ROWS))
        ).alias("band_key"),
    )
    # skew guard (see module comment): super-buckets never reach the join.
    # persist: the capped relation feeds BOTH sides of the self-join —
    # without the boundary the hot-key aggregate + anti-join run twice.
    capped = _skip_hot(banded, ["band_key"], _MINHASH_BUCKET_CAP).persist()
    a, b = capped.alias("a"), capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter_n = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union_n = (
        F.size("sh_a").cast("long") + F.size("sh_b").cast("long") - inter_n
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter_n.alias("inter_n"),
            union_n.alias("union_n"),
        )
        .filter(F.lit(10) * F.col("inter_n") >= F.lit(6) * F.col("union_n"))
    )


# --------------------------------------------------------------------------
# Cluster resolution: the dedup pipeline end-to-end. Pair queries emit
# near-dup EDGES; the actual dedup decision needs per-document CLUSTERS
# (near-duplication is transitive in intent: if A~B and B~C, keep one of
# {A,B,C}). Verified MinHash pairs feed operators.components hash-min
# label propagation; the component's min doc_id is the deterministic
# canonical survivor (first-wins, cf. reference fighters_scraper.py:150).
# Oracle: the same fixpoint as a recursive min-label walk in SQL.
#
# Driver-slot composite since round 4: the same slot value-gates
# operators.semdedup (SemDeDup semantic dedup, Abbas et al. 2023) as the
# 'semdedup' family. The coarse quantizer is CALLER-SUPPLIED literal
# centroids (the production shape — trained once, reused per batch),
# which makes cell assignment a SQL argmin over literal rows (the
# ann_quantized_ivf probe-all trick): assignment distances fold in array
# order on both engines (bit-identical doubles), edges use the same
# >= 0.95-cosine decision (synthesized nudged near-dups sit at cos
# >= 0.995, the corpus's natural max pairwise cosine is 0.60 — verified
# margins, no boundary risk), and group resolution reuses the recursive
# min-label walk. Dups whose nudge crosses a cell boundary pair with
# nothing — SemDeDup's documented recall loss, mirrored exactly.
#
# Round-5 third family, 'pagerank': centrality-based survivor selection
# — the alternative to min-id first-wins when the most-linked copy of a
# near-dup cluster should survive (Common-Crawl-style quality priors).
# The verified pair list becomes a directed graph (min-id → max-id, so
# cluster maxima are dangling and the dangling-mass path is exercised on
# real data); operators.pagerank runs 5 fixed-point rounds (BIGINT floor
# division — bit-identical across engines and partitionings, see that
# module), and `keep` marks the top-rank doc per connected component
# (rank desc, doc_id tiebreak). For this family `n_members` carries the
# fixed-point rank (mass SCALE = 10^12) — the composite schema is shared
# across families, per-family column meaning documented here. Oracle:
# the operator's own unrolled-CTE twin spliced in under a `pg` prefix.
#
# Fourth family, 'triangles': operators.triangles per-node triangle
# participation over the same verified pair graph — triangle-dense
# clusters are true duplicate cliques, triangle-free stars are one
# template touching many near-misses (different cleanup actions).
# `n_members` carries the triangle count; `keep` is NULL (not a
# survivorship family). Oracle: the three-way canonical-edge self-join.
# --------------------------------------------------------------------------
_SEM_DIM = 64
_SEM_K = 4
#: deterministic literal centroids inside the unit ball (embeddings are
#: unit-norm): c[j][i] = ((7i + 13j) mod 19 − 9) / 90 ∈ [−0.1, 0.1].
_SEM_CENTROIDS = [
    [((7 * i + 13 * j) % 19 - 9) / 90.0 for i in range(_SEM_DIM)]
    for j in range(_SEM_K)
]
_SEM_BASE = 800  # vec_id bound: whole table at sf<=0.01, capped at sf0.1

_SQL_SEM_CENTROIDS = ", ".join(
    "({}, [{}])".format(
        j + 1,
        ", ".join(
            f"CAST({(7 * i + 13 * j) % 19 - 9} AS DOUBLE)/90"
            for i in range(_SEM_DIM)
        ),
    )
    for j in range(_SEM_K)
)

_SQL_SEM_BLOCK = f"""
    semv AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {_SEM_BASE}
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(range(1, len(embedding) + 1),
               i -> CASE WHEN i = 1 THEN embedding[i]::DOUBLE + 0.1
                         ELSE embedding[i]::DOUBLE END)
      FROM embeddings WHERE vec_id < {_SEM_BASE} AND vec_id % 5 = 0
      UNION ALL
      SELECT vec_id + 2000000,
             list_transform(range(1, len(embedding) + 1),
               i -> CASE WHEN i = 1 THEN embedding[i]::DOUBLE + 0.2
                         ELSE embedding[i]::DOUBLE END)
      FROM embeddings WHERE vec_id < {_SEM_BASE} AND vec_id % 10 = 0
    ),
    cents AS (
      SELECT * FROM (VALUES {_SQL_SEM_CENTROIDS}) AS t(cell, c)
    ),
    sassign AS (
      SELECT vec_id, cell FROM (
        SELECT s.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
                 list_reduce(list_transform(range(1, len(s.v) + 1),
                   i -> (s.v[i] - c.c[i]) * (s.v[i] - c.c[i])),
                   (a, b) -> a + b), c.cell) AS rn
        FROM semv s, cents c
      ) WHERE rn = 1
    ),
    cellmem AS (
      SELECT a.vec_id, a.cell, s.v
      FROM sassign a JOIN semv s USING (vec_id)
      QUALIFY COUNT(*) OVER (PARTITION BY a.cell) <= 4096
    ),
    sedges AS (
      SELECT a.vec_id AS u, b.vec_id AS w
      FROM cellmem a JOIN cellmem b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE CAST(FLOOR(list_cosine_similarity(a.v, b.v) * 1000000)
                 AS BIGINT) >= 950000
    ),
    ssym AS (
      SELECT u, w FROM sedges UNION ALL SELECT w, u FROM sedges
    ),
    swalk(id, lbl) AS (
      SELECT vec_id, vec_id FROM semv
      UNION
      SELECT s.w, x.lbl FROM swalk x JOIN ssym s ON s.u = x.id
      WHERE x.lbl < s.w
    ),
    slab AS (
      SELECT id AS vec_id, MIN(lbl) AS group_id FROM swalk GROUP BY id
    )"""


_PG_PARTS, _PG_FINAL = pagerank_fixedpoint_cte_parts(
    "SELECT doc_a AS src, doc_b AS dst FROM pairs", iterations=5, prefix="pg"
)
_SQL_PG_BLOCK = ",\n".join(_PG_PARTS)


def doc_clusters_oracle_sql(
    pairs_source: str | None = None, labels_source: str | None = None
) -> str:
    """Complete neardup_doc_clusters oracle. ``pairs_source`` names an
    externally-registered relation (doc_a, doc_b, inter_n, union_n) to
    use as the verified pair table INSTEAD of recomputing the
    MinHash→band→verify chain — the >=60x scale-validation mode where
    the referee consumes the ENGINE's pair output (itself gated by the
    sampled minhash family) and independently recomputes only the graph
    legs (components fixpoint, PageRank rounds, triangles, SemDeDup).

    ``labels_source`` (round 9) names a registered (doc_id, cluster_id)
    relation that replaces the recursive ``walk`` label propagation:
    that CTE's working set is O(component_size^2) and its depth the
    component diameter, so replica corpora whose synthesized near-dups
    chain cliques into large components blow it up (the 100x run
    spilled ~75 GB of DuckDB temp; a measured 600k-node chain never
    terminated — SCALING.md round 9). The scale tier supplies exact
    union-find labels from plans.graph_reference (pure integer work,
    pinned bit-exact against this walk at small SF) and DuckDB still
    recomputes every OTHER leg. ``None``/``None`` reproduces the
    registered full oracle exactly."""
    pairs_cte = (
        _SQL_MINHASH_PAIRS
        if pairs_source is None
        else (
            "\n    pairs AS MATERIALIZED (\n"
            f"      SELECT doc_a, doc_b, inter_n, union_n "
            f"FROM {pairs_source}\n    )\n"
        )
    )
    lab_cte = (
        """sym AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(id, lbl) AS (
      SELECT doc_id, doc_id FROM docs
      UNION
      SELECT s.v, w.lbl FROM walk w JOIN sym s ON s.u = w.id
      WHERE w.lbl < s.v
    ),
    lab AS (
      SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY id
    )"""
        if labels_source is None
        else (
            "lab AS (\n"
            f"      SELECT doc_id, cluster_id FROM {labels_source}\n"
            "    )"
        )
    )
    return f"""
    WITH RECURSIVE docs AS ({_NEARDUP_DOCS_SQL}),
    {pairs_cte},
    {lab_cte},
    {_SQL_SEM_BLOCK},
    {_SQL_PG_BLOCK}
    SELECT 'minhash' AS family, doc_id, CAST(NULL AS INTEGER) AS cell,
           cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
           CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INTEGER)
             AS keep
    FROM lab
    UNION ALL
    SELECT 'semdedup', l.vec_id, CAST(a.cell AS INTEGER), l.group_id,
           COUNT(*) OVER (PARTITION BY l.group_id),
           CAST(CASE WHEN l.vec_id = l.group_id THEN 1 ELSE 0 END
                AS INTEGER)
    FROM slab l JOIN sassign a USING (vec_id)
    UNION ALL
    SELECT 'pagerank', p.node, CAST(NULL AS INTEGER), l.cluster_id,
           p.rank,
           CAST(CASE WHEN ROW_NUMBER() OVER (
                  PARTITION BY l.cluster_id
                  ORDER BY p.rank DESC, p.node) = 1
                THEN 1 ELSE 0 END AS INTEGER)
    FROM {_PG_FINAL} p JOIN lab l ON l.doc_id = p.node
    UNION ALL
    SELECT 'triangles', n.node, CAST(NULL AS INTEGER), l.cluster_id,
           COALESCE(t.n, 0), CAST(NULL AS INTEGER)
    FROM (SELECT doc_a AS node FROM pairs
          UNION SELECT doc_b FROM pairs) n
    JOIN lab l ON l.doc_id = n.node
    LEFT JOIN (
      -- enumerate each triangle ONCE and UNPIVOT its three corners:
      -- DuckDB does not CSE textual copies, so the original three-way
      -- UNION ALL of identical join chains ran the wedge pipeline
      -- three times (measured 3x cheaper at 14.7M pairs / 235M
      -- triangles), and UNPIVOT keeps tri a SINGLE streamed reference
      -- — no materialization, so the referee's temp footprint stays
      -- ~0 where a MATERIALIZED tri spilled ~35 GB on the 100x
      -- replica graph (round-9 refactor, value-identical)
      WITH tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1 JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
      )
      SELECT node, COUNT(*) AS n
      FROM (UNPIVOT tri ON a, b, c INTO NAME corner VALUE node)
      GROUP BY node
    ) t ON t.node = n.node
    """


@REGISTRY.register(
    "neardup_doc_clusters",
    oracle=doc_clusters_oracle_sql(),
)
def neardup_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup, three families in one slot: (1) 'minhash'
    — LSH candidate pairs → exact-Jaccard verify → connected components
    → per-document cluster id + keep/drop; (2) 'semdedup' —
    operators.semdedup with caller-supplied centroids over the
    embeddings table plus deterministic nudged near-dups; (3)
    'pagerank' — operators.pagerank fixed-point centrality over the
    verified pair graph, ``keep`` = top-rank doc per component
    (``n_members`` carries the BIGINT rank for this family).

    ``keep`` is an int (0/1), not boolean — nullable-boolean columns
    cross the two pandas bridges with mismatched NULL reprs (None vs
    NaN); int columns do not (plans/__init__.py conventions).
    """
    from ..operators.components import connected_components
    from ..operators.pagerank import pagerank_fixedpoint
    from ..operators.semdedup import semantic_dedup

    docs = _neardup_docs(spark, sf_dir)
    # the pair set is scanned once per propagation round — materialize it
    # (at cluster scale this is the persisted/written candidate-pair
    # table every real dedup pipeline stages anyway).
    pairs = (
        _minhash_verified_pairs(docs).select("doc_a", "doc_b").persist()
    )
    # persist: three families (minhash rows, pagerank keep, triangles)
    # consume labels; on the small-graph fast path the label relation is
    # otherwise re-derived per consumer, re-evaluating the node leg's
    # document scans each time (round-12 A/B: ~1.2 s per evaluation).
    # Narrow (id, cluster_id) rows — corpus-count-sized, not corpus-
    # byte-sized — the same footprint class as the pair cache above.
    labels = connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id", src="doc_a", dst="doc_b"
    ).persist()
    w = Window.partitionBy("cluster_id")
    minhash_rows = labels.select(
        F.lit("minhash").alias("family"),
        "doc_id",
        F.lit(None).cast("int").alias("cell"),
        "cluster_id",
        F.count("*").over(w).alias("n_members"),
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("keep"),
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _SEM_BASE)
        .select("vec_id", as_double(F.col("embedding")).alias("embedding"))
    )
    # LOUD oracle-regime contract (NOTES watch list -> named assert):
    # the nudged near-dups' cosine margins vs threshold_micro=950000
    # were derived for UNIT-NORM base embeddings; a regenerated corpus
    # with unnormalized vectors must fail here by name, not as an
    # opaque hash flip on keep/drop decisions near the threshold.
    from .contracts import require

    norm2 = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x * x
    )
    require(
        emb.select(norm2.alias("n2")),
        (F.min("n2") > 0.98) & (F.max("n2") < 1.02),
        "semdedup_unit_norm_embeddings",
        "semdedup's nudge margin analysis assumes unit-norm embeddings",
        F.min("n2").alias("min_norm2"),
        F.max("n2").alias("max_norm2"),
    )

    def _nudged(mod: int, offset: int, delta: float) -> DataFrame:
        return emb.filter(F.col("vec_id") % mod == 0).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.expr(
                f"transform(embedding, (x, i) -> "
                f"CASE WHEN i = 0 THEN x + {delta}D ELSE x END)"
            ).alias("embedding"),
        )

    sem_vecs = emb.unionByName(_nudged(5, 1000000, 0.1)).unionByName(
        _nudged(10, 2000000, 0.2)
    )
    cent_df = local_relation(
        spark,
        enumerate(_SEM_CENTROIDS, start=1),
        "cell int, centroid array<double>",
    )
    sem = semantic_dedup(
        sem_vecs, threshold_micro=950_000, centroids=cent_df
    )
    sem_rows = sem.select(
        F.lit("semdedup").alias("family"),
        F.col("vec_id").alias("doc_id"),
        F.col("cell").cast("int").alias("cell"),
        F.col("group_id").alias("cluster_id"),
        F.col("n_members"),
        F.col("keep"),
    )

    ranks = pagerank_fixedpoint(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        iterations=5,
    )
    wr = Window.partitionBy("cluster_id").orderBy(
        F.col("rank").desc(), F.col("doc_id")
    )
    pr_rows = (
        ranks.withColumnRenamed("node", "doc_id")
        .join(labels, "doc_id")
        .select(
            F.lit("pagerank").alias("family"),
            "doc_id",
            F.lit(None).cast("int").alias("cell"),
            "cluster_id",
            F.col("rank").alias("n_members"),
            (F.row_number().over(wr) == 1).cast("int").alias("keep"),
        )
    )

    from ..operators.triangles import triangle_counts

    tri_rows = (
        triangle_counts(pairs, src="doc_a", dst="doc_b")
        .withColumnRenamed("node", "doc_id")
        .join(labels, "doc_id")
        .select(
            F.lit("triangles").alias("family"),
            "doc_id",
            F.lit(None).cast("int").alias("cell"),
            "cluster_id",
            F.col("n_triangles").alias("n_members"),
            F.lit(None).cast("int").alias("keep"),
        )
    )
    return (
        minhash_rows.unionByName(sem_rows)
        .unionByName(pr_rows)
        .unionByName(tri_rows)
    )


# --------------------------------------------------------------------------
# SimHash near-dedup: 64-bit signatures (majority vote over token md5
# bits), banded 4×16 bits for candidates, verified by exact Hamming <= 3.
# Same LSH topology as MinHash banding; SimHash trades shingle sets for a
# constant-size signature — the cheaper signal at 100 TB.
#
# Scale design (the two knobs that decide whether this survives 100 TB):
# - Band width 16 bits = 65,536 buckets/band: an 8-bit band (256 buckets)
#   saturates — every bucket degenerates to ~N/256 members and the
#   candidate join goes quadratic. 16-bit buckets keep expected bucket
#   size ~N/65k per band; widen further (or add bands) as N grows.
# - Bucket-size cap (_SIMHASH_BUCKET_CAP): an adversarial/boilerplate-
#   heavy corpus can still concentrate one band value (think millions of
#   near-identical boilerplate pages); any such super-bucket is SKIPPED
#   rather than joined — candidate work is bounded by cap²·n_buckets
#   regardless of skew. Docs in a skipped bucket can still pair through
#   their other 3 bands. The cap is mirrored in the oracle so the
#   semantics (bounded-recall LSH, not exact) are part of the contract.
# --------------------------------------------------------------------------
_SIMHASH_BUCKET_CAP = 64


@REGISTRY.register(
    "simhash_neardup_pairs",
    oracle=f"""
    WITH docs AS ({_NEARDUP_DOCS_SQL}),
    sig AS (
      SELECT doc_id, {sql_simhash64_int()} AS simhash FROM docs
    ),
    banded AS (
      SELECT doc_id, simhash,
             unnest([0, 1, 2, 3]) AS band_idx
      FROM sig
    ),
    keyed AS (
      SELECT doc_id, simhash, band_idx,
             (simhash >> (16 * band_idx)) & 65535 AS band_val
      FROM banded
    ),
    capped AS (
      SELECT * FROM keyed
      QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val)
              <= {_SIMHASH_BUCKET_CAP}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM capped a JOIN capped b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    near = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup tail marker")).alias("text"),
    )
    docs = base.unionByName(near).repartition(
        spark.sparkContext.defaultParallelism
    )
    # two persist boundaries: (1) hash each token once — the 64 bit-vote
    # aggregates all reference the md5 array and would otherwise each
    # recompute it; (2) stop projection collapse from inlining the votes
    # into the band keys and both join sides (cf. MinHash note).
    hashed = docs.select(
        "doc_id", token_hashes("text").alias("hashes")
    ).persist()
    sig = hashed.select(
        "doc_id",
        simhash64_from_hashes(F.col("hashes")).alias("simhash"),
    ).persist()
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band_idx"),
    ).withColumn(
        "band_val", F.expr("shiftright(simhash, 16 * band_idx) & 65535")
    )
    # skew guard: an aggregate finds over-cap buckets, a broadcast
    # anti-join drops their members before the self-join. persist: the
    # capped relation feeds both self-join sides (cf. MinHash note).
    capped = _skip_hot(
        banded, ["band_idx", "band_val"], _SIMHASH_BUCKET_CAP
    ).persist()
    a, b = capped.alias("a"), capped.alias("b")
    # candidates stay duplicated across bands until AFTER the cheap
    # xor/popcount filter — distinct on the filtered survivors is ~15×
    # smaller than distinct on the raw candidate set.
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# --------------------------------------------------------------------------
# IVF-style ANN: the `label` column acts as the coarse-quantizer cell
# (at scale: k-means centroid assignment written at ingest). Search only
# the query's own cell — candidate set shrinks by ~|cells|× vs brute
# force, the standard IVF trade.
#
# Driver-slot composite (the registry is capped at 50 — NOTES.md): the
# same slot also value-gates operators.mining.mine_contrastive_pairs in
# its probe-all configuration — with n_probe >= n_cells the kmeans cell
# restriction is a no-op and mining is EXACT brute force, so its per-
# anchor positive/negative rankings are fully SQL-expressible. Rows are
# tagged by `family` ('ivf' | 'mine' | 'graph'); `grp` is the IVF cell,
# the mined side (1 = positive, 0 = hard negative), resp. the graph
# hit's integer micro score ROUND(score_r4·1e4). The mine ranking
# orders by FLOOR(cos·1e6) (the operator's partition-order-invariant
# integer micro score) with the id tie-break, mirrored in the oracle.
#
# 'graph' (round 7) value-gates the graph-ANN leg end-to-end THROUGH
# THE PERSISTED INDEX: a full NN-Descent build (k=6, 3 descent rounds
# — init, neighbor-of-neighbor expansion, exploration permutation,
# rescoring, top-k all exercised; incremental new-flag expansion, the
# production build path) materialized via build_knn_graph_index, then
# a batched beam search served from the stored relations
# (graph_search_indexed: 8 queries, hops=3, beam=8, k=3). Build and
# search are deterministic relational programs, so the oracle is the
# unrolled-CTE chain from operators.nndescent.knn_graph_cte_parts /
# graph_search_cte_parts (the pagerank_fixedpoint_cte_parts
# precedent) — and the driver hash therefore also covers the index
# write + read-back, the mart slot's write-path-in-the-gate pattern.
# Round 8 pushed the gated build from its round-7 toy corner
# (k=4/rounds=2/hops=2) to production-shaped parameters: three descent
# rounds exercise a second neighbor-of-neighbor expansion over an
# already-improved graph (the regime where the incremental new-flag
# cut actually prunes), and hops=3 makes the beam revisit-filter do
# real work (a 2-hop walk rarely re-reaches a visited node; a 3-hop
# walk almost always does).
# --------------------------------------------------------------------------
_GANN_K, _GANN_ROUNDS = 6, 3
_GANN_SEARCH = dict(k=3, beam=8, hops=3)
_GANN_PARTS, _GANN_GRAPH = knn_graph_cte_parts(
    "SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings",
    k=_GANN_K,
    rounds=_GANN_ROUNDS,
    prefix="ga",
)
_GSRCH_PARTS, _GSRCH_OUT = graph_search_cte_parts(
    _GANN_GRAPH,
    "gavec",
    "SELECT vec_id AS qid FROM embeddings WHERE vec_id < 8",
    prefix="gq",
    **_GANN_SEARCH,
)
_GANN_WITH = "WITH " + ",\n".join(_GANN_PARTS + _GSRCH_PARTS)


@REGISTRY.register(
    "ann_ivf_label_topk",
    oracle=f"""
    {_GANN_WITH}
    SELECT query_id, neighbor_id, 'ivf' AS family,
           CAST(cell AS INTEGER) AS grp, rank
    FROM (
      SELECT q.vec_id AS query_id,
             c.vec_id AS neighbor_id,
             c.label AS cell,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                               c.embedding::DOUBLE[]) DESC,
                        c.vec_id
             ) AS INTEGER) AS rank
      FROM embeddings q
      JOIN embeddings c ON c.label = q.label AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 8
    )
    WHERE rank <= 3
    UNION ALL
    SELECT anchor_id, neighbor_id, 'mine' AS family, is_positive, rank
    FROM (
      SELECT q.vec_id AS anchor_id,
             c.vec_id AS neighbor_id,
             CAST(q.label = c.label AS INTEGER) AS is_positive,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id, (q.label = c.label)
               ORDER BY FLOOR(list_cosine_similarity(
                 q.embedding::DOUBLE[], c.embedding::DOUBLE[]
               ) * 1000000) DESC, c.vec_id
             ) AS INTEGER) AS rank
      FROM embeddings q
      JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 6
    )
    WHERE (is_positive = 1 AND rank <= 2)
       OR (is_positive = 0 AND rank <= 3)
    UNION ALL
    SELECT query_id, neighbor_id, 'graph' AS family,
           CAST(ROUND(score_r4 * 10000, 0) AS INTEGER) AS grp, rank
    FROM {_GSRCH_OUT}
    """,
)
def ann_ivf_label_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mining import mine_contrastive_pairs
    from ..operators.nndescent import (
        build_knn_graph_index,
        graph_search_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        as_double(F.col("embedding")).alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("cell"),
        as_double(F.col("embedding")).alias("cv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    ivf = (
        F.broadcast(q)
        .join(
            c,
            (F.col("q_label") == F.col("cell"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.lit("ivf").alias("family"),
            F.col("cell").cast("int").alias("grp"),
            "rank",
        )
    )
    mined = mine_contrastive_pairs(
        emb,
        F.col("vec_id") < 6,
        k_pos=2,
        k_neg=3,
        n_cells=4,
        n_probe=4,  # probe-all: exact, oracle-expressible
    ).select(
        F.col("anchor_id").alias("query_id"),
        "neighbor_id",
        F.lit("mine").alias("family"),
        F.col("is_positive").alias("grp"),
        "rank",
    )
    # 'graph' family through the persisted index (comment block above;
    # constants shared with the oracle CTE chain via _GANN_*).
    # build_knn_graph_index releases the build's checkpoint blocks
    # itself once the parquet lands; the ≤ 24-row indexed search result
    # is materialized with an eager localCheckpoint so the temp index
    # can be deleted before returning. The checkpoint blocks are
    # reclaimed by Spark's ContextCleaner once the returned DataFrame
    # is garbage-collected, so repeated bench/driver invocations do not
    # accumulate them for the session lifetime. Accepted trade for a
    # <= 24-row relation: localCheckpoint blocks are NOT recomputable
    # after the index directory is removed, so on a multi-executor
    # cluster an executor loss between here and the consumer's action
    # fails the query instead of recomputing (a real deployment keeps
    # the index until the results are consumed, or persists them to a
    # table).
    import shutil
    import tempfile

    idx_root = tempfile.mkdtemp(prefix="graft_gann_idx_")
    try:
        build_knn_graph_index(
            emb.select("vec_id", "embedding"),
            idx_root,
            k=_GANN_K,
            rounds=_GANN_ROUNDS,
        )
        hits = graph_search_indexed(
            spark, idx_root, F.col("vec_id") < 8, **_GANN_SEARCH
        ).select(
            "query_id",
            "neighbor_id",
            F.lit("graph").alias("family"),
            F.round(F.col("score_r4") * 10000, 0).cast("int").alias("grp"),
            "rank",
        )
        hits = hits.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)
    return ivf.unionByName(mined).unionByName(hits)


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs: threshold join blocked by the
# coarse cell (label) — the embedding-space member of the dedup family.
# Blocking bounds the pair space to sum(|cell|²) instead of N²; at scale
# the cell comes from a k-means/IVF assignment written at ingest.
# --------------------------------------------------------------------------
@REGISTRY.register(
    "neardup_embedding_cosine_pairs",
    oracle="""
    WITH vecs0 AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS embedding FROM embeddings
      UNION ALL
      -- synthesized near-dups (the corpus has none): one dimension nudged
      SELECT vec_id + 1000000, label,
             list_transform(range(1, len(embedding) + 1),
               i -> CASE WHEN i = 1 THEN embedding[i]::DOUBLE + 0.5
                         ELSE embedding[i]::DOUBLE END)
      FROM embeddings WHERE vec_id % 9 = 0
    ), vecs AS (
      SELECT * FROM vecs0
      QUALIFY COUNT(*) OVER (PARTITION BY label) <= 1024
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS cell,
           ROUND(list_cosine_similarity(a.embedding, b.embedding), 4)
             AS cosine_r4
    FROM vecs a
    JOIN vecs b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.8
    """,
)
def neardup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("embedding")
    )
    nudged = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        "label",
        F.expr(
            "transform(embedding, (x, i) -> "
            "CASE WHEN i = 0 THEN x + 0.5D ELSE x END)"
        ).alias("embedding"),
    )
    # cell cap (cf. _BLOCK_CAP note on ngram_jaccard_pairs): the label
    # blocking is O(|cell|²); a degenerate cell is skipped, not joined.
    # persist: feeds both self-join sides (cf. the MinHash capped note).
    vecs = _skip_hot(emb.unionByName(nudged), ["label"], 1024).persist()
    a = vecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("cell"),
        F.col("embedding").alias("va"),
    )
    b = vecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("cell_b"),
        F.col("embedding").alias("vb"),
    )
    return (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.8)
        .select(
            "vec_a",
            "vec_b",
            "cell",
            F.round(F.col("cos"), 4).alias("cosine_r4"),
        )
    )


# --------------------------------------------------------------------------
# Character-n-gram Jaccard similarity join: exact 4-gram set overlap,
# blocked by (lang, length bucket) — the non-hashed member of the dedup
# family (useful when recall must be exact within a blocking key).
# Threshold evaluated in integers: jaccard >= 1/3 <=> 3*|∩| >= |∪|.
#
# Cost envelope — read before reaching for this at scale: the join is
# O(sum over blocks of |block|²) with a per-pair cost of an
# array_intersect over the gram sets. The (lang × 100-char) blocking is
# COARSE: at 100 TB a single block holds millions of docs and the block
# self-join is intractable. This operator is the exact-verify member of
# the family — run it only on candidate pairs produced by
# neardup_minhash_pairs / simhash_neardup_pairs (LSH prunes the pair
# space to near-linear), or tighten blocking to a near-unique key first.
# As a standalone scan it is appropriate only for bounded corpora.
# Like the LSH family, blocks above _BLOCK_CAP are skipped outright
# (mirrored in the oracle) so an adversarial block cannot go quadratic —
# the cap (1024) sits above every block in the test corpora (max ~451 at
# sf0.1), so it is purely a skew guard, not a work reducer; at 100 TB
# feed this operator LSH candidates instead of raw blocks —
# neardup_doc_clusters demonstrates exactly that composition (LSH
# candidates → exact set-overlap verify → clusters) end-to-end.
# --------------------------------------------------------------------------
_BLOCK_CAP = 1024
_SQL_CHAR_GRAMS = (
    "list_distinct(list_transform(range(1, greatest(length(text) - 2, 2)), "
    "i -> substr(text, i, 4)))"
)


@REGISTRY.register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH g0 AS (
      SELECT doc_id, lang,
             CAST(length(text) // 100 AS INTEGER) AS len_bucket,
             {_SQL_CHAR_GRAMS} AS grams
      FROM documents
    ), g AS (
      SELECT * FROM g0
      QUALIFY COUNT(*) OVER (PARTITION BY lang, len_bucket)
              <= {_BLOCK_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter_n,
           CAST(len(a.grams) + len(b.grams)
                - len(list_intersect(a.grams, b.grams)) AS BIGINT) AS union_n
    FROM g a
    JOIN g b ON a.lang = b.lang AND a.len_bucket = b.len_bucket
            AND a.doc_id < b.doc_id
    WHERE 3 * CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT)
          >= CAST(len(a.grams) + len(b.grams)
             - len(list_intersect(a.grams, b.grams)) AS BIGINT)
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(text) - 3, 1)), "
            "i -> substr(text, i, 4))"
        )
    )
    g = _skip_hot(
        docs.select(
            "doc_id",
            "lang",
            (F.length("text").cast("int") / 100)
            .cast("int")
            .alias("len_bucket"),
            grams.alias("grams"),
        ),
        ["lang", "len_bucket"],
        _BLOCK_CAP,
    ).persist()
    a = g.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "len_bucket",
        F.col("grams").alias("ga"),
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("len_bucket").alias("len_bucket_b"),
        F.col("grams").alias("gb"),
    )
    inter_n = F.size(F.array_intersect("ga", "gb")).cast("long")
    union_n = F.size("ga").cast("long") + F.size("gb").cast("long") - inter_n
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("len_bucket") == F.col("len_bucket_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            inter_n.alias("inter_n"),
            union_n.alias("union_n"),
        )
        .filter(F.lit(3) * F.col("inter_n") >= F.col("union_n"))
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH for cosine (SimHash-for-vectors): bucket bit j is
# sign(dot(v, plane_j)). Planes are corpus-sampled directions (vec_id
# 100..107) — data-dependent LSH that both engines derive from the table
# itself, no literal-coefficient round-trip. Candidate pairs verified by
# exact cosine >= 0.8 over synthesized near-dup copies.
#
# MULTIPROBE: each vector also probes the 8 buckets one bit-flip away
# (bucket-space Hamming <= 1). Single-probe recall loses any near-dup
# pair a single plane happens to split (probability angle/pi per plane);
# probing the 1-flip neighborhood recovers exactly those pairs at 9x
# candidate cost — the standard recall/cost dial, far cheaper than more
# tables (measured at sf0.01: 13 -> 42 of the 56 ground-truth cos>=0.8
# pairs, 23% -> 75% recall). Each (a,b) pair matches at most one probe
# value (the probe set is distinct), so no dedup pass is needed.
# --------------------------------------------------------------------------
@REGISTRY.register(
    "ann_rp_lsh_pairs",
    oracle="""
    WITH planes AS (
      SELECT vec_id - 100 AS pid, embedding::DOUBLE[] AS p
      FROM embeddings WHERE vec_id BETWEEN 100 AND 107
    ), vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(range(1, len(embedding) + 1),
               i -> CASE WHEN i = 1 THEN embedding[i]::DOUBLE + 0.5
                         ELSE embedding[i]::DOUBLE END)
      FROM embeddings WHERE vec_id % 9 = 0
    ), bucketed AS (
      SELECT vec_id, v,
             CAST(SUM(CASE WHEN list_dot_product(v, p) > 0
                  THEN CAST(pow(2, pid) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM vecs CROSS JOIN planes
      GROUP BY vec_id, v
    ), probed AS (
      SELECT vec_id, v, bucket,
             unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
                     xor(bucket, 8), xor(bucket, 16), xor(bucket, 32),
                     xor(bucket, 64), xor(bucket, 128)]) AS probe
      FROM bucketed
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, b.bucket,
           ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine_r4
    FROM probed a JOIN bucketed b
      ON a.probe = b.bucket AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.8
    """,
)
def ann_rp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    nudged = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 9 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> "
                "CASE WHEN i = 0 THEN CAST(x AS DOUBLE) + 0.5D "
                "ELSE CAST(x AS DOUBLE) END)"
            ).alias("v"),
        )
    )
    vecs = emb.unionByName(nudged)
    planes = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").between(100, 107))
        .select(
            (F.col("vec_id") - 100).alias("pid"),
            as_double(F.col("embedding")).alias("p"),
        )
    )
    bucketed = (
        vecs.crossJoin(F.broadcast(planes))
        .withColumn(
            "bit",
            F.when(
                dot(F.col("v"), F.col("p")) > 0,
                F.pow(F.lit(2.0), F.col("pid")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("vec_id")
        .agg(F.sum("bit").alias("bucket"), F.first("v").alias("v"))
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(8)],
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"),
        F.explode(probes).alias("probe"),
        F.col("v").alias("va"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("bucket"),
        F.col("v").alias("vb"),
    )
    return (
        a.join(
            b,
            (F.col("probe") == F.col("bucket"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.8)
        .select(
            "vec_a",
            "vec_b",
            "bucket",
            F.round(F.col("cos"), 4).alias("cosine_r4"),
        )
    )


# --------------------------------------------------------------------------
# Similarity search baseline: brute-force cosine top-k for a small query
# set — broadcast(queries) × scan(corpus), rank via per-query window.
#
# Driver slot (round 5): the HOF-expression path and the numpy-kernel
# path (ann_topk_fast) produce identical neighbor sets AND round-4
# scores, so ONE slot gates BOTH implementations via a `path`-tagged
# union — the oracle cross-joins the shared result against the two
# path labels. The BLAS kernel's normalize-then-dot differs from the
# SQL dot/(|a||b|) only at ~1e-14, which round-4 absorbs — verified
# exact at sf0.001/0.01/0.1. If a future testdata regeneration lands a
# score on a 5e-5 rounding boundary, demote the numpy leg to rows-only.
# --------------------------------------------------------------------------
@REGISTRY.register(
    "embedding_cosine_topk",
    oracle="""
    SELECT p.path, r.query_id, r.neighbor_id, r.rank, r.score_r4
    FROM (
      SELECT * FROM (
        SELECT q.vec_id AS query_id,
               c.vec_id AS neighbor_id,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]) DESC,
                          c.vec_id
               ) AS INTEGER) AS rank,
               ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                                            c.embedding::DOUBLE[]), 4)
                 AS score_r4
        FROM embeddings q
        JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8
      ) WHERE rank <= 3
    ) r
    CROSS JOIN (VALUES ('hof'), ('numpy')) AS p(path)
    """,
)
def embedding_cosine_topk_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hof = embedding_cosine_topk(spark, sf_dir).select(
        F.lit("hof").alias("path"),
        "query_id",
        "neighbor_id",
        "rank",
        F.col("cosine_r4").alias("score_r4"),
    )
    fast = ann_topk_fast(spark, sf_dir).select(
        F.lit("numpy").alias("path"),
        "query_id",
        "neighbor_id",
        "rank",
        "score_r4",
    )
    return hof.unionByName(fast)


def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("query_id"),
            as_double(F.col("embedding")).alias("qv"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("cv"),
    )
    cos = cosine(F.col("qv"), F.col("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("cos"), 4).alias("cosine_r4"),
        )
    )


# --------------------------------------------------------------------------
# Span-level ExactSubstr dedup under the driver gate (operators.spans):
# per-document redaction stats over maximal repeated-5-shingle spans.
# Like every dedup query, the cross-document duplication is synthesized
# in-query (identical CTE both engines): docs with doc_id % 10 == 0 get
# a shared boilerplate tail, which becomes a flagged span in each. The
# oracle rebuilds the full pipeline — windows, >= 2-distinct-doc filter,
# gap-and-islands merge — on the shingle STRINGS (the operator hashes
# them with xxhash64; equal grouping modulo 64-bit collisions).
# --------------------------------------------------------------------------
_SPAN_BOILER = (
    " standard disclaimer the contents of this document are provided"
    " as is without warranty of any kind"
)


@REGISTRY.register(
    "span_redaction_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 10 = 0 THEN '{_SPAN_BOILER}'
                          ELSE '' END AS text
      FROM documents
    ),
    t AS MATERIALIZED (SELECT doc_id, {_SQL_TOKS} AS toks FROM d),
    w AS MATERIALIZED (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(
               toks[CAST(i + 1 AS INT):CAST(i + 5 AS INT)], ' ') AS sh
      FROM t, UNNEST(range(0, greatest(len(toks) - 4, 0))) AS u(i)
    ),
    dup AS (
      SELECT sh FROM w GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    fl AS (SELECT doc_id, pos FROM w JOIN dup USING (sh)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                    OR pos > lag(pos) OVER (
                         PARTITION BY doc_id ORDER BY pos) + 5
                  THEN 1 ELSE 0 END AS ns
      FROM fl
    ),
    sp AS (
      SELECT doc_id, pos,
             SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM isl
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 5 AS e
      FROM sp GROUP BY doc_id, sid
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(10000 * COALESCE(dup_tokens, 0) // len(toks) AS BIGINT)
             AS dup_bp
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def span_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spans import duplicate_spans, span_stats

    # fan_out: the shingle-hash explode is expression-dense and this
    # plan has no repartition of its own (round-10 A/B: -28% at sf0.1)
    base = load_table(spark, sf_dir, "documents", fan_out=True).select(
        "doc_id", "text"
    )
    aug = base.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 10 == 0, F.lit(_SPAN_BOILER)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    spans = duplicate_spans(aug, k=5)
    return span_stats(aug, spans)


# --------------------------------------------------------------------------
# The full quantized ANN layout under the driver gate: k-means IVF cells
# (operators.kmeans, deterministic Lloyd) over int8 codes
# (operators.quantize), probed top-k with exact-integer scoring. Probing
# ALL cells makes the IVF result equal quantized brute force — giving
# this engine-heavy path a complete value oracle (the partial-probe
# recall contract is pinned separately in tests/test_quantize.py). All
# arithmetic after quantization is exact: int8 products summed as
# integers (< 2^53, exact in DuckDB's double dot), one final
# floor(1e6 · cos) — bit-identical across engines.
# --------------------------------------------------------------------------
@REGISTRY.register(
    "ann_quantized_ivf",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, e,
             CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0
                  THEN list_max(list_transform(e, x -> abs(x))) / 127.0
                  ELSE 1.0 END AS qscale
      FROM v
    ),
    q AS (
      SELECT vec_id,
             list_transform(e, x -> CAST(floor(x / qscale + 0.5) AS DOUBLE))
               AS qv
      FROM s
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.qv, b.qv) AS dot,
             list_dot_product(a.qv, a.qv) AS na,
             list_dot_product(b.qv, b.qv) AS nb
      FROM q a, q b
      WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id,
           CAST(FLOOR(1e6 * dot / (sqrt(na) * sqrt(nb))) AS BIGINT)
             AS qcos_micro
    FROM pairs
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY qcos_micro DESC, neighbor_id) <= 5
    """,
)
def ann_quantized_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import quantized_ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_ivf_topk(
        emb,
        query_filter=F.col("vec_id") < 8,
        k=5,
        n_cells=4,
        n_probe=4,
        kmeans_iters=2,
    )
