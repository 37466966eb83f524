"""Text-analysis column expressions for the documents table.

All pure built-in expressions (JVM-side, whole-stage-codegen friendly) —
no Python UDFs anywhere in this module. That keeps the 100 TB path vector-
ized: tokenization, shingling, MinHash, and quality scoring all run inside
codegen over the parquet scan with zero Python crossings.

MinHash design: the usual implementation draws random hash permutations;
to make signatures exactly reproducible across engines (the DuckDB oracle
must agree bit-for-bit) each shingle is hashed ONCE (first 8 hex chars of
its md5 as a 32-bit int — both engines parse hex identically) and each
permutation ``j`` is the Carter–Wegman universal hash ``(a_j * h + b_j)
mod P`` over that int, with ``P`` the smallest prime above 2**32 and
fixed ``a_j < 2**30`` so the product stays inside a signed 64-bit int in
both engines' exact-integer arithmetic. The signature component is the
minimum over shingles. This costs ONE md5 per shingle instead of one per
(shingle, permutation) — an 8× cut of the dominant hashing work — while
staying a valid min-wise family, deterministic everywhere md5 exists.
Banding pairs (bands of rows) follow Broder/LSH convention: docs sharing
any band key become candidate pairs, verified with exact Jaccard.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: stopword marker sets for the tiny n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "y", "los", "es"),
}

ENGLISH_STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "to", "in")


def let1(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``value`` ONCE per row and
    pass it to ``body`` as a lambda variable.

    Higher-order-function lambdas re-evaluate any OUTER expression they
    reference once per array element (subexpression elimination does not
    cross lambda scope) — ``transform(sequence(...), i -> split(text)[i])``
    runs the regex split t times per row, O(t²) total. Wrapping the
    expensive expression as the element of a one-element array binds it:
    ``transform(array(v), x -> body(x))[0]`` evaluates ``v`` once (it is
    an ARGUMENT of the transform, not lambda-body content) and every
    reference to ``x`` inside ``body`` — including nested lambdas — is a
    free variable read."""
    return F.get(F.transform(F.array(value), body), 0)


def token_grams(toks: Column, k: int, n: Column | None = None) -> Column:
    """Word ``k``-gram strings (space-joined) from a token-array column.

    ``toks`` should be a cheap reference (lambda variable via
    :func:`let1`, or a materialized column) — it is referenced O(k)
    times per ROW here (zip of k shifted slices), never per element.
    Only valid when ``size(toks) >= k``; callers guard with ``when``.
    """
    n = F.size(toks) if n is None else n
    grams = toks
    for off in range(1, k):
        grams = F.zip_with(
            grams,
            F.slice(toks, off + 1, n - off),
            lambda g, t: F.concat(g, F.lit(" "), t),
        )
    # zip_with null-pads the k-1 tail slots where the shifted view ran
    # out; slice to the n-k+1 complete grams.
    return F.slice(grams, 1, n - k + 1)


def tokens(text: str | Column = "text") -> Column:
    """Whitespace tokenization (regex split, matching the oracle's
    ``string_split_regex(text, '\\s+')``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, r"\s+")


def token_count(text: str | Column = "text") -> Column:
    return F.size(tokens(text))


def stopword_count(
    text: str | Column = "text", stopwords: tuple[str, ...] = ENGLISH_STOPWORDS
) -> Column:
    """Number of tokens that are stopwords (built-in filter lambda)."""
    stop_arr = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(stop_arr, t)))


def marker_score(text: str | Column, lang: str) -> Column:
    return stopword_count(text, LANG_MARKERS[lang])


def predicted_lang(text: str | Column = "text") -> Column:
    """Argmax of marker counts with deterministic precedence (en, de, fr,
    es) on ties; 'und' (undetermined) when no marker hits at all."""
    scores = [(lang, marker_score(text, lang)) for lang in LANG_MARKERS]
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    expr = F.lit("und")
    # build when-chain in reverse so earlier langs take precedence on ties
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def shingles(text: str | Column = "text", k: int = 3) -> Column:
    """Distinct word ``k``-grams; whole text as single shingle when the
    document is shorter than ``k`` tokens.

    The token split is :func:`let1`-bound (ONE regex split per row) and
    the grams come from :func:`token_grams` — never an index lambda
    ``transform(sequence(...), i -> toks[i] ...)``, whose body
    re-evaluates the outer split per ELEMENT (expression-level cousin of
    the generate-sibling trap): with ``t`` tokens that costs k·t regex
    splits per row, O(t²) work that dominated every shingle consumer."""
    c = F.col(text) if isinstance(text, str) else text
    return let1(
        tokens(text),
        lambda toks: F.array_distinct(
            F.when(
                F.size(toks) >= k, token_grams(toks, k)
            ).otherwise(F.array(c))
        ),
    )


# --------------------------------------------------------------------------
# PII detection / redaction (LLM-training-data scrubbing pass).
#
# Patterns deliberately contain NO capture groups so group-0 semantics are
# identical across engines (Spark regexp_extract_all needs an explicit
# idx=0; DuckDB/RE2 returns the full match by default), and stick to the
# regex subset Java and RE2 share (\b, \d, character classes, {m,n}).
# --------------------------------------------------------------------------

#: email-shaped spans (practical scrubbing pattern, not RFC 5322).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
#: dotted-quad IPv4-shaped spans (no octet range check — scrubbing recall
#: beats precision for PII removal).
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_email_count(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0))


def pii_ipv4_count(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(IPV4_RE), 0))


def redact_pii(text: str | Column = "text") -> Column:
    """Mask email then IPv4 spans with fixed placeholder tokens.

    Order matters and is part of the contract: emails are masked first so
    a dotted hostname inside an already-masked email can't be re-matched
    by the IPv4 pass. Pure ``regexp_replace`` — JVM-side, codegen-
    friendly, linear per row; the 100 TB scrubbing pass is exactly this
    expression over the scan (SQL twin: :func:`sql_redact_pii`, DuckDB
    needs the ``'g'`` flag Spark implies)."""
    c = F.col(text) if isinstance(text, str) else text
    masked = F.regexp_replace(c, EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(masked, IPV4_RE, "[IP]")


def sql_redact_pii(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`redact_pii` (global-replace flag required)."""
    return (
        f"regexp_replace(regexp_replace({text_expr}, "
        f"'{EMAIL_RE}', '[EMAIL]', 'g'), '{IPV4_RE}', '[IP]', 'g')"
    )


#: Carter–Wegman permutation constants (see module docstring). P is the
#: smallest prime > 2**32; every a_j < 2**30 keeps a_j*h < 2**62 (exact
#: in signed 64-bit on both engines). Fixed arbitrary odd constants —
#: the family only needs a_j != 0 mod P and determinism.
MINHASH_PRIME = 4_294_967_311
MINHASH_A = (
    961_748_941, 982_451_653, 899_809_363, 824_633_789,
    715_827_883, 632_716_763, 543_218_461, 460_915_741,
)
MINHASH_B = (
    154_858_639, 275_604_541, 386_910_137, 472_882_049,
    533_000_401, 617_986_447, 703_928_643, 858_599_509,
)


def shingle_hash32(s: Column) -> Column:
    """First 8 hex chars of md5 as a 32-bit int — the one-per-shingle
    base hash (SQL twin: ``('0x' || substr(md5(s),1,8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def shingle_hashes(shingle_col: Column) -> Column:
    """md5-derived 32-bit int per shingle. Materialize this column
    (persist / write) before fanning out into the permutations: each
    ``mh_j`` references it, and without a boundary Catalyst inlines the
    md5 transform into all of them (n_hashes× the hashing cost)."""
    return F.transform(shingle_col, shingle_hash32)


def minhash_from_hashes(hash_col: Column, j: int) -> Column:
    """Component ``j`` over a precomputed 32-bit-hash array."""
    a, b = MINHASH_A[j], MINHASH_B[j]
    return F.array_min(
        F.transform(
            hash_col,
            lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME),
        )
    )


def minhash(shingle_col: Column, j: int) -> Column:
    """Component ``j`` of the MinHash signature (see module docstring).

    Convenience form that re-derives the base hashes inline; hot paths
    should materialize :func:`shingle_hashes` once and use
    :func:`minhash_signature_from_hashes`."""
    return minhash_from_hashes(shingle_hashes(shingle_col), j)


def minhash_signature_from_hashes(
    hash_col: Column, n_hashes: int = 8
) -> list[Column]:
    """Signature columns over a materialized :func:`shingle_hashes`
    array — the one-md5-per-shingle fast path."""
    return [
        minhash_from_hashes(hash_col, j).alias(f"mh_{j}")
        for j in range(n_hashes)
    ]


def token_hashes(text: str | Column = "text") -> Column:
    """md5 per token — the shared input of the SimHash bit votes.

    Materialize this column (persist / write) before fanning out into
    :func:`simhash64_from_hashes` and its consumers: each expression that
    references it would otherwise get the md5 transform inlined by
    Catalyst (one hashing pass per reference).
    """
    return F.transform(tokens(text), lambda t: F.md5(t))


def simhash64_from_hashes(hashes: Column) -> Column:
    """64-bit SimHash packed into a signed BIGINT from a precomputed
    md5-per-token array.

    Uses all 4 bits of each of the first 16 hex nibbles (a form that used
    only the high bit of 32 nibbles would cap at 32 bits — too narrow for
    banding at scale: 8-bit bands give 256 buckets/band and saturate
    immediately). Bit ``i`` (i=0 is the MSB, bit 63) is the
    majority vote over tokens of bit ``3 - i%4`` of nibble ``i//4``.
    Bit 63 is applied as ``-(2**63)`` so the sum never overflows the
    signed 64-bit range; Hamming stays a single ``bit_count(xor())`` on
    the two's-complement value.

    Single-pass shape: one aggregate() over the token array carrying a
    64-element vote-counter array (zip_with add), with each token's ±1
    contributions derived once per token. The naive per-bit form — 64
    independent aggregates, each re-decoding hex per token — is ~4×
    slower and was the hot spot of the near-dup bench. Per-token votes
    come from a 16-entry literal map (hex char → its 4-vote array):
    one element_at per nibble instead of an ascii decode + 4
    conditionals — measured ~14% off the signature stage vs the
    decode-and-branch form (round 5; equality verified before the
    swap).
    """
    vote_entries: list[Column] = []
    for ch in "0123456789abcdef":
        v = int(ch, 16)
        vote_entries.append(F.lit(ch))
        vote_entries.append(
            F.array(
                *[F.lit(1 if (v >> s) & 1 else -1) for s in (3, 2, 1, 0)]
            )
        )
    votes_by_nibble = F.create_map(*vote_entries)

    def token_votes(h: Column) -> Column:
        chars = F.split(F.substring(h, 1, 16), "")
        return F.flatten(
            F.transform(chars, lambda c: F.element_at(votes_by_nibble, c))
        )

    counters = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, token_votes(h), lambda a, v: a + v),
    )
    weights = F.array(
        *[
            F.lit(-(1 << 63) if i == 0 else 1 << (63 - i)).cast("long")
            for i in range(64)
        ]
    )
    return F.aggregate(
        F.zip_with(
            counters,
            weights,
            lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sql_simhash64_int(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`simhash64_from_hashes` (from text)."""
    toks = f"string_split_regex({text_expr}, '\\s+')"
    parts = []
    for i in range(64):
        pos, shift = i // 4 + 1, 3 - i % 4
        bit = (
            f"((strpos('0123456789abcdef', substr(md5(t), {pos}, 1)) - 1)"
            f" >> {shift}) & 1"
        )
        vote = (
            f"list_sum(list_transform({toks}, t -> CASE WHEN {bit} = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        weight = str(-(1 << 63)) if i == 0 else str(1 << (63 - i))
        parts.append(
            f"CASE WHEN {vote} > 0 THEN CAST({weight} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
        )
    return "(" + " + ".join(parts) + ")"


def band_keys(n_hashes: int = 8, rows_per_band: int = 2) -> list[Column]:
    """LSH band keys over an existing ``mh_{j}`` signature: the band's
    rows joined with an unambiguous separator, salted with the band index
    so keys from different bands never collide. Plain concatenation (no
    hash — the mh components are already uniform ints; hashing the key
    again costs an md5 per (doc, band) and buys nothing)."""
    keys = []
    for b in range(0, n_hashes // rows_per_band):
        parts = [F.lit(str(b))] + [
            F.col(f"mh_{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        keys.append(F.concat_ws("|", *parts).alias(f"band_{b}"))
    return keys


# --------------------------------------------------------------------------
# Dedup-grade text normalization (the CCNet preprocessing step: hashes of
# NORMALIZED text make near-identical spins collide). Same cross-engine
# rules as the PII section: no capture groups, the Java/RE2 common regex
# subset, and a fixed accent map (translate) instead of unicode NFD —
# neither engine exposes a normalization expression, and the fixed map is
# deterministic in both.
# --------------------------------------------------------------------------

#: Latin-1 accented characters and their ASCII folds (lowercase only —
#: normalization lowercases first).
_ACCENT_SRC = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿ"
_ACCENT_DST = "aaaaaaceeeeiiiinooooouuuuyy"


def normalize_text(text: str | Column = "text") -> Column:
    """CCNet-style normalization: lowercase, fold Latin-1 accents, map
    every digit run to ``0``, collapse every non-alphanumeric run to one
    space, trim. Hash THIS (e.g. ``shingles(normalize_text(...))``) for
    dedup that ignores case/punctuation/number spins."""
    c = F.col(text) if isinstance(text, str) else text
    folded = F.translate(F.lower(c), _ACCENT_SRC, _ACCENT_DST)
    digits0 = F.regexp_replace(folded, F.lit("[0-9]+"), F.lit("0"))
    spaced = F.regexp_replace(
        digits0, F.lit("[^a-z0-9]+"), F.lit(" ")
    )
    return F.trim(spaced)


def sql_normalize_text(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`normalize_text` (bit-identical output)."""
    return (
        "trim(regexp_replace(regexp_replace(translate(lower("
        f"{text_expr}), '{_ACCENT_SRC}', '{_ACCENT_DST}'), "
        "'[0-9]+', '0', 'g'), '[^a-z0-9]+', ' ', 'g'))"
    )
