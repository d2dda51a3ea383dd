"""Text-analysis functions for training-data pipelines (north-star
extension; the reference's only text processing is the ≥10-word
NarrativeText filter at upload, tools.py:42 — covered in sources/ingest.py).

Everything here is built from plain Column expressions (JVM-side,
codegen-friendly, no UDF). :func:`text_features` is the one definition of
the per-document profile: language-ID by stopword intersection, quality
scoring from length/punct/digit/stopword ratios, whitespace + BPE-ish
token counts and the sha256 content fingerprint. Deterministic by
construction — the DuckDB oracles recompute the identical arithmetic.

At 100 TB these run inside the scan stage as narrow projections: no
shuffle, no Python workers, prunable to the text column alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny fixed stopword lists — enough to separate the test corpus's languages;
# a production deployment swaps in real lists (same plan shape).
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "les", "et", "est", "pas", "pour", "dans", "une", "vous", "ce"),
    "es": ("el", "los", "que", "y", "en", "por", "para", "se", "las", "una"),
}
LANG_PRIORITY = ("en", "de", "fr", "es")  # tie-break order

# BPE-ish tokenization: letter runs, single digits, single non-alnum marks
# (GPT-2-style pre-tokenizer shape, regex kept RE2/Java-compatible).
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
PUNCT_CLASS = r"[!-/:-@\[-`{-~]"  # explicit ASCII punct — identical set in Java & RE2


def norm_text(col) -> Column:
    """Normalization convention: lowercase, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def words(col) -> Column:
    return F.split(norm_text(col), " ")


def token_count_bpe(col) -> Column:
    """BPE-ish token count via the pre-tokenizer regex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_PATTERN))


def predict_lang_from_scores(scores: list[tuple[str, Column]]) -> Column:
    """Argmax with fixed tie-break priority from precomputed per-language
    score columns; 'unknown' when no score > 0. A forward CASE chain where
    branch k only requires ``s_k > 0 AND s_k >= s_j`` for every later
    language j picks exactly the earliest-priority maximum (earlier
    branches lose only when strictly beaten by a later language, whose
    branch then fires).

    Pass MATERIALIZED score columns (projected in a previous select) when
    profiling at scale — inline score expressions are re-evaluated at every
    reference in the chain (O(langs²) recomputes of split+distinct+
    intersect)."""
    expr = None
    for idx, (lang, s) in enumerate(scores):
        cond = s > 0
        for _, s_later in scores[idx + 1 :]:
            cond = cond & (s >= s_later)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("unknown"))


def stopword_hits_from_dwords(dwords: Column, lang: str) -> Column:
    """Stopword hits from a materialized distinct-words array column."""
    return F.size(F.array_intersect(dwords, F.array(*[F.lit(w) for w in STOPWORDS[lang]])))


def text_features(df: DataFrame) -> DataFrame:
    """The per-document profile of ``df``'s ``text`` column as layered
    projections: normalize once, split once, distinct once, then every
    feature reads materialized columns — inline expressions would be
    re-evaluated per reference in the langid CASE chain / quality formula
    (same O(n²)-inlining trap as dedup shingling).

    Adds ``pred_lang`` (stopword-intersection language ID,
    :data:`LANG_PRIORITY` tie-break, 'unknown' with no hits),
    ``quality`` (composite in [0,1]:
    0.3·min(n_words/100, 1) + 0.4·min(4·stop_ratio, 1)
    + 0.2·(1-punct_ratio) + 0.1·(1-digit_ratio), fixed operand order so
    the oracle reproduces it bit-for-bit), ``fp`` (sha256 hex of the
    normalized text — the reference's entity_id convention,
    tools.py:35-37, applied to content) and the intermediate columns
    ``__norm``, ``__w``, ``__dw``, ``__nw`` (whitespace token count),
    ``__bpe`` (BPE-ish token count), ``__s_<lang>``, ``__stop_hits``,
    ``__punct`` and ``__digit``."""
    t = F.col("text")
    prep = (
        df.withColumn("__norm", norm_text(t))
        .withColumn("__w", F.split("__norm", " "))
        .withColumn("__dw", F.array_distinct("__w"))
        .withColumn("__nw", F.size("__w"))
    )
    all_stops = sorted({w for ws in STOPWORDS.values() for w in ws})
    feats = prep.withColumns(
        {
            **{f"__s_{lang}": stopword_hits_from_dwords(F.col("__dw"), lang) for lang in LANG_PRIORITY},
            "__stop_hits": F.size(F.filter("__w", lambda w: w.isin(*all_stops))),
            "__bpe": token_count_bpe(t),
            "__punct": F.when(
                F.length(t) > 0,
                (F.length(t) - F.length(F.regexp_replace(t, PUNCT_CLASS, ""))) / F.length(t),
            ).otherwise(F.lit(0.0)),
            "__digit": F.when(
                F.length(t) > 0,
                (F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))) / F.length(t),
            ).otherwise(F.lit(0.0)),
        }
    )
    quality = (
        F.least(F.col("__nw").cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.3)
        + F.least((F.col("__stop_hits") / F.col("__nw")) * F.lit(4.0), F.lit(1.0)) * F.lit(0.4)
        + (F.lit(1.0) - F.col("__punct")) * F.lit(0.2)
        + (F.lit(1.0) - F.col("__digit")) * F.lit(0.1)
    )
    return feats.withColumns(
        {
            "pred_lang": predict_lang_from_scores(
                [(lang, F.col(f"__s_{lang}")) for lang in LANG_PRIORITY]
            ),
            # NULL/blank text must not score: least() IGNORES null operands
            # (least(NULL, 1.0) = 1.0), which would give empty docs a perfect score.
            "quality": F.when(F.col("__norm") != "", F.round(quality, 6)).otherwise(F.lit(0.0)),
            "fp": F.sha2("__norm", 256),
        }
    )


def fingerprint_rolling64(col) -> Column:
    """64-bit rolling hash over word xxhash64s (xor-rotate mix) — an
    order-sensitive structural fingerprint (word swap ⇒ different value,
    unlike the set-based MinHash). Bit-ops only: ANSI mode (Spark 4
    default) makes wrapping multiplies throw, shifts/xor can't overflow.
    Not DuckDB-reproducible (xxhash64); checked by unit tests instead of
    the oracle."""
    return F.aggregate(
        F.transform(words(col), lambda w: F.xxhash64(w)),
        F.lit(-3750763034362895579).cast("long"),  # arbitrary non-zero seed
        lambda acc, h: F.shiftleft(acc, 5)
        .bitwiseOR(F.shiftrightunsigned(acc, 59))
        .bitwiseXOR(h),
    )


def fingerprint_rolling64_md5(col) -> Column:
    """Oracle-checkable twin of :func:`fingerprint_rolling64`: the same
    rotate-xor combine over 60-bit per-word hashes parsed from md5 hex —
    md5 (unlike xxhash64) exists in DuckDB, so the whole fingerprint is
    reproducible there via HUGEINT rotate emulation + xor (the query's
    oracle SQL). Prefer the xxhash64 variant in hot paths (no hex-string
    intermediate); this one trades ~2x scan cost for a driver oracle."""
    word_h = lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")  # noqa: E731
    return F.aggregate(
        F.transform(words(col), word_h),
        F.lit(-3750763034362895579).cast("long"),  # unsigned 0xcbf29ce484222325 (FNV basis)
        lambda acc, h: F.shiftleft(acc, 5)
        .bitwiseOR(F.shiftrightunsigned(acc, 59))
        .bitwiseXOR(h),
    )
