"""Driver queries for corpus cleaning: PII redaction, repetition quality
signals, benchmark decontamination, chunk-level dedup (north-star
extensions; the reference's only hygiene is the upload filter,
app/backend/chat_bot/tools.py:42).

Oracle notes: PII regexes live in the Java-regex ∩ RE2 common subset so
DuckDB evaluates the identical pattern; PII text is synthesized
deterministically from doc_id on BOTH sides (the corpus itself contains
none). Ratio outputs divide the same integer operands in the same order on
both engines (bit-identical doubles) before the 6-digit round.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chatdata_spark.functions.cleaning import (
    PII_PATTERNS,
    bigrams_col,
    duplicate_token_ratio,
    pii_counts,
    redact_pii,
)
from chatdata_spark.operators.chunks import chunk_dedup_reassemble
from chatdata_spark.operators.decontam import decontaminate
from chatdata_spark.registry import query

_PAT = {name: pat for name, pat, _ in PII_PATTERNS}
_TOK = {name: token for name, _, token in PII_PATTERNS}


def _with_pii(df):
    """Deterministic PII injection keyed on doc_id (the corpus has none)."""
    did = F.col("doc_id")
    s = did.cast("string")
    return df.withColumn(
        "txt",
        F.concat(
            F.col("text"),
            F.when(did % 7 == 0, F.concat(F.lit(" mail user"), s, F.lit("@example.com ok"))).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.lit(" call 555-123-4567 or 555.987.6543 now")).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit(" ssn 123-45-6789 end")).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.concat(F.lit(" host 10.0."), (did % 256).cast("string"), F.lit(".7 up"))).otherwise(F.lit("")),
        ),
    )


_D_PII_TXT = """
    SELECT doc_id, text
      || CASE WHEN doc_id % 7 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com ok' ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567 or 555.987.6543 now' ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 end' ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 up' ELSE '' END
      AS txt
    FROM documents
"""


@query(
    "pii_redaction",
    oracle=f"""
    WITH t AS ({_D_PII_TXT})
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '{_PAT["email"]}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(txt, '{_PAT["ssn"]}')) AS INT) AS n_ssn,
           CAST(len(regexp_extract_all(txt, '{_PAT["phone"]}')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(txt, '{_PAT["ipv4"]}')) AS INT) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(txt,
               '{_PAT["email"]}', '{_TOK["email"]}', 'g'),
               '{_PAT["ssn"]}', '{_TOK["ssn"]}', 'g'),
               '{_PAT["phone"]}', '{_TOK["phone"]}', 'g'),
               '{_PAT["ipv4"]}', '{_TOK["ipv4"]}', 'g') AS red_text
    FROM t ORDER BY doc_id
    """,
)
def pii_redaction(spark, sf_dir):
    """PII scrub pass: per-kind match counts + masked text, all JVM regexp
    expressions in the scan stage (no shuffle, no Python)."""
    from chatdata_spark.operators.dedup import _spread

    # scan-stage by design (no shuffle at scale); _spread parallelizes
    # the regex pass on the 1-partition local file and no-ops at scale
    d = _with_pii(
        _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    )
    counts = pii_counts(F.col("txt"))
    return d.select(
        "doc_id",
        counts["n_email"].cast("int").alias("n_email"),
        counts["n_ssn"].cast("int").alias("n_ssn"),
        counts["n_phone"].cast("int").alias("n_phone"),
        counts["n_ipv4"].cast("int").alias("n_ipv4"),
        redact_pii(F.col("txt")).alias("red_text"),
    ).orderBy("doc_id")


@query(
    "text_repetition_signals",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents
    ),
    tw AS (
        SELECT doc_id, max(c) AS top_word_cnt FROM (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id, unnest(w) AS tok FROM base) GROUP BY doc_id, tok
        ) GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id, max(c) AS top_bigram_cnt FROM (
            SELECT doc_id, b, count(*) AS c
            FROM (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                                         for i in generate_series(1, len(w)-1)]) AS b
                  FROM base WHERE len(w) >= 2)
            GROUP BY doc_id, b
        ) GROUP BY doc_id
    )
    SELECT base.doc_id,
           CAST(len(w) AS INT) AS n_words,
           ROUND((len(w) - len(list_distinct(w))) / CAST(len(w) AS DOUBLE), 6) AS dup_token_ratio,
           ROUND(top_word_cnt / CAST(len(w) AS DOUBLE), 6) AS top_word_frac,
           CASE WHEN len(w) >= 2
                THEN ROUND(COALESCE(top_bigram_cnt, 0) / CAST(len(w) - 1 AS DOUBLE), 6)
                ELSE 0.0 END AS top_bigram_frac
    FROM base JOIN tw USING (doc_id) LEFT JOIN bg USING (doc_id)
    ORDER BY doc_id
    """,
)
def text_repetition_signals(spark, sf_dir):
    """Gopher-style repetition heuristics: duplicate-token ratio (pure HOF,
    scan stage), top-word and top-bigram fractions (explode → map-side
    partial count on (doc_id, gram) → per-doc max). No gram ever joins
    all-pairs; the shuffle key is the fixed-width (doc_id, gram) pair."""
    from chatdata_spark.operators.dedup import _spread

    base = _spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    ).select("doc_id", F.split(F.lower("text"), r"\s+").alias("w"))
    base = base.withColumn("nw", F.size("w"))

    tw = (
        base.select("doc_id", F.explode("w").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_cnt"))
    )
    bg = (
        base.filter(F.col("nw") >= 2)
        .select("doc_id", F.explode(bigrams_col("w")).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_cnt"))
    )
    return (
        base.join(tw, "doc_id")
        .join(bg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("nw").cast("int").alias("n_words"),
            F.round(duplicate_token_ratio("w"), 6).alias("dup_token_ratio"),
            F.round(F.col("top_word_cnt") / F.col("nw").cast("double"), 6).alias("top_word_frac"),
            F.when(
                F.col("nw") >= 2,
                F.round(
                    F.coalesce("top_bigram_cnt", F.lit(0)) / (F.col("nw") - 1).cast("double"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


_DECONTAM_ORACLE = r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(w[i:i+4], ' ')
                              for i in generate_series(1, greatest(len(w)-4, 1))]) AS sh
        FROM w
    ),
    b AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0),
    h AS (
        SELECT s.doc_id, count(b.g) AS n_hits
        FROM (SELECT doc_id, unnest(sh) AS g FROM sh) s
        LEFT JOIN b ON s.g = b.g
        GROUP BY s.doc_id
    )
    SELECT sh.doc_id,
           CAST(len(sh.sh) AS INT) AS n_shingles,
           h.n_hits,
           ROUND(h.n_hits / CAST(len(sh.sh) AS DOUBLE), 6) AS overlap_frac,
           h.n_hits >= 1 AS contaminated
    FROM sh JOIN h USING (doc_id) ORDER BY doc_id
    """


@query("decontam_docs", oracle=_DECONTAM_ORACLE)
def decontam_docs(spark, sf_dir):
    """Benchmark decontamination (5-gram overlap here; 13-gram at corpus
    scale): the 'benchmark' is the doc_id % 50 == 0 slice of the corpus, so
    those docs must come back 100% contaminated and the rest report their
    true shared-n-gram fraction. Bench n-gram set is broadcast — the corpus
    is never shuffled."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(d, bench, "doc_id", "text", "text", n=5, min_hits=1).orderBy("doc_id")


@query(
    "decontam_embedding",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ev AS (SELECT * FROM e WHERE vec_id % 13 = 0),
    tr AS (SELECT * FROM e WHERE vec_id % 13 <> 0)
    SELECT tr.vec_id AS vec_id, ev.vec_id AS eval_id,
           ROUND(list_cosine_similarity(tr.v, ev.v), 6) AS cos_sim
    FROM tr, ev
    WHERE ROUND(list_cosine_similarity(tr.v, ev.v), 6) >= 0.38
    ORDER BY vec_id, eval_id
    """,
)
def decontam_embedding(spark, sf_dir):
    """Embedding-space decontamination: training vectors too close (cosine
    ≥ 0.38) to an eval-set vector (the vec_id % 13 == 0 slice stands in
    for a benchmark suite), catching the paraphrased leakage the n-gram
    rule above misses. Eval matrix broadcast by closure capture into a
    scan-stage Arrow GEMM screen — the corpus is never shuffled — then
    exact JVM re-score of the rare survivors (operators/decontam.py:
    embedding_decontaminate). The oracle is the all-pairs cross join, so
    this also proves the screen-margin funnel loses no true pair."""
    from chatdata_spark.operators.decontam import embedding_decontaminate

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = e.filter(F.col("vec_id") % 13 == 0)
    tr = e.filter(F.col("vec_id") % 13 != 0)
    return embedding_decontaminate(tr, ev, threshold=0.38).orderBy("vec_id", "eval_id")


@query(
    "chunk_dedup_docs",
    oracle=r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents
    ),
    c AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(w[i*12+1:i*12+12], ' ') AS chunk_text
        FROM (SELECT doc_id, w,
                     unnest(generate_series(0, greatest(CAST(ceil(len(w)/12.0) AS INT), 1) - 1)) AS i
              FROM w)
    ),
    k AS (
        SELECT * FROM c
        QUALIFY row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) = 1
    ),
    r AS (
        SELECT doc_id, count(*) AS n_chunks_kept,
               string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS cleaned_text
        FROM k GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(r.n_chunks_kept, 0) AS INT) AS n_chunks_kept,
           COALESCE(r.cleaned_text, '') AS cleaned_text
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN r USING (doc_id) ORDER BY doc_id
    """,
)
def chunk_dedup_docs(spark, sf_dir):
    """Chunk-level (paragraph) dedup: 12-word chunks, keep first occurrence
    corpus-wide (min doc_id, chunk_idx), rebuild documents from survivors.
    Dedup shuffles on the chunk sha256 digest, never raw text."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    from chatdata_spark.operators.dedup import _spread

    return chunk_dedup_reassemble(_spread(d), "doc_id", "text", chunk_words=12).orderBy("doc_id")


_GQ = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@query(
    "gopher_quality_filter",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, {_GQ} AS norm FROM documents
    ),
    f1 AS (
        SELECT doc_id, text, norm, string_split(norm, ' ') AS w FROM base
    ),
    f2 AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS nw,
               CAST(length(norm) - (len(w) - 1) AS BIGINT) AS twc,
               CAST(len(regexp_extract_all(' ' || replace(norm, ' ', '  ') || ' ',
                                           ' [^a-z ]+ ')) AS BIGINT) AS n_nonalpha,
               CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
                 + CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_symbols,
               CAST(len(list_intersect(list_distinct(w),
                    ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
        FROM f1
    )
    SELECT doc_id,
           CAST(nw AS INT) AS n_words,
           CAST(nw >= 50 AND nw <= 100000 AS INT) AS word_count_ok,
           CAST(twc >= 3 * nw AND twc <= 10 * nw AS INT) AS mean_word_len_ok,
           CAST(n_symbols * 10 <= nw AS INT) AS symbol_ratio_ok,
           CAST((nw - n_nonalpha) * 100 >= nw * 80 AS INT) AS alpha_word_ok,
           CAST(stop_hits >= 2 AS INT) AS stopword_ok,
           CAST(nw >= 50 AND nw <= 100000
                AND twc >= 3 * nw AND twc <= 10 * nw
                AND n_symbols * 10 <= nw
                AND (nw - n_nonalpha) * 100 >= nw * 80
                AND stop_hits >= 2 AS INT) AS keep
    FROM f2 ORDER BY doc_id
    """,
)
def gopher_quality_filter(spark, sf_dir):
    """The published Gopher document-quality rules (Rae et al. 2021,
    appendix A1.1) as per-document INT flags plus the conjunction `keep`:
    word count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio (# and ellipsis) <= 0.1, >=80% of words contain an alphabetic
    character, >=2 of the paper's required stopwords present. Line-level
    rules are covered by duplicate-token ratio / substring dedup (the
    fixture is single-line).

    Scale shape: pure scan-stage JVM projections over one normalize+split
    pass — no shuffle, no Python, filter-pushdown friendly (a pipeline
    filters on `keep = 1` at the scan). Every ratio is integer
    cross-multiplied (10*symbols <= words), so flags are exact on both
    engines with no float division anywhere.

    Reference surface: the upload-time quality gate the ChatData app
    applies per file (app/backend/chat_bot/tools.py:42 length filter),
    generalized to the published rule set."""
    from chatdata_spark.functions.cleaning import gopher_rule_flags
    from chatdata_spark.functions.text import norm_text
    from chatdata_spark.operators.dedup import _spread

    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    prep = d.withColumn("__norm", norm_text("text")).withColumn("__w", F.split("__norm", " "))
    flags = gopher_rule_flags(F.col("text"), F.col("__norm"), F.col("__w"))
    return prep.select(
        "doc_id", *[expr.alias(name) for name, expr in flags.items()]
    ).orderBy("doc_id")


@query(
    "nb_quality_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split({_GQ}, ' ')) AS tok FROM documents
    ),
    t2 AS (
        SELECT doc_id, source, (source = 'src0') AS is_pos, tok
        FROM toks WHERE tok <> ''
    ),
    counts AS (
        SELECT tok,
               CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
               CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
        FROM t2 GROUP BY tok
    ),
    tot AS (
        SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos,
               CAST(SUM(c_neg) AS BIGINT) AS t_neg,
               COUNT(*) AS v
        FROM counts
    ),
    w AS (
        SELECT tok,
               CAST(ROUND(LN(CAST(c_pos + 1 AS DOUBLE) / CAST(t_pos + v AS DOUBLE))
                        - LN(CAST(c_neg + 1 AS DOUBLE) / CAST(t_neg + v AS DOUBLE)), 4)
                    AS DECIMAL(27,6)) AS w
        FROM counts, tot
    ),
    prior AS (
        SELECT CAST(ROUND(LN(CAST(t_pos AS DOUBLE)) - LN(CAST(t_neg AS DOUBLE)), 4)
                    AS DECIMAL(27,6)) AS prior
        FROM tot
    ),
    sc AS (
        SELECT doc_id, source, SUM(w) AS sw, COUNT(*) AS n_tokens
        FROM t2 JOIN w USING (tok) GROUP BY doc_id, source
    )
    SELECT doc_id, source,
           ROUND(CAST(sw + prior AS DOUBLE), 6) AS score,
           CAST(ROUND(CAST(sw + prior AS DOUBLE), 6) > 0 AS INT) AS pred,
           n_tokens
    FROM sc, prior ORDER BY doc_id
    """,
)
def nb_quality_classifier(spark, sf_dir):
    """GPT-3-style quality-classifier curation: train a multinomial Naive
    Bayes on a "known high quality" slice (positive = src0, standing in
    for WebText/Wikipedia) vs the rest of the corpus, then score every
    document with the summed token log-likelihood ratio plus class prior
    — the classifier-filtering stage of the GPT-3 / CCNet data recipes,
    expressed as pure relational algebra (operators/classifier.py): the
    train side is ONE vocabulary-keyed shuffle, the score side one
    vocabulary join plus one map-side-combined per-doc decimal sum, so it
    runs at corpus scale with no iterative driver loop.

    Determinism: per-TYPE weights round(ln, 4) -> DECIMAL(27,6), summed
    exactly per doc (accumulation order can't drift), final score rounded
    at 6 — the text_unigram_logprob recipe.

    Reference surface: the curated-corpus assumption of the ChatData
    document stores (app/backend/constants/myscale_tables.py ships
    pre-filtered Wikipedia/ArXiv) — this is the operator that produces
    such a corpus."""
    from chatdata_spark.functions.text import words
    from chatdata_spark.operators.classifier import nb_score, nb_train
    from chatdata_spark.operators.dedup import _spread

    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source", "text"))
    toks = (
        d.select(
            "doc_id",
            "source",
            (F.col("source") == F.lit("src0")).alias("is_pos"),
            F.explode(words("text")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    weights, priors = nb_train(toks)
    return nb_score(toks, weights, priors, ["doc_id", "source"]).orderBy("doc_id")


@query("decontam_docs_bloom", oracle=_DECONTAM_ORACLE)
def decontam_docs_bloom(spark, sf_dir):
    """The SAME decontamination contract through the bloom funnel
    (operators/decontam.py::decontaminate_bloom): benchmark grams travel
    as a ~10-bits/key bitmask probed in the corpus scan stage, exact
    semi-join verification sized by the candidates — the variant for eval
    suites too large to broadcast as a hash set. Oracle is decontam_docs'
    verbatim: bloom + verify must equal the exact operator (no false
    negatives)."""
    from chatdata_spark.operators.decontam import decontaminate_bloom

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return decontaminate_bloom(
        d, bench, "doc_id", "text", "text", n=5, min_hits=1, n_bits=1 << 18
    ).orderBy("doc_id")


@query(
    "dedup_chunk_boilerplate",
    oracle=r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents
    ),
    c AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(w[i*12+1:i*12+12], ' ') AS chunk_text
        FROM (SELECT doc_id, w,
                     unnest(generate_series(0, greatest(CAST(ceil(len(w)/12.0) AS INT), 1) - 1)) AS i
              FROM w)
    ),
    d AS (
        SELECT chunk_text, count(DISTINCT doc_id) AS df FROM c GROUP BY chunk_text
    ),
    -- IS NOT DISTINCT FROM: a NULL-text doc yields a NULL chunk on both
    -- engines (Spark's window groups NULL digests, DuckDB's GROUP BY
    -- groups NULL chunk_text); a plain equi-join would drop those rows
    -- and break the 'total over input documents' contract.
    f AS (SELECT c.doc_id, c.chunk_idx, c.chunk_text, d.df
          FROM c JOIN d ON c.chunk_text IS NOT DISTINCT FROM d.chunk_text)
    SELECT doc_id,
           CAST(sum(CASE WHEN df < 2 THEN 1 ELSE 0 END) AS INT) AS n_chunks_kept,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS INT) AS n_chunks_removed,
           COALESCE(string_agg(CASE WHEN df < 2 THEN chunk_text END, ' ' ORDER BY chunk_idx), '')
             AS cleaned_text
    FROM f GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_chunk_boilerplate(spark, sf_dir):
    """Boilerplate removal by document frequency (C4 / RefinedWeb / CCNet
    threshold policy): every 12-word chunk appearing in >= 2 DISTINCT
    documents is dropped from ALL of them (headers/footers are noise in
    every copy), chunks repeated only within one document survive, and
    documents are rebuilt from the survivors
    (operators/chunks.py::chunk_boilerplate_filter). Complements
    `chunk_dedup_docs` (keep-first) and `dedup_substring_spans`
    (position-level): this is the frequency-threshold member of the
    family. Two shuffles, zero joins — the distinct-doc count is a
    dense_rank+max pair over one digest-keyed window."""
    from chatdata_spark.operators.chunks import chunk_boilerplate_filter
    from chatdata_spark.operators.dedup import _spread

    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    return chunk_boilerplate_filter(d, "doc_id", "text", chunk_words=12, min_df=2).orderBy(
        "doc_id"
    )


def _drift_chunks_oracle(units_of, w: int, unit: str) -> str:
    """Rows ``(doc_id, chunk_idx, start_<unit>, n_<unit>s, n_windows)`` of
    the drift-boundary replay both semantic-chunk oracles share, as a
    VALUES literal over the oracle fixture's documents: ``units_of(text)``
    splits a document into units, each ``w``-unit window gets a float32
    ``hash_embed``, and a chunk starts wherever the round-6 cosine of
    consecutive windows goes negative. Emulation notes: python's
    str.split() equals Spark split(r'\\s+')+drop-empties on any
    whitespace-run text; fold order is left-to-right (acc += x*y),
    matching F.aggregate; Spark round(double, 6) goes through the
    shortest-repr decimal (BigDecimal.valueOf) with HALF_UP. The replay
    stays a separate reference from the operator."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    import numpy as np

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.functions.vector import hash_embed

    DIM = 64
    q6 = Decimal("0.000001")
    rows = duckdb.sql(
        "SELECT doc_id, text FROM read_parquet("
        f"'{oracle_sf_dir()}/documents.parquet') ORDER BY doc_id"
    ).fetchall()

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    values = []
    for doc_id, text in rows:
        units = units_of(text or "")
        if not units:
            continue
        n = len(units)
        vecs = []
        for i in range(-(-n // w)):
            wtext = " ".join(units[i * w : (i + 1) * w])
            vecs.append(
                np.array(hash_embed(wtext, DIM), dtype=np.float32).astype(np.float64)
            )
        chunks = []  # list of [start_wi, n_windows]
        for i, v in enumerate(vecs):
            new = i == 0
            if not new:
                p = vecs[i - 1]
                dot = fold_dot(p, v)
                na = math.sqrt(fold_dot(p, p))
                nb = math.sqrt(fold_dot(v, v))
                sim = float(
                    Decimal(repr(dot / (na * nb))).quantize(q6, ROUND_HALF_UP)
                )
                new = sim < 0.0
            if new:
                chunks.append([i, 0])
            chunks[-1][1] += 1
        for cid, (start_wi, n_win) in enumerate(chunks):
            n_units = sum(
                min(w, n - wi * w) for wi in range(start_wi, start_wi + n_win)
            )
            values.append(
                f"({doc_id}, {cid}, {start_wi * w + 1}, {n_units}, {n_win})"
            )
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, "
        f"CAST(start_{unit} AS BIGINT) AS start_{unit}, CAST(n_{unit}s AS BIGINT) AS n_{unit}s, "
        "CAST(n_windows AS BIGINT) AS n_windows FROM (VALUES "
        + ", ".join(values)
        + f") AS t(doc_id, chunk_idx, start_{unit}, n_{unit}s, n_windows) "
        "ORDER BY doc_id, chunk_idx"
    )


def _semantic_chunks_expected() -> str:
    """Lazy oracle for semantic_chunk_spans (the embed_documents_batch /
    dimred pattern): the whole pipeline — float32 hash embeddings, the
    JVM's sequential float64 cosine folds, HALF_UP round-6, the boundary
    rule — is deterministic, so a driver-side sequential recomputation
    over the sf0.01 documents yields the exact expected table: the
    drift replay over 16-word windows."""
    return _drift_chunks_oracle(str.split, 16, "word")


@query("semantic_chunk_spans", oracle=_semantic_chunks_expected)
def semantic_chunk_spans(spark, sf_dir):
    """Semantic (embedding-drift) chunking over the documents table
    (operators/chunks.py::semantic_chunks — the topic-boundary-aware
    upgrade of the fixed chunk grid; reference role: upload chunking
    before embedding, chat_bot/tools.py:13-50): 16-word pseudo-sentence
    windows, one Arrow embedder pass, a new chunk wherever the round-6
    consecutive-window cosine goes negative. Oracled against a
    sequential driver-side replay of the full pipeline (lazy VALUES
    literal at sf0.01 — the driver/tests comparison scale)."""
    from chatdata_spark.operators.chunks import semantic_chunks

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return semantic_chunks(d, "doc_id", "text", window_words=16, dim=64, threshold=0.0)


def _prose_expr(words=None):
    """Deterministic punctuation-bearing prose from the fixture corpus
    (which carries none): 7-word sentences terminated by a rotating
    ./!/? — same construction replayed in Python by the oracle. Pass a
    MATERIALIZED word-array column as ``words``: referenced inside the
    per-sentence lambda, a raw split expression re-executes once per
    sentence (the CLAUDE.md inlining trap — r11 plan audit caught the
    collapsed Project running split(text) inside the transform)."""
    from pyspark.sql import functions as F

    ws = (
        words
        if words is not None
        else F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    )
    n_s = F.ceil(F.size(ws) / F.lit(7)).cast("int")
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_s - 1),
            lambda i: F.concat(
                F.array_join(F.slice(ws, i * 7 + 1, 7), " "),
                F.element_at(F.array(F.lit("."), F.lit("!"), F.lit("?")), F.pmod(i, 3) + 1),
            ),
        ),
        " ",
    )


def _semantic_sentence_chunks_expected() -> str:
    """Lazy oracle for semantic_chunk_sentences: replays prose synthesis
    (7-word ./!/?-terminated sentences) and the LOOKBEHIND sentence split,
    then the drift replay over 2-sentence windows."""
    import re

    def sentences(text):
        ws = text.split()
        prose = " ".join(
            " ".join(ws[i * 7 : (i + 1) * 7]) + ".!?"[i % 3]
            for i in range(-(-len(ws) // 7))
        )
        units = [u.strip() for u in re.split(r"(?<=[.!?])\s+", prose)]
        return [u for u in units if u]

    return _drift_chunks_oracle(sentences, 2, "sent")


@query("semantic_chunk_sentences", oracle=_semantic_sentence_chunks_expected)
def semantic_chunk_sentences(spark, sf_dir):
    """Semantic chunking over REAL sentence units — the splitter swap
    semantic_chunk_spans documents (operators/chunks.py::
    semantic_sentence_chunks): the fixture corpus carries no punctuation,
    so the query first synthesizes deterministic prose (7-word sentences
    terminated by a rotating ./!/?), then splits on the lookbehind
    sentence boundary (punctuation stays with its sentence), windows 2
    sentences per embedding, and applies the shared drift rule. Oracled
    against a sequential driver-side replay of prose synthesis + the
    full pipeline (the _semantic_chunks_expected conventions)."""
    from chatdata_spark.operators.chunks import semantic_sentence_chunks
    from chatdata_spark.operators.dedup import _spread

    # Spread the raw scan BEFORE synthesizing prose: the synthesis HOF
    # evaluates upstream of whatever exchange follows it, so on the
    # 1-partition local file it would run single-threaded (r11 profile:
    # 0.8 s of the query). Post-spread, the operator's own spread no-ops.
    # The word array is materialized in its own select (referenced twice
    # by the prose transform → blocks CollapseProject) so split(text)
    # runs once per row, not once per synthesized sentence.
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    d = (
        _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
        .select("doc_id", words.alias("__w0"))
        .select("doc_id", _prose_expr(F.col("__w0")).alias("prose"))
    )
    return semantic_sentence_chunks(
        d, "doc_id", "prose", window_sents=2, dim=64, threshold=0.0
    )


def _gopher_repetition_expected() -> str:
    """Lazy oracle for gopher_repetition_filter: sequential pure-Python
    replay of the A1.2 numerators (operators/repetition.py::
    repetition_stats_py, the per-row body of the Arrow pass) over the
    same tokenization and the same
    deterministic prefix-repeat perturbation, aggregated per source."""
    import re

    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.repetition import (
        DUP_NGRAM_RULES,
        TOP_NGRAM_RULES,
        repetition_stats_py,
    )

    rows = duckdb.sql(
        "SELECT doc_id, source, lower(text) FROM read_parquet("
        f"'{oracle_sf_dir()}/documents.parquet')"
    ).fetchall()
    rules = TOP_NGRAM_RULES + DUP_NGRAM_RULES
    agg: dict = {}
    for doc_id, source, t in rows:
        ws = re.findall(r"[a-z0-9]+", t or "")
        if doc_id % 5 == 0:
            ws = ws + ws[:40]
        st = repetition_stats_py(ws)
        a = agg.setdefault(
            source,
            {"docs": 0, "chars": 0, "sum_t2": 0, "sum_d5": 0, "clean": 0,
             **{f"fail_{f}": 0 for f, _, _ in rules}},
        )
        a["docs"] += 1
        a["chars"] += st["total"]
        a["sum_t2"] += st["t2"]
        a["sum_d5"] += st["d5"]
        fails = 0
        for f, _n, pct in rules:
            bad = st[f] * 100 > st["total"] * pct
            a[f"fail_{f}"] += int(bad)
            fails += int(bad)
        a["clean"] += int(fails == 0)
    values = ", ".join(
        "('{s}', {docs}, {chars}, {sum_t2}, {sum_d5}, {ff}, {clean})".format(
            s=s, docs=a["docs"], chars=a["chars"], sum_t2=a["sum_t2"],
            sum_d5=a["sum_d5"],
            ff=", ".join(str(a[f"fail_{f}"]) for f, _, _ in rules),
            clean=a["clean"],
        )
        for s, a in sorted(agg.items())
    )
    cols = ", ".join(f"fail_{f}" for f, _, _ in rules)
    casts = ", ".join(
        f"CAST(fail_{f} AS BIGINT) AS fail_{f}" for f, _, _ in rules
    )
    return (
        f"SELECT source, CAST(docs AS BIGINT) AS docs,"
        f" CAST(chars AS BIGINT) AS chars,"
        f" CAST(sum_t2 AS BIGINT) AS sum_t2,"
        f" CAST(sum_d5 AS BIGINT) AS sum_d5, {casts},"
        f" CAST(clean_docs AS BIGINT) AS clean_docs"
        f" FROM (VALUES {values}) AS t(source, docs, chars, sum_t2,"
        f" sum_d5, {cols}, clean_docs) ORDER BY source"
    )


@query("gopher_repetition_filter", oracle=_gopher_repetition_expected)
def gopher_repetition_filter(spark, sf_dir):
    """Gopher A1.2 duplicated-n-gram repetition rules (Rae et al. 2021):
    top-{2,3,4}-gram character fractions and duplicated-{5..10}-gram
    character fractions with union-of-spans semantics
    (operators/repetition.py — exact semantics pinned there), aggregated
    per source: doc/char totals, two value-bearing numerator sums, the
    nine per-rule fail counts, and the count of fully-clean docs. A
    deterministic prefix-repeat perturbation (doc_id % 5 == 0 appends the
    doc's first 40 tokens) gives the dup-{5..10} rules real signal on the
    word-salad fixture, replayed identically in the oracle.

    Scale shape: the numerators come from ONE scan-stage Arrow pass (per-
    doc O(9·tokens) dict counting — the Arrow-UDF-for-O(H·S) rule); flags
    are exact integer cross-multiplications (100·num > pct·total) JVM-
    side; the only shuffle is the |sources|-row final aggregate.

    Reference surface: pretraining-corpus hygiene in front of the upload
    pipeline (app/backend/chat_bot/tools.py:42)."""
    from chatdata_spark.operators.repetition import (
        DUP_NGRAM_RULES,
        TOP_NGRAM_RULES,
        ngram_repetition_stats,
        repetition_fail_flags,
    )
    from chatdata_spark.operators.dedup import _spread

    rules = TOP_NGRAM_RULES + DUP_NGRAM_RULES
    d = _spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "text"
        )
    )
    base = d.select(
        "doc_id",
        "source",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0).alias(
            "w0"
        ),
    )
    pert = base.select(
        "source",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("w0"), F.slice(F.col("w0"), 1, 40)),
        )
        .otherwise(F.col("w0"))
        .alias("w"),
    )
    st = pert.select("source", ngram_repetition_stats("w").alias("s"))
    flags = repetition_fail_flags("s")
    flagged = st.select(
        "source",
        F.col("s")["total"].alias("chars_"),
        F.col("s")["t2"].alias("t2_"),
        F.col("s")["d5"].alias("d5_"),
        *[expr.alias(name) for name, expr in flags.items()],
    )
    any_fail = None
    for f, _n, _p in rules:
        c = F.col(f"fail_{f}")
        any_fail = c if any_fail is None else F.greatest(any_fail, c)
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("chars_").alias("chars"),
            F.sum("t2_").alias("sum_t2"),
            F.sum("d5_").alias("sum_d5"),
            *[
                F.sum(f"fail_{f}").cast("bigint").alias(f"fail_{f}")
                for f, _n, _p in rules
            ],
            F.sum(F.lit(1) - any_fail).cast("bigint").alias("clean_docs"),
        )
        .orderBy("source")
    )


def _span_corruption_expected() -> str:
    """Lazy oracle for span_corruption_docs: sequential replay of the
    hash-driven corruption walk (operators/spancorrupt.py::
    corruption_plan_py — same md5 recipe, same inlined integer
    threshold) over the same tokenization."""
    import re

    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.spancorrupt import corruption_plan_py

    rows = duckdb.sql(
        "SELECT doc_id, lower(text) FROM read_parquet("
        f"'{oracle_sf_dir()}/documents.parquet')"
    ).fetchall()
    out = []
    for doc_id, t in rows:
        ws = re.findall(r"[a-z0-9]+", t or "")
        nt, ns, nm, prev = corruption_plan_py(int(doc_id), ws)
        out.append((int(doc_id), nt, ns, nm, prev))
    out.sort()
    values = ", ".join(
        f"({d}, {nt}, {ns}, {nm}, '{prev}')" for d, nt, ns, nm, prev in out
    )
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(n_tokens AS INT) AS n_tokens,"
        " CAST(n_spans AS INT) AS n_spans,"
        " CAST(n_masked AS INT) AS n_masked, spans_preview"
        f" FROM (VALUES {values})"
        " AS t(doc_id, n_tokens, n_spans, n_masked, spans_preview)"
        " ORDER BY doc_id"
    )


@query("span_corruption_docs", oracle=_span_corruption_expected)
def span_corruption_docs(spark, sf_dir):
    """T5/UL2 span-corruption planning (operators/spancorrupt.py —
    Raffel et al. 2020's denoising objective, ~15% corruption from 5%
    hash-driven span starts × mean-3 uniform lengths, one-token
    no-merge gaps): per document the token count, span count, masked
    count, and the first-3-spans preview. Hash-driven instead of
    RNG-driven, so the sampled plan is reproducible across engines,
    retries, and partitionings — the property that makes a corruption
    pass auditable at 100 TB. One scan-stage Arrow pass, no shuffle;
    sequential Python replay oracle."""
    from chatdata_spark.operators.dedup import _spread
    from chatdata_spark.operators.spancorrupt import span_corruption_plan

    d = _spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
    )
    base = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0).alias(
            "w"
        ),
    )
    st = base.select("doc_id", span_corruption_plan("doc_id", "w").alias("s"))
    return st.select(
        "doc_id",
        F.col("s")["nt"].alias("n_tokens"),
        F.col("s")["ns"].alias("n_spans"),
        F.col("s")["nm"].alias("n_masked"),
        F.col("s")["prev"].alias("spans_preview"),
    ).orderBy("doc_id")
