"""Driver queries for text analysis (langid / quality / tokens /
fingerprints) over the documents table. DuckDB oracles re-derive the same
arithmetic expression-for-expression (same normalization, same stopword
lists, same operand order) so doubles match bit-for-bit before rounding."""

from __future__ import annotations

from pyspark.sql import functions as F

from chatdata_spark.functions.text import (
    STOPWORDS,
    fingerprint_rolling64,
    fingerprint_rolling64_md5,
    text_features,
)
from chatdata_spark.registry import query
from chatdata_spark.session import local_frame


def _profile_frame(spark, sf_dir):
    """:func:`text_features` over the documents table, spread first so the
    single-file local read uses every core."""
    from chatdata_spark.operators.dedup import _spread

    return text_features(
        _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source", "text"))
    )


# ---- DuckDB building blocks (mirror functions/text.py) ----------------------

_D_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_D_WORDS = f"string_split({_D_NORM}, ' ')"
_D_NW = f"len({_D_WORDS})"
_D_BPE = "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))"


def _d_hits(lang: str) -> str:
    lst = ",".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_intersect(list_distinct({_D_WORDS}), [{lst}]))"


def _d_predict_lang() -> str:
    langs = list(STOPWORDS)
    conds = []
    for i, lang in enumerate(langs):
        cond = f"{_d_hits(lang)} > 0"
        for later in langs[i + 1 :]:
            cond += f" AND {_d_hits(lang)} >= {_d_hits(later)}"
        conds.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(conds) + " ELSE 'unknown' END"


_ALL_STOPS = ",".join(f"'{w}'" for w in sorted({w for ws in STOPWORDS.values() for w in ws}))
_D_STOP_RATIO = f"len(list_filter({_D_WORDS}, w -> list_contains([{_ALL_STOPS}], w))) / {_D_NW}"
_D_PUNCT = (
    "CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) / length(text) ELSE 0.0 END"
)
_D_DIGIT = (
    "CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) ELSE 0.0 END"
)
_D_QUALITY = (
    f"CASE WHEN {_D_NORM} != '' THEN "
    f"ROUND(least(CAST({_D_NW} AS DOUBLE) / 100.0, 1.0) * 0.3"
    f" + least(({_D_STOP_RATIO}) * 4.0, 1.0) * 0.4"
    f" + (1.0 - ({_D_PUNCT})) * 0.2"
    f" + (1.0 - ({_D_DIGIT})) * 0.1, 6) ELSE 0.0 END"
)


@query(
    "text_profile",
    oracle=f"""
    SELECT doc_id,
           CAST({_D_NW} AS INT) AS n_words,
           CAST({_D_BPE} AS INT) AS n_tokens,
           {_d_predict_lang()} AS pred_lang,
           {_D_QUALITY} AS quality,
           sha256({_D_NORM}) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def text_profile(spark, sf_dir):
    """Per-document profile: whitespace + BPE-ish token counts, heuristic
    language ID, composite quality score, sha256 content fingerprint — the
    narrow-projection scan-stage shape a 100 TB curation pass uses."""
    return _profile_frame(spark, sf_dir).select(
        "doc_id",
        F.col("__nw").cast("int").alias("n_words"),
        F.col("__bpe").cast("int").alias("n_tokens"),
        "pred_lang",
        "quality",
        "fp",
    ).orderBy("doc_id")


@query(
    "text_lang_distribution",
    oracle=f"""
    SELECT {_d_predict_lang()} AS pred_lang, COUNT(*) AS n
    FROM documents GROUP BY pred_lang ORDER BY pred_lang
    """,
)
def text_lang_distribution(spark, sf_dir):
    """Predicted-language histogram (langid feeding an aggregate)."""
    return (
        _profile_frame(spark, sf_dir)
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred_lang")
    )


@query(
    "text_quality_by_source",
    oracle=f"""
    SELECT source,
           CAST(SUM(CAST({_D_QUALITY} AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_quality,
           CAST(SUM(CAST({_D_BPE} AS DECIMAL(27,6))) AS DOUBLE) AS total_tokens
    FROM documents GROUP BY source ORDER BY source
    """,
)
def text_quality_by_source(spark, sf_dir):
    """Corpus curation roll-up: mean quality + token budget per source."""
    return (
        _profile_frame(spark, sf_dir)
        .groupBy("source")
        .agg(
            (F.sum(F.col("quality").cast("decimal(27,6)")).cast("double") / F.count(F.lit(1))).alias(
                "avg_quality"
            ),
            F.sum(F.col("__bpe").cast("decimal(27,6)")).cast("double").alias("total_tokens"),
        )
        .orderBy("source")
    )


@query(
    "text_fingerprint_rolling",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(
                       14695981039346656037::HUGEINT,
                       list_transform(
                           string_split({_D_NORM}, ' '),
                           w -> CAST(CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS HUGEINT)
                       )
                   ),
                   (acc, h) -> xor(
                       ((acc * 32) % 18446744073709551616::HUGEINT)
                           + (acc // 576460752303423488::HUGEINT),
                       h
                   )
               ) AS u
        FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                     THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS fp64
    FROM fp ORDER BY doc_id
    """,
)
def text_fingerprint_rolling(spark, sf_dir):
    """Order-sensitive 64-bit rolling fingerprint (rotate-xor over per-word
    hashes); duplicate-fingerprint groups = exact-duplicate candidates.
    Uses the md5-60-bit word-hash variant so DuckDB reproduces every bit:
    the oracle emulates the unsigned rotl5 in HUGEINT ((x*32) mod 2^64 +
    x>>59 — the halves can't overlap bits, so + is |) then re-signs. The
    xxhash64 variant (functions/text.py:fingerprint_rolling64) is the hot
    path; unit tests pin both."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", fingerprint_rolling64_md5("text").alias("fp64")).orderBy("doc_id")


@query(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split({_D_NORM}, ' ')) AS item FROM documents
    )
    SELECT item, COUNT(*) AS n FROM toks WHERE item <> ''
    GROUP BY item HAVING COUNT(*) >= 300
    ORDER BY n DESC, item
    """,
)
def heavy_hitter_tokens(spark, sf_dir):
    """Frequent-token profiling via bounded-memory two-pass heavy hitters
    (per-partition Misra-Gries candidates + exact broadcast recount) —
    shuffles only candidates, never the vocabulary; counts are exact
    (operators/heavyhitters.py, exactness condition documented there)."""
    from chatdata_spark.operators.heavyhitters import heavy_hitters, token_stream

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = token_stream(d, "text")
    return heavy_hitters(toks, "item", min_count=300, k_counters=1024).orderBy(
        F.desc("n"), "item"
    )


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({_D_NORM}, ' ')) AS tok FROM documents
    ),
    t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    counts AS (SELECT tok, COUNT(*) AS cnt FROM t2 GROUP BY tok),
    total AS (SELECT SUM(cnt) AS tot FROM counts),
    lp AS (
        SELECT tok,
               CAST(ROUND(LN(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)), 4)
                    AS DECIMAL(27,6)) AS lp
        FROM counts, total
    )
    SELECT doc_id,
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob,
           COUNT(*) AS n_tokens
    FROM t2 JOIN lp USING (tok)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Corpus-fit quality score: per-document mean unigram log-probability
    under the corpus's own unigram LM (the classic cheap perplexity proxy
    for pretraining-data filtering — outlier docs score far below the
    corpus mode). Self-contained: the LM *is* the corpus token histogram,
    so no external model is needed.

    Scale shape: one shuffle builds the token histogram (map-side
    combined), the scalar total rides a broadcast, and the scoring join
    shuffles tokens-to-counts on the token hash. Determinism: per-TYPE
    logprob is round(ln, 4) — applied once per vocabulary entry, not per
    occurrence — then DECIMAL-summed per doc, so accumulation order can't
    drift (registry.py conventions; ln is the only libm call and the
    4-digit round absorbs any last-ulp libm difference)."""
    from chatdata_spark.functions.text import words

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = (
        d.select("doc_id", F.explode(words("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    lp = counts.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("cnt").cast("double") / F.col("tot").cast("double")), 4)
        .cast("decimal(27,6)")
        .alias("lp"),
    )
    return (
        toks.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias("avg_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "curation_domain_cap",
    oracle=f"""
    SELECT source, doc_id, quality, rnk FROM (
        SELECT source, doc_id, {_D_QUALITY} AS quality,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY {_D_QUALITY} DESC, doc_id) AS BIGINT) AS rnk
        FROM documents
    ) WHERE rnk <= 5 ORDER BY source, rnk
    """,
)
def curation_domain_cap(spark, sf_dir):
    """Per-domain quality cap — the web-pipeline curation step that stops
    one domain from dominating the mixture: keep each source's top-5
    documents by composite quality score (operators/grouptopk.py over the
    shared quality expression; tie-break doc_id). Engages the salted
    two-phase grouped top-k (salt on doc_id): exact at any scale, and a
    hot source key spreads over n_salts local-top-k tasks instead of
    serializing onto one window task."""
    from chatdata_spark.operators.grouptopk import grouped_topk

    p = _profile_frame(spark, sf_dir).select("source", "doc_id", "quality")
    return (
        grouped_topk(
            p, ["source"], [F.desc("quality"), F.asc("doc_id")], k=5,
            salt_on="doc_id",
        )
        .select("source", "doc_id", "quality", "rnk")
        .orderBy("source", "rnk")
    )


@query(
    "corpus_report_docs",
    oracle=f"""
    WITH agg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(SUM(CAST({_D_BPE} AS DECIMAL(27,6))) AS DOUBLE) AS total_tokens,
               CAST(SUM(CAST({_D_QUALITY} AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_quality,
               CAST(COUNT(DISTINCT {_d_predict_lang()}) AS DOUBLE) AS n_langs,
               CAST(COUNT(*) - COUNT(DISTINCT sha256({_D_NORM})) AS DOUBLE) AS exact_dup_docs,
               CAST(SUM(CASE WHEN length(text) < 120 THEN 1 ELSE 0 END) AS DOUBLE) AS short_docs
        FROM documents
    )
    SELECT 'avg_quality' AS metric, avg_quality AS value FROM agg
    UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM agg
    UNION ALL SELECT 'n_docs', n_docs FROM agg
    UNION ALL SELECT 'n_langs', n_langs FROM agg
    UNION ALL SELECT 'short_docs', short_docs FROM agg
    UNION ALL SELECT 'total_tokens', total_tokens FROM agg
    ORDER BY metric
    """,
)
def corpus_report_docs(spark, sf_dir):
    """The dataset-card roll-up every training-data pipeline publishes:
    ONE aggregation pass over the profiled corpus emitting a long-format
    (metric, value) report — document count, BPE token budget, mean
    composite quality (exact decimal sum), language count, exact-duplicate
    count (distinct sha256 of the normalized text vs rows), and
    short-document count. Composes the shared profile frame, so all six
    metrics ride one scan + one partial-agg shuffle; uniform DOUBLE values
    keep the long format single-typed."""
    p = _profile_frame(spark, sf_dir)
    row = p.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.col("__bpe").cast("decimal(27,6)")).cast("double").alias("total_tokens"),
        (
            F.sum(F.col("quality").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_quality"),
        F.count_distinct("pred_lang").cast("double").alias("n_langs"),
        (F.count(F.lit(1)) - F.count_distinct("fp"))
        .cast("double")
        .alias("exact_dup_docs"),
        F.sum(F.when(F.length("text") < 120, 1).otherwise(0)).cast("double").alias("short_docs"),
    )
    metrics = [
        "avg_quality", "exact_dup_docs", "n_docs",
        "n_langs", "short_docs", "total_tokens",
    ]
    return (
        row.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(m).alias("metric"), F.col(m).alias("value"))
                        for m in metrics
                    ]
                )
            ).alias("kv")
        )
        .select("kv.metric", "kv.value")
        .orderBy("metric")
    )


_BPE_REPLAY_CACHE: dict[str, tuple] = {}  # keyed on the fixture dir
_HH_PRE_CACHE: dict[str, object] = {}  # heavy-hitter pre-pass, keyed on fixture dir


def _bpe_replay():
    """Pure-Python replay of BPE merge learning over the driver's fixture
    documents (memoized per fixture dir at MODULE level — a
    function-local lru_cache would be recreated per call and replay
    twice, once per BPE oracle). The algorithm is deterministic over
    integer counts with a total tie-break order, so this is an exact
    independent oracle for the distributed implementation
    (operators/bpe.py). Returns (merges, encoded_doc_tokens_by_id)."""
    import re
    from collections import Counter

    from chatdata_spark.catalog import oracle_sf_dir

    sf = oracle_sf_dir()
    if sf in _BPE_REPLAY_CACHE:
        return _BPE_REPLAY_CACHE[sf]

    def compute():
        import duckdb

        rows = duckdb.sql(
            f"SELECT doc_id, lang, text FROM read_parquet('{sf}/documents.parquet')"
        ).fetchall()
        END = "</w>"
        wf = Counter()
        for _, _, text in rows:
            wf.update(re.findall("[a-z0-9]+", (text or "").lower()))
        vocab = {w: tuple(list(w) + [END]) for w in wf}
        merges = []
        for _ in range(30):
            pc = Counter()
            for w, syms in vocab.items():
                f = wf[w]
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += f
            if not pc:
                break
            (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            if c < 2:
                break
            merges.append((a, b, c))
            new_vocab = {}
            for w, syms in vocab.items():
                s, i, res = list(syms), 0, []
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                new_vocab[w] = tuple(res)
            vocab = new_vocab
        enc = {}
        for doc_id, lang, text in rows:
            n = 0
            for w in re.findall("[a-z0-9]+", (text or "").lower()):
                s = list(w) + [END]
                for a, b, _ in merges:
                    i, res = 0, []
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                            res.append(a + b)
                            i += 2
                        else:
                            res.append(s[i])
                            i += 1
                    s = res
                n += len(s)
            enc[doc_id] = (lang, n)
        return merges, enc

    _BPE_REPLAY_CACHE[sf] = compute()
    return _BPE_REPLAY_CACHE[sf]


def _bpe_merges_expected() -> str:
    merges, _ = _bpe_replay()
    values = ", ".join(
        f"(CAST({r + 1} AS BIGINT), '{a}', '{b}', CAST({c} AS BIGINT))"
        for r, (a, b, c) in enumerate(merges)
    )
    return (
        "SELECT * FROM (VALUES "
        + values
        + ") AS t(rank, left_sym, right_sym, pair_count) ORDER BY rank"
    )


@query("bpe_learn_merges", oracle=_bpe_merges_expected)
def bpe_learn_merges_docs(spark, sf_dir):
    """Distributed BPE merge learning (operators/bpe.py — Sennrich et al.
    2016): the first 30 merges over the documents corpus, (rank, left,
    right, weighted pair count). The corpus collapses to its vocabulary in
    one scan; each round is a vocabulary-sized pair count with a single
    collected argmax row. Oracled against an exact pure-Python replay
    (integer counts, total tie-break order — bit-deterministic)."""
    from chatdata_spark.operators.bpe import learn_bpe_merges

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = learn_bpe_merges(d, "text", n_merges=30, min_pair_count=2)
    return local_frame(
        spark,
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank long, left_sym string, right_sym string, pair_count long",
    ).orderBy("rank")


def _bpe_encode_expected() -> str:
    _, enc = _bpe_replay()
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for lang, n in enc.values():
        agg[lang][0] += 1
        agg[lang][1] += n
    values = ", ".join(
        f"('{lang}', CAST({v[0]} AS BIGINT), CAST({v[1]} AS BIGINT))"
        for lang, v in sorted(agg.items())
    )
    return (
        "SELECT * FROM (VALUES "
        + values
        + ") AS t(lang, n_docs, total_bpe_tokens) ORDER BY lang"
    )


@query("bpe_encode_token_stats", oracle=_bpe_encode_expected)
def bpe_encode_token_stats(spark, sf_dir):
    """The learned merge table APPLIED at corpus scale (operators/bpe.py::
    apply_bpe — one Arrow encode pass capturing only the rank list), rolled
    up to per-lang doc counts and total BPE token counts — the token-budget
    report a tokenizer-training pipeline emits. Composes learn + encode,
    both replayed exactly by the Python oracle."""
    from chatdata_spark.operators.bpe import apply_bpe, learn_bpe_merges

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = learn_bpe_merges(d, "text", n_merges=30, min_pair_count=2)
    return (
        apply_bpe(d.select("doc_id", "lang", "text"), "text", merges)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("bpe_tokens")).alias("total_bpe_tokens"),
        )
        .orderBy("lang")
    )


def lm_bucketed_ctes() -> str:
    """The bigram-LM scoring pipeline as a reusable CTE chain ending in
    ``l_bucketed`` (doc_id, lang, n_bigrams, cross_entropy, bucket).
    CTE names are l_-prefixed so the block composes into larger oracles
    (queries/pipeline.py::curation_select_v2) without collisions."""
    return """
    l_toks AS (
        SELECT doc_id, lang,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents
    ),
    l_bi AS (
        SELECT doc_id, lang, ws[i] AS w1, ws[i+1] AS w2
        FROM l_toks, UNNEST(range(1, len(ws))) AS t(i)
    ),
    l_cb AS (SELECT w1, w2, COUNT(*) AS cb FROM l_bi GROUP BY w1, w2),
    l_ctx AS (SELECT w1, COUNT(*) AS ctx FROM l_bi GROUP BY w1),
    l_v AS (
        SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT UNNEST(ws) AS w FROM l_toks)
    ),
    l_scored AS (
        SELECT doc_id, lang,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(
                   (-CAST(SUM(CAST(ROUND(LN((cb + 1.0) / (ctx + CAST(v AS DOUBLE))), 6)
                                   AS DECIMAL(18,6))) AS DOUBLE)) / COUNT(*),
                   6) AS cross_entropy
        FROM l_bi JOIN l_cb USING (w1, w2) JOIN l_ctx USING (w1) CROSS JOIN l_v
        GROUP BY doc_id, lang
    ),
    l_bucketed AS (
        SELECT doc_id, lang, n_bigrams, cross_entropy,
               CAST(NTILE(3) OVER (ORDER BY cross_entropy ASC, doc_id ASC) AS BIGINT) AS bucket
        FROM l_scored
    )"""


@query(
    "lm_perplexity_buckets",
    oracle="WITH" + lm_bucketed_ctes() + """
    SELECT doc_id, lang, n_bigrams, cross_entropy, bucket
    FROM l_bucketed ORDER BY doc_id
    """,
)
def lm_perplexity_buckets(spark, sf_dir):
    """CCNet-style LM-quality scoring (operators/lmquality.py — Wenzek et
    al. 2020): per-document cross-entropy under a corpus-trained add-1
    bigram LM, bucketed into head/middle/tail terciles (bucket 1 = most
    fluent). Weight files being absent, the LM is trained from the corpus
    itself in one pass — the (w1,w2)→logp table is the seam a real KenLM
    would fill. Docs with < 2 tokens carry no bigram and drop out. The
    oracle replays model training AND scoring in DuckDB SQL (same
    smoothing arithmetic, decimal-exact log-prob sums, same ntile
    tie-break)."""
    from chatdata_spark.operators.lmquality import (
        bigram_cross_entropy,
        perplexity_buckets,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = bigram_cross_entropy(d, "doc_id", "text", extra_cols=["lang"])
    return (
        perplexity_buckets(scored, "doc_id", n_buckets=3)
        .select(
            "doc_id", "lang", "n_bigrams", "cross_entropy",
            F.col("bucket").cast("long").alias("bucket"),
        )
        .orderBy("doc_id")
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               ROUND((ROUND(LN((SELECT n + 1 FROM n) / CAST(dft.df + 1 AS DOUBLE)), 4) + 1.0)
                     * (CAST(tf.tf AS DOUBLE)
                        / CAST(SUM(tf.tf) OVER (PARTITION BY tf.doc_id) AS DOUBLE)),
                     6) AS tfidf
        FROM tf JOIN dft USING (term)
    ),
    ranked AS (
        SELECT doc_id, term, tf, tfidf,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        FROM scored
    )
    SELECT doc_id, term, tf, tfidf, CAST(rn AS INT) AS rnk
    FROM ranked WHERE rn <= 5 ORDER BY doc_id, rnk
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Per-document top-5 keywords by smoothed TF-IDF (sklearn's
    ``smooth_idf`` formula) — keyword extraction / corpus characterization
    as a three-aggregation DataFrame pipeline: one token-stream shuffle
    into (doc, term) counts, a vocabulary-sized document-frequency table
    broadcast back, and doc-partitioned windows for length and rank (no
    extra exchange for the rank window). The oracle recomputes the same
    formula all-SQL; ranking on the rounded score with a full term
    tie-break keeps both sides' orderings identical
    (operators/textsearch.py:tfidf_top_terms)."""
    from chatdata_spark.operators.textsearch import tfidf_top_terms as _tfidf

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _tfidf(d, "doc_id", "text", k=5).orderBy("doc_id", "rnk")


@query(
    "pmi_phrase_mining",
    oracle="""
    WITH toks AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
    ),
    uni AS (SELECT unnest(t) AS w FROM toks),
    uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    bg AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS cxy FROM bg GROUP BY w1, w2),
    nt AS (SELECT COUNT(*) AS n FROM uni),
    nb AS (SELECT COUNT(*) AS n FROM bg)
    SELECT w1, w2, cxy,
           ROUND(LN(((CAST(cxy AS DOUBLE) * nt.n) * nt.n)
                    / ((CAST(nb.n AS DOUBLE) * a.c) * b.c)), 6) AS pmi
    FROM bc
    JOIN uc a ON a.w = bc.w1
    JOIN uc b ON b.w = bc.w2
    CROSS JOIN nt CROSS JOIN nb
    WHERE cxy >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 30
    """,
)
def pmi_phrase_mining(spark, sf_dir):
    """Top-30 collocations by pointwise mutual information among bigrams
    seen ≥ 5 times — the phrase pass run before tokenizer training
    (operators/phrases.py docstring). Corpus work = two explodes over one
    persisted tokenized frame; the PMI double is one fixed operand-order
    expression so the DuckDB oracle matches bit-for-bit after the shared
    round-6 log-parity recipe."""
    from chatdata_spark.operators.phrases import pmi_top_bigrams

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pmi_top_bigrams(d, "text", min_count=5, k=30)


@query(
    "source_overlap_kmv",
    oracle=r"""
    WITH w AS (
        SELECT source, regexp_split_to_array(lower(text), '\s+') AS w FROM documents
    ),
    g AS (
        -- floor-1 series: a document with < 3 words contributes one
        -- whole-text shingle (the repo short-text convention,
        -- operators/dedup.py::shingles_col / decontam.py docstring)
        SELECT source, array_to_string(w[i:i+2], ' ') AS gram
        FROM (SELECT source, w,
                     unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
              FROM w)
    ),
    h AS (
        SELECT DISTINCT source,
               CAST(('0x' || substr(md5('kmv' || gram), 1, 8)) AS BIGINT) AS h
        FROM g
    ),
    r AS (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM h
    ),
    s AS (
        SELECT source, list_sort(list(h)) AS sk, any_value(n) AS n
        FROM r WHERE rn <= 64 GROUP BY source
    ),
    p AS (
        -- strict >: at exactly k distinct hashes the sketch IS the set
        SELECT a.source AS group_a, b.source AS group_b,
               a.sk AS ska, b.sk AS skb,
               (a.n > 64 OR b.n > 64) AS sat
        FROM s a JOIN s b ON a.source < b.source
    ),
    f AS (
        SELECT group_a, group_b, sat, ska, skb,
               list_sort(list_distinct(ska || skb))[1:64] AS merged,
               len(list_distinct(ska || skb)) AS ulen
        FROM p
    )
    SELECT group_a, group_b,
      ROUND(CASE WHEN sat THEN 63.0 / (CAST(merged[64] + 1 AS DOUBLE) / 4294967296.0)
                 ELSE CAST(ulen AS DOUBLE) END, 6) AS est_union,
      ROUND(CASE WHEN sat
                 THEN CAST(len(list_intersect(list_intersect(merged, ska), skb)) AS DOUBLE) / 64.0
                 ELSE CAST(len(list_intersect(ska, skb)) AS DOUBLE) / CAST(ulen AS DOUBLE) END,
            6) AS est_jaccard,
      ROUND(CASE WHEN sat
                 THEN (CAST(len(list_intersect(list_intersect(merged, ska), skb)) AS DOUBLE) / 64.0)
                      * (63.0 / (CAST(merged[64] + 1 AS DOUBLE) / 4294967296.0))
                 ELSE CAST(len(list_intersect(ska, skb)) AS DOUBLE) END, 6) AS est_intersection
    FROM f ORDER BY group_a, group_b
    """,
)
def source_overlap_kmv(spark, sf_dir):
    """Pairwise source-overlap matrix from KMV distinct sketches
    (operators/kmv.py): 3-word shingles per source (short docs contribute
    one whole-text shingle, the repo convention) -> k=64 smallest
    md5-bucket hashes per source -> union / Jaccard / intersection
    estimates for every source pair, exact when a pair is unsaturated.
    The corpus-card redundancy matrix WITHOUT an all-pairs element join:
    one (source, hash) distinct shuffle + one bounded window, then s-row
    pairwise math. Every estimate is a deterministic function of the data
    (md5 order, fixed-operand float64, round 6), so the DuckDB oracle
    recomputes the sketches and estimates exactly."""
    from chatdata_spark.operators.dedup import _spread
    from chatdata_spark.operators.kmv import kmv_pairwise_overlap, kmv_sketch_by_group

    from chatdata_spark.operators.dedup import words_col, shingles_col

    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("source", "text"))
    # layered select: __w is referenced multiple times inside shingles_col's
    # lambda — materializing it blocks CollapseProject (CLAUDE.md)
    prep = d.select("source", words_col("text").alias("__w"))
    elems = prep.select("source", F.explode(shingles_col("__w", 3)).alias("gram"))
    sk = kmv_sketch_by_group(elems, "source", "gram", k=64)
    return kmv_pairwise_overlap(sk, "source").orderBy("group_a", "group_b")


@query(
    "text_ngram_diversity",
    oracle=r"""
    WITH w AS (
        SELECT source, regexp_split_to_array(lower(text), '\s+') AS w FROM documents
    ),
    t AS (SELECT source, unnest(w) AS tok FROM w),
    g AS (
        SELECT source, array_to_string(w[i:i+2], ' ') AS gram
        FROM (SELECT source, w,
                     unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
              FROM w)
    ),
    u AS (
        SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS distinct_tokens
        FROM t GROUP BY source
    ),
    tg AS (
        SELECT source, COUNT(*) AS n_trigrams, COUNT(DISTINCT gram) AS distinct_trigrams
        FROM g GROUP BY source
    )
    SELECT u.source, n_tokens, distinct_tokens,
           ROUND(CAST(distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
           n_trigrams, distinct_trigrams,
           ROUND(CAST(distinct_trigrams AS DOUBLE) / CAST(n_trigrams AS DOUBLE), 6)
               AS trigram_diversity
    FROM u JOIN tg USING (source) ORDER BY u.source
    """,
)
def text_ngram_diversity(spark, sf_dir):
    """N-gram diversity per source — the repetitiveness metric of corpus
    cards (low distinct-trigram ratio = boilerplate/templated text;
    type-token ratio = vocabulary breadth): TOTAL and DISTINCT unigrams
    and floor-1 trigrams (the repo shingle convention) per source, with
    the ratios rounded 6. Two scan-stage explodes feeding
    map-side-combined aggregates — the per-source frames are
    |sources|-row, the distinct counts shuffle (source, token/gram)
    pairs, never documents."""
    from chatdata_spark.operators.dedup import _spread, words_col

    d = _spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("source", "text")
    )
    prep = d.select("source", words_col("text").alias("__w"))
    toks = prep.select("source", F.explode("__w").alias("tok"))
    grams = prep.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("__w") - 2, F.lit(1))),
                lambda i: F.array_join(F.slice("__w", i, 3), " "),
            )
        ).alias("gram"),
    )
    u = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("tok").alias("distinct_tokens"),
    )
    tg = grams.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.count_distinct("gram").alias("distinct_trigrams"),
    )
    return (
        u.join(tg, "source")
        .select(
            "source",
            "n_tokens",
            "distinct_tokens",
            F.round(
                F.col("distinct_tokens").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("ttr"),
            "n_trigrams",
            "distinct_trigrams",
            F.round(
                F.col("distinct_trigrams").cast("double") / F.col("n_trigrams").cast("double"),
                6,
            ).alias("trigram_diversity"),
        )
        .orderBy("source")
    )


@query(
    "text_zipf_slope",
    oracle=r"""
    WITH w AS (
        SELECT source, regexp_split_to_array(lower(text), '\s+') AS w FROM documents
    ),
    t AS (SELECT source, unnest(w) AS tok FROM w),
    c AS (SELECT source, tok, COUNT(*) AS cnt FROM t GROUP BY source, tok),
    r AS (
        SELECT source, cnt,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, tok ASC) AS rank
        FROM c
    ),
    h AS (SELECT source, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
          FROM r WHERE rank <= 100),
    m AS (
        SELECT source, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(27,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(27,12))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS sxx
        FROM h GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_ranks,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
    FROM m ORDER BY source
    """,
)
def text_zipf_slope(spark, sf_dir):
    """Zipf power-law fit per source: least-squares slope of
    ln(frequency) on ln(rank) over each source's top-100 tokens —
    natural text sits near -1; a slope far off flags synthetic or
    templated vocabularies (corpus-card companion to
    text_ngram_diversity). Moments go through exact DECIMAL sums with
    one fixed float64 combine formula (the corr recipe), so the fit is
    reproducible cross-engine; rank ties share a count, making the
    (rank, cnt) multiset — and the slope — tie-order-invariant."""
    from pyspark.sql import Window

    from chatdata_spark.operators.dedup import _spread, words_col

    d = _spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("source", "text")
    )
    toks = d.select("source", F.explode(words_col("text")).alias("tok"))
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    win = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("tok"))
    ranked = counts.withColumn("rank", F.row_number().over(win)).filter(
        F.col("rank") <= 100
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("cnt").cast("double"))

    def dsum(expr, name):
        return F.sum(expr.cast("decimal(27,12)")).cast("double").alias(name)

    m = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x, "sx"), dsum(y, "sy"), dsum(x * y, "sxy"), dsum(x * x, "sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    return m.select(
        "source",
        n.cast("long").alias("n_ranks"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("zipf_slope"),
    ).orderBy("source")


@query(
    "heavy_hitter_tokens_by_lang",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(string_split({_D_NORM}, ' ')) AS tok
        FROM documents WHERE lang IS NOT NULL
    ),
    c AS (
        SELECT lang, tok, COUNT(*) AS n FROM toks WHERE tok <> '' GROUP BY 1, 2
    ),
    r AS (
        SELECT lang, tok AS token, n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
        FROM c WHERE n >= 60
    )
    SELECT lang, token, CAST(n AS BIGINT) AS n, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 8 ORDER BY lang, rk
    """,
)
def heavy_hitter_tokens_by_lang(spark, sf_dir):
    """GROUPED heavy hitters — top frequent tokens PER LANGUAGE (the
    per-stratum vocabulary profile) — via the same bounded-memory
    two-pass machinery as the global query: the composite key
    lang#token rides through the per-partition Misra-Gries candidate
    pass (one MG summary covers every group at once — no per-group
    state explosion), the exact broadcast recount restores true counts,
    then a |candidates|-row window ranks within language. The answer is
    exactly "top-8 of the >= min_count set per lang", so the contract is
    self-consistent at any corpus size; the MG superset bound
    (N/(k+1) < min_count) is ENFORCED rather than assumed (ADVICE r8):
    k_counters scales from a one-aggregate token count (floor 8192 —
    covers the 10x fixture; MG candidates are a superset for ANY
    conforming k, and the exact recount makes the final answer
    k-invariant), and the same pre-pass rejects lang values containing
    '#' (the composite-key delimiter) instead of silently mis-splitting.
    Shuffles candidates only — never the (lang x vocab) key space."""
    import math

    from pyspark.sql import Window

    from chatdata_spark.functions.text import words
    from chatdata_spark.operators.heavyhitters import heavy_hitters

    min_count = 60
    # NO _spread before the explode (r11, measured and REJECTED): the MG
    # partial aggregate keeps k_counters candidates PER PARTITION, so
    # spreading 1→32 partitions multiplied the candidate/recount volume
    # and measured 1.4x slower at min-of-5 (see heavyhitters.token_stream)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("lang").isNotNull()
    )
    toks = d.select(F.col("lang"), F.explode(words("text")).alias("tok")).filter(
        F.col("tok") != ""
    )
    # Memoized per fixture dir (ADVICE r9: an unmemoized plan-build
    # collect made the HEADLINE steady-state timing exclude a full token
    # scan — warm/timed passes and repeated driver compares now reuse
    # it). Same static-data assumption as dedup._STOP_SETS.
    pre = _HH_PRE_CACHE.get(sf_dir)
    if pre is None:
        pre = toks.agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.max(F.col("lang").contains("#")).alias("bad_lang"),
        ).collect()[0]
        _HH_PRE_CACHE[sf_dir] = pre
    if pre.bad_lang:
        raise ValueError(
            "heavy_hitter_tokens_by_lang: lang values must not contain '#' "
            "(the composite-key delimiter)"
        )
    k_counters = max(8192, math.ceil(int(pre.n_tok) / min_count))
    items = toks.select(F.concat_ws("#", "lang", "tok").alias("item"))
    hh = heavy_hitters(items, "item", min_count=min_count, k_counters=k_counters)
    split = hh.select(
        F.substring_index("item", "#", 1).alias("lang"),
        F.expr(
            "substring(item, length(substring_index(item, '#', 1)) + 2)"
        ).alias("token"),
        "n",
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "token")
    return (
        split.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 8)
        .orderBy("lang", "rk")
    )


@query(
    "doc_novelty_curve",
    oracle=r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
              FROM w)
    ),
    f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS novelty
    FROM g JOIN f USING (gram)
    GROUP BY g.doc_id ORDER BY doc_id
    """,
)
def doc_novelty_curve(spark, sf_dir):
    """Per-document n-gram NOVELTY — the fraction of a doc's distinct
    3-gram shingles whose FIRST occurrence (min doc_id over the corpus)
    is that doc. The curation "novelty curve": in ingestion order it
    shows marginal-information decay (when new docs stop contributing
    new n-grams, the crawl is saturating — the diminishing-returns
    signal behind dedup-then-stop policies). Exact, no sketch: one
    shuffle on gram builds first-occurrence (min is order-insensitive),
    the join back reuses the same gram partitioning (one Exchange, two
    uses), then one doc-keyed aggregate. Short docs contribute one
    whole-text shingle (the repo floor-1 convention). SUM(CASE) pinned
    BIGINT (HUGEINT guard); novelty follows the double(sum)/double(count)
    fixed op order both sides."""
    from chatdata_spark.operators.dedup import _spread, shingles_col, words_col

    d = _spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    prep = d.select("doc_id", words_col("text").alias("__w"))
    g = prep.select(
        "doc_id", F.explode(F.array_distinct(shingles_col("__w", 3))).alias("gram")
    )
    f = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(f, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id", "n_grams", "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


_UNIGRAM_REPLAY_CACHE: dict[str, dict] = {}  # keyed on the fixture dir


def _unigram_vocab_expected() -> str:
    """Lazy oracle for unigram_vocab_docs: pure-Python replay of the
    hard-EM training (operators/unigram.py::train_unigram_reference —
    shared Viterbi, identical integer count algebra) over word
    frequencies DuckDB/re re-derive from the same parquet (the
    oracle_sf_dir fixture — never a hardcoded path; memoized per dir,
    the _bpe_replay convention)."""
    import re

    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.unigram import train_unigram_reference

    sf = oracle_sf_dir()
    if sf not in _UNIGRAM_REPLAY_CACHE:
        rows = duckdb.sql(
            "SELECT lower(text) FROM read_parquet("
            f"'{sf}/documents.parquet')"
        ).fetchall()
        wf: dict = {}
        for (t,) in rows:
            for w in re.findall(r"[a-z0-9]+", t or ""):
                wf[w] = wf.get(w, 0) + 1
        _UNIGRAM_REPLAY_CACHE[sf] = train_unigram_reference(
            wf, vocab_size=300, max_piece_len=4, n_candidates=1500,
            em_iters=3,
        )
    counts = _UNIGRAM_REPLAY_CACHE[sf]
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    values = ", ".join(f"('{p}', {c})" for p, c in top)
    return (
        "SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM (VALUES "
        + values
        + ") AS t(piece, cnt) ORDER BY cnt DESC, piece ASC"
    )


@query("unigram_vocab_docs", oracle=_unigram_vocab_expected)
def unigram_vocab_docs(spark, sf_dir):
    """Unigram-LM tokenizer vocabulary training (operators/unigram.py —
    Kudo 2018, the SentencePiece `unigram` algorithm, hard-EM variant):
    candidate substrings of the DISTINCT-word table (vocab-collapse —
    bounded by vocabulary, not corpus), three EM rounds of one Arrow
    Viterbi pass + one piece-keyed aggregate each, chars never pruned.
    Top 50 pieces by (count, piece). Oracled against the sequential
    pure-Python replay (integer hard-EM counts are engine-order-free;
    distributed ≡ sequential pinned in tests/test_unigram.py too)."""
    from chatdata_spark.operators.unigram import train_unigram_vocab

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        train_unigram_vocab(
            d, "text", vocab_size=300, max_piece_len=4,
            n_candidates=1500, em_iters=3,
        )
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(50)
    )


def _unigram_encode_expected() -> str:
    """Lazy oracle for unigram_encode_stats: the memoized training replay
    (_unigram_vocab_expected's cache) segments every distinct word
    sequentially via the shared viterbi_pieces; totals are exact
    integer freq·n_pieces sums per lang."""
    import re

    import duckdb

    from chatdata_spark.catalog import oracle_sf_dir
    from chatdata_spark.operators.unigram import viterbi_pieces

    import math

    _unigram_vocab_expected()  # populate the training cache for this sf
    sf = oracle_sf_dir()
    counts = _UNIGRAM_REPLAY_CACHE[sf]
    total = sum(counts.values())
    logp = {p: math.log(c) - math.log(total) for p, c in counts.items()}
    rows = duckdb.sql(
        "SELECT lang, lower(text) FROM read_parquet("
        f"'{sf}/documents.parquet')"
    ).fetchall()
    agg: dict = {}
    np_cache: dict = {}
    for lang, t in rows:
        a = agg.setdefault(lang, [0, 0])
        a[0] += 1
        for w in re.findall(r"[a-z0-9]+", t or ""):
            if w not in np_cache:
                np_cache[w] = len(viterbi_pieces(w, logp, 4))
            a[1] += np_cache[w]
    values = ", ".join(
        f"('{lang}', CAST({a[0]} AS BIGINT), CAST({a[1]} AS BIGINT))"
        for lang, a in sorted(agg.items())
    )
    return (
        "SELECT * FROM (VALUES "
        + values
        + ") AS t(lang, n_docs, total_unigram_tokens) ORDER BY lang"
    )


@query("unigram_encode_stats", oracle=_unigram_encode_expected)
def unigram_encode_stats(spark, sf_dir):
    """The trained unigram vocabulary APPLIED at corpus scale
    (operators/unigram.py::unigram_piece_counts): per-lang doc counts and
    total unigram-LM token counts — the token-budget report for the
    SentencePiece-style tokenizer, pairing with unigram_vocab_docs the
    way bpe_encode_token_stats pairs with bpe_learn_merges. Vocab-collapse
    shape: the Arrow Viterbi pass runs over DISTINCT (lang, word) rows
    only; the corpus contributes one word-frequency aggregate. Train +
    encode both replayed exactly by the sequential Python oracle (shared
    viterbi_pieces, integer count algebra)."""
    from chatdata_spark.operators.unigram import (
        train_unigram_vocab,
        unigram_piece_counts,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = train_unigram_vocab(
        d, "text", vocab_size=300, max_piece_len=4,
        n_candidates=1500, em_iters=3,
    )
    counts = {r["piece"]: int(r["cnt"]) for r in vocab.collect()}
    totals = unigram_piece_counts(d, "text", counts, max_piece_len=4,
                                  group_col="lang")
    ndocs = d.groupBy(F.col("lang").alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        ndocs.join(F.broadcast(totals), "grp")
        .select(
            F.col("grp").alias("lang"),
            "n_docs",
            F.col("total_pieces").alias("total_unigram_tokens"),
        )
        .orderBy("lang")
    )
