"""Full-text search operators: BM25 ranking and reciprocal-rank fusion.

Extension beyond the reference's surface (its MyScale backend offers hybrid
text+vector search as a platform feature; the app itself only uses vector
retrieval — /root/reference/app/backend/retrievers/vector_sql_query.py:16-94).
Here BM25 is a pure DataFrame pipeline and hybrid search = RRF over a BM25
ranking and a kNN ranking, so a ChatData-style "retrieve by meaning OR by
keyword" flow runs on Spark with no extra infrastructure.

Scale design (100 TB posture):
- The token stream is aggregated ONCE per document (`groupBy(id)`) with the
  query-term frequencies pivoted into fixed columns — one corpus shuffle on
  compact (id, dl, tf...) rows; document frequencies then come from a second
  aggregation over that per-doc table (one narrow row per doc). No join
  keyed on a term (a hot term would be a skewed bucket); the per-term
  corpus stats travel as a broadcast 1-row crossJoin.
- The BM25 score is a FIXED-ORDER sum of per-term expressions (not a float
  aggregation), so results are deterministic and oracle-comparable; the
  only library call is ln(), which pytest pins bit-identical to DuckDB's
  over the live df domain.
- For repeated querying at scale, materialize `per_doc_stats` (id, dl) and
  term df counts once and reuse; `bm25_topk` recomputes them inline so a
  single call is self-contained.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) token stream: lowercase alphanumeric runs — the same
    extraction `regexp_extract_all(lower(text), '[a-z0-9]+')` on the DuckDB
    oracle side, sidestepping split-boundary semantics differences.

    The raw rows are spread BEFORE the regex+explode: both evaluate in
    the source's partitioning, which on 1-partition local files would
    serialize the corpus tokenization on one core (r11 scan-stage audit);
    at real scale the spread is a no-op."""
    from chatdata_spark.operators.dedup import _spread

    return _spread(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
        ).alias("term"),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 6,
    idf: str = "okapi",
) -> DataFrame:
    """BM25 top-k: ``idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    summed over query terms.

    ``idf='okapi'`` (default): ``ln(1 + (N-df+0.5)/(df+0.5))`` — standard
    Okapi. ``idf='rational'``: the same quantity WITHOUT the log — Java's
    Math.log and DuckDB's ln disagree by 1 ulp on ~8% of arguments
    (tests/test_textsearch.py pins this), so the log-free config is the one
    registered for driver hash-match oracles; it preserves single-term
    ranking order (monotone in df) with more aggressively idf-weighted
    multi-term sums.

    Output: (id_col, score) ordered by score DESC, id ASC, limited to k —
    plans as TakeOrderedAndProject, never a global sort.
    """
    # NOTE (measured and rejected): a narrow BM25 computing per-document
    # tf/dl straight from the token array, without the token explode and
    # the per-doc shuffle, gave no gain: rag_serve funnel p50 went
    # 1.33 -> 1.46 s at local[4].
    toks = tokenize(df, id_col, text_col)
    aggs = [F.count(F.lit(1)).alias("dl")]
    for i, t in enumerate(terms):
        aggs.append(F.count(F.when(F.col("term") == t, 1)).alias(f"tf{i}"))
    per_doc = toks.groupBy("id").agg(*aggs)

    stat_aggs = [
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    ]
    for i in range(len(terms)):
        stat_aggs.append(
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).cast("double").alias(f"df{i}")
        )
    stats = per_doc.agg(*stat_aggs)

    joined = per_doc.crossJoin(F.broadcast(stats))
    score: Column | None = None
    for i in range(len(terms)):
        tf = F.col(f"tf{i}").cast("double")
        dfi = F.col(f"df{i}")
        ratio = (F.col("n") - dfi + F.lit(0.5)) / (dfi + F.lit(0.5))
        w = ratio if idf == "rational" else F.log(F.lit(1.0) + ratio)
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + (F.lit(b) * F.col("dl")) / F.col("avgdl")
        )
        s_i = F.when(
            F.col(f"tf{i}") > 0, (w * (tf * F.lit(k1 + 1.0))) / denom
        ).otherwise(F.lit(0.0))
        score = s_i if score is None else score + s_i

    return (
        joined.withColumn("score", F.round(score, round_digits))
        .filter(F.col("score") > 0)
        .select(F.col("id").alias(id_col), "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def with_rank(df: DataFrame, order_cols: list[Column]) -> DataFrame:
    """Add a 1-based ``rank`` column over a GLOBAL ordering. Single-partition
    window — only ever apply to an already top-n-limited result (n ≈ 10²),
    never to a corpus-sized DataFrame."""
    return df.withColumn("rank", F.row_number().over(Window.orderBy(*order_cols)))


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str,
    k0: int = 60,
    k: int | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion: ``sum_i 1/(k0 + rank_i)`` over result lists
    that each carry (id_col, rank). Missing membership contributes 0. The
    fused score is a fixed-order sum of exact-rational doubles — bit-stable
    across engines with no library-function dependence."""
    out: DataFrame | None = None
    for i, rdf in enumerate(ranked):
        r = rdf.select(F.col(id_col), F.col("rank").alias(f"__r{i}"))
        out = r if out is None else out.join(r, id_col, "full_outer")
    expr: Column | None = None
    for i in range(len(ranked)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k0)) + F.col(f"__r{i}")), F.lit(0.0)
        )
        expr = term if expr is None else expr + term
    res = (
        out.withColumn("rrf", F.round(expr, round_digits))
        .select(id_col, "rrf")
        .orderBy(F.desc("rrf"), F.asc(id_col))
    )
    return res.limit(k) if k is not None else res


def phrase_match(df: DataFrame, text_col: str, phrase: str) -> Column:
    """Exact-phrase predicate under the corpus normalization convention
    (lowercase, collapsed whitespace): scan-stage `contains` on the
    normalized text — no tokenization, no shuffle, prunable to the text
    column. Matches across word boundaries exactly like an inverted
    index's phrase query (positions adjacent)."""
    from chatdata_spark.functions.text import norm_text

    needle = " ".join(phrase.lower().split())
    return F.contains(norm_text(F.col(text_col)), F.lit(needle))


def proximity_match(
    df: DataFrame, text_col: str, term_a: str, term_b: str, max_distance: int
) -> Column:
    """True when ``term_a`` and ``term_b`` occur within ``max_distance``
    words of each other (unordered — the classic NEAR/n operator).

    Scan-stage, JVM-only: tokenize once, collect each term's positions
    with a single filtered transform (positions arrays are tiny — bounded
    by term frequency), then test min pairwise |i-j| via one exists() over
    the smaller cross of positions. No shuffle, no UDF; cost is O(words +
    tf_a * tf_b) per row with tf's typically « doc length."""
    from chatdata_spark.functions.text import words

    w = words(F.col(text_col))
    idx = F.transform(w, lambda x, i: F.struct(x.alias("t"), i.alias("i")))
    pos_a = F.transform(
        F.filter(idx, lambda s: s["t"] == F.lit(term_a.lower())), lambda s: s["i"]
    )
    pos_b = F.transform(
        F.filter(idx, lambda s: s["t"] == F.lit(term_b.lower())), lambda s: s["i"]
    )
    near = F.exists(
        pos_a,
        lambda a: F.exists(pos_b, lambda b: F.abs(a - b) <= F.lit(max_distance)),
    )
    return F.coalesce(near, F.lit(False))


def overlap_rerank_score(text_col, query: str) -> Column:
    """Deterministic stub reranker: distinct-token overlap fraction between
    the query and the document (|q ∩ d| / |q|, normalized tokens). It
    stands in for the reference's cross-encoder and is the only rerank
    scorer; it stays SQL-expressible so the rerank stage is
    oracle-checkable. JVM-only: one array_intersect over the scan."""
    qtoks = sorted({t for t in query.lower().split() if t})
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    from chatdata_spark.functions.text import words

    hit = F.size(F.array_intersect(F.array_distinct(words(c)), F.array(*[F.lit(t) for t in qtoks])))
    return F.round(hit / F.lit(float(len(qtoks))), 6)


def rerank_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int,
) -> DataFrame:
    """Final rerank stage of the retrieval funnel: re-score an already
    top-n-limited candidate frame (n ~ 10²) with
    :func:`overlap_rerank_score` and keep the top k."""
    scored = df.withColumn("rerank_score", overlap_rerank_score(text_col, query))
    return scored.orderBy(F.desc("rerank_score"), F.asc(id_col)).limit(k)


def stuff_context(
    df: DataFrame,
    text_col: str,
    order_cols: list[Column],
    max_tokens: int,
    sep: str = "\n\n",
    doc_template: str = "{text}",
) -> DataFrame:
    """Stuff a retrieval page into ONE prompt context under a token budget
    — the engine-side twin of the reference's stuff chain
    (stuff_documents.py:28-42: per-doc ref_id in page order, newlines
    flattened to spaces, join on the document separator) with the
    retrieval chain's `max_tokens_limit` truncation
    (build_chains.py:37; LangChain drops docs from the END of the list
    until the total fits, i.e. keeps the maximal relevance-ordered PREFIX
    whose cumulative tokens ≤ budget).

    Contract: ``df`` is an already top-k-limited results page (~10¹ rows)
    — the single-partition ordering window is deliberate, same as
    :func:`with_rank`. Tokens are the scan-stage whitespace-token count
    (mirrorable in SQL), the stand-in for the reference's LLM tokenizer.
    ``doc_template`` formats each doc with its page-order reference id —
    ``"Doc #{ref}: {text}"`` reproduces the reference's per-doc
    document_prompt + injected ref_id (stuff_documents.py:29-33), which
    the answer stage's 'Doc #n' back-references resolve against; the
    budget counts RAW text tokens (the truncation chain trims before
    formatting). Returns one row: (context, n_docs, n_tokens)."""
    flat = F.regexp_replace(F.col(text_col), "\n", " ")
    toks = F.size(F.regexp_extract_all(flat, F.lit(r"\S+"), 0))
    w = Window.orderBy(*order_cols)
    staged = (
        df.withColumn("__txt", flat)
        .withColumn("__tok", toks.cast("long"))
        .withColumn("__ref", F.row_number().over(w) - 1)
        .withColumn("__cum", F.sum("__tok").over(w))
    )
    kept = staged.filter(F.col("__cum") <= max_tokens)
    ordered = F.array_sort(F.collect_list(F.struct("__ref", "__txt")))

    def _render(s):
        parts = []
        rest = doc_template
        while rest:
            i = min(
                (rest.index(p) for p in ("{ref}", "{text}") if p in rest),
                default=len(rest),
            )
            if i:
                parts.append(F.lit(rest[:i]))
            rest = rest[i:]
            if rest.startswith("{ref}"):
                parts.append(s["__ref"].cast("string"))
                rest = rest[len("{ref}"):]
            elif rest.startswith("{text}"):
                parts.append(s["__txt"])
                rest = rest[len("{text}"):]
        return F.concat(*parts) if len(parts) > 1 else parts[0]

    return kept.agg(
        F.array_join(
            F.transform(ordered, _render), sep
        ).alias("context"),
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("__tok"), F.lit(0).cast("long")).alias("n_tokens"),
    )


def snippet(text_col, query: str, window: int = 8) -> Column:
    """Best-matching snippet: the ``2*window+1``-word span centered on the
    first occurrence of any query term (the earliest-position term wins;
    the whole leading span when nothing matches). Scan-stage JVM: one
    tokenize, one filtered-transform positions pass, one slice+join — the
    search-results-page highlight without a second scan or UDF."""
    from chatdata_spark.functions.text import words

    qtoks = sorted({t for t in query.lower().split() if t})
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    w = words(c)
    idx = F.transform(w, lambda x, i: F.struct(x.alias("t"), i.alias("i")))
    hits = F.transform(
        F.filter(idx, lambda s: s["t"].isin(*qtoks)), lambda s: s["i"]
    )
    first = F.array_min(hits)  # NULL when no term matches
    start = F.greatest(F.coalesce(first, F.lit(0)) - F.lit(window), F.lit(0))
    return F.array_join(F.slice(w, start + 1, 2 * window + 1), " ")


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document top-``k`` terms by smoothed TF-IDF — the classic
    keyword-extraction / corpus-characterization pass (sklearn's
    ``smooth_idf`` formula): ``idf(t) = ln((N+1)/(df+1)) + 1`` and
    ``tfidf = idf * tf/dl`` with ``dl`` the document's token count.

    Columns ``(id, term, tf, tfidf, rnk)``, ``rnk`` = 1..k per document
    ordered by (tfidf DESC, term) — fully tie-broken, so oracle-comparable.

    Scale shape (100 TB): the token stream shuffles ONCE into the per-
    (doc, term) ``tf`` table with map-side combine (shuffled bytes ≈
    distinct doc-term pairs per map partition, not raw tokens). ``tf`` is
    PERSISTED because both downstream branches (doc-length window,
    document-frequency aggregate) consume it — without the persist each
    branch replans the scan and the corpus is tokenized twice (the
    groupBy+join-back double-evaluation trap; same fix as
    substrdedup.py:169). Document frequencies aggregate the cached table
    (vocabulary-sized output, partial agg absorbs hot-term skew — NOT a
    count-over-term window, whose hot-term partition would hold nearly
    every doc) and come back as a BROADCAST join, so corpus rows never
    shuffle on a term key. Both windows (doc length, rank) partition on
    the doc id; after the dl window the data is already
    hash(id)-partitioned, so the rank window adds no exchange. For open
    web-scale vocabularies beyond broadcast size, drop the broadcast hint:
    the join then shuffles per-(doc, term) rows, still never raw tokens.

    ``idf`` is rounded to 4 digits before the multiply (the repo's
    cross-engine ln() convention, cf. text_unigram_logprob) and the final
    score to ``round_digits``; ranking happens on the ROUNDED value both
    sides, so order is deterministic wherever the raw doubles are
    bit-identical (same operand order both sides).
    """
    n_docs = df.count()  # bounded driver scalar: one int, same role as the
    # oracle's (SELECT COUNT(*) FROM documents) subquery
    from pyspark import StorageLevel

    toks = tokenize(df, id_col, text_col)
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl_w = Window.partitionBy("id")
    idf = F.round(
        F.log(F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1)).cast("double")), 4
    ) + F.lit(1.0)
    scored = (
        tf.withColumn("dl", F.sum("tf").over(dl_w))
        .join(F.broadcast(dft), "term")
        .withColumn(
            "tfidf",
            F.round(idf * (F.col("tf").cast("double") / F.col("dl").cast("double")), round_digits),
        )
    )
    rank_w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") <= k)
        .select(F.col("id").alias(id_col), "term", "tf", "tfidf", "rnk")
    )
