"""End-to-end corpus curation pipeline as ONE oracle-checked query —
the composition story: every stage below is an individually-green operator
(quality gate, exact dedup, near-dup canonicalization, benchmark
decontamination, deterministic split), and this query chains them the way
a production training-data build does, proving the stages compose without
semantic drift (column contracts, survivor sets, determinism) under the
same bit-exact DuckDB oracle discipline.

Scale shape: each stage is scan/shuffle-bounded on the SURVIVORS of the
previous one — quality is scan-stage, exact dedup shuffles sha256 digests,
the near-dup join runs its inverted index over the deduped subset only,
decontamination broadcasts the benchmark n-gram set, and the split is a
scan-stage hash — no stage widens the data again.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chatdata_spark.queries.dedup import _duck_components, _duck_jaccard_pairs
from chatdata_spark.queries.sampling import _D_BUCKET
from chatdata_spark.queries.text import _D_QUALITY, _profile_frame
from chatdata_spark.registry import query

_VAL_HI = "CAST(0.1 * 4294967296 AS BIGINT)"

_CURATION_ORACLE = f"""
WITH RECURSIVE prof AS (
    SELECT doc_id, text, {_D_QUALITY} AS q FROM documents
),
qual AS (SELECT doc_id, text FROM prof WHERE q >= 0.5),
ded AS (
    SELECT doc_id, text FROM qual
    QUALIFY row_number() OVER (PARTITION BY lower(text) ORDER BY doc_id) = 1
),
shw AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM ded),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ')
                          for i in generate_series(1, greatest(len(w)-2, 1))]) AS sh
    FROM shw
),
{_duck_components(_duck_jaccard_pairs(0.4))},
canon AS (
    SELECT d.doc_id, d.text FROM ded d LEFT JOIN comp ON d.doc_id = comp.v
    WHERE COALESCE(comp.c, d.doc_id) = d.doc_id
),
w5 AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM canon),
s5 AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+4], ' ')
                          for i in generate_series(1, greatest(len(w)-4, 1))]) AS sh
    FROM w5
),
bw AS (
    SELECT regexp_split_to_array(lower(text), '\\s+') AS w
    FROM documents WHERE doc_id % 50 = 0
),
bsh AS (
    SELECT [array_to_string(w[i:i+4], ' ')
            for i in generate_series(1, greatest(len(w)-4, 1))] AS sh
    FROM bw
),
bench AS (SELECT DISTINCT unnest(sh) AS g FROM bsh),
hits AS (
    SELECT s.doc_id, count(b.g) AS n_hits
    FROM (SELECT doc_id, unnest(sh) AS g FROM s5) s
    LEFT JOIN bench b ON s.g = b.g
    GROUP BY s.doc_id
),
clean AS (SELECT doc_id FROM hits WHERE n_hits < 1)
SELECT c.doc_id,
       CASE WHEN {_D_BUCKET.format(salt='split', key='c.doc_id')} < {_VAL_HI} THEN 'val'
            WHEN {_D_BUCKET.format(salt='split', key='c.doc_id')} < {_VAL_HI} + {_VAL_HI} THEN 'test'
            ELSE 'train' END AS split
FROM clean c ORDER BY c.doc_id
"""


@query("curation_pipeline_docs", oracle=_CURATION_ORACLE)
def curation_pipeline_docs(spark, sf_dir):
    """quality >= 0.5 -> exact dedup (keep-min per lower(text)) -> near-dup
    connected components keep-canonical (3-word-shingle jaccard >= 0.4) ->
    drop any doc sharing a 5-gram with the benchmark slice (doc_id % 50 ==
    0 of the ORIGINAL corpus) -> deterministic train/val/test assignment.
    Survivor set and split labels oracle-checked end to end."""
    from chatdata_spark.operators.components import canonical_assignment
    from chatdata_spark.operators.decontam import decontaminate
    from chatdata_spark.operators.dedup import exact_dedup, jaccard_similarity_join
    from chatdata_spark.operators.sampling import train_val_test_split

    full = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    qual = (
        _profile_frame(spark, sf_dir)
        .filter(F.col("quality") >= 0.5)
        .select("doc_id")
        .join(full, "doc_id")
    )
    from pyspark import StorageLevel

    # ded feeds FOUR consumers (the shingle index, the components input,
    # the canon join-back, and — through canon — the decontam explode):
    # without the persist the quality-profile + window-dedup subtree
    # re-evaluates per consumer (r11 opt: the final plan alone carried it
    # twice, plans/r11/curation_pipeline_docs_before.txt nodes 1-19 vs
    # 26-47, plus the pair/components jobs). Same multi-consumer persist
    # convention as tfidf's tf table (operators/textsearch.py:410).
    ded = (
        exact_dedup(
            qual.withColumn("__norm", F.lower("text")), ["__norm"], "doc_id", keep="min"
        )
        .select("doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = jaccard_similarity_join(ded, "doc_id", "text", k=3, threshold=0.4)
    canon = (
        canonical_assignment(ded.select("doc_id"), "doc_id", pairs)
        .filter(F.col("keep"))
        .select("doc_id")
        .join(ded, "doc_id")
    )
    bench = full.filter(F.col("doc_id") % 50 == 0)
    flags = decontaminate(canon, bench, "doc_id", "text", "text", n=5, min_hits=1)
    clean = flags.filter(~F.col("contaminated")).select("doc_id")
    return (
        train_val_test_split(clean, "doc_id", 0.1, 0.1, salt="split")
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def _curation_v2_oracle() -> str:
    from chatdata_spark.queries.sampling import dsir_sel_ctes
    from chatdata_spark.queries.text import _D_BPE, lm_bucketed_ctes

    return (
        "WITH" + lm_bucketed_ctes() + "," + dsir_sel_ctes(200) + f"""
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST({_D_BPE} AS BIGINT)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(l.cross_entropy AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avg_cross_entropy
    FROM documents d
    JOIN (SELECT doc_id, cross_entropy FROM l_bucketed WHERE bucket <= 2) l
      USING (doc_id)
    JOIN (SELECT doc_id FROM d_sel) USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
    """
    )


@query("curation_select_v2", oracle=_curation_v2_oracle)
def curation_select_v2(spark, sf_dir):
    """The round-6 signals COMPOSED into one selection pass — the modern
    (quality-model + importance-resampling) counterpart of
    curation_pipeline_docs' rule-based chain: keep documents that are BOTH
    fluent under the corpus bigram LM (perplexity bucket 1-2 of 3,
    operators/lmquality.py) AND in the DSIR top-200 most-target-like set
    (English-slice target, operators/dsir.py), then report the per-lang
    doc count, BPE-regex token budget, and mean cross-entropy of the
    selected corpus. Both stages are individually driver-green; this pins
    their composition (semi-join survivor algebra, shared tokenization)
    under one oracle that chains both stages' full SQL replays."""
    from chatdata_spark.functions.text import BPE_PATTERN
    from chatdata_spark.operators.dsir import dsir_resample
    from chatdata_spark.operators.lmquality import (
        bigram_cross_entropy,
        perplexity_buckets,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lmkeep = (
        perplexity_buckets(bigram_cross_entropy(d, "doc_id"), "doc_id", n_buckets=3)
        .filter(F.col("bucket") <= 2)
        .select("doc_id", "cross_entropy")
    )
    sel = dsir_resample(
        d, d.filter(F.col("lang") == "en"), "doc_id", "text", k=200, m=256
    ).select("doc_id")
    from chatdata_spark.operators.dedup import _spread

    # spread before the BPE regexp_count (r11): the token-budget regex
    # otherwise runs in the 1-partition local scan layout (no-op at scale)
    return (
        _spread(d.select("doc_id", "lang", "text"))
        .select("doc_id", "lang", F.regexp_count("text", F.lit(BPE_PATTERN)).alias("__bpe"))
        .join(lmkeep, "doc_id")
        .join(F.broadcast(sel), "doc_id", "left_semi")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__bpe").cast("long")).alias("total_tokens"),
            (
                F.sum(F.col("cross_entropy").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_cross_entropy"),
        )
        .orderBy("lang")
    )
