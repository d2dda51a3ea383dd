"""Distributed BPE merge learning (north-star extension; byte-pair
encoding for subword tokenizers, Sennrich et al. 2016 — public method).
The repo's text stack counts tokens with a BPE-ish regex
(functions/text.py); this operator LEARNS the merge table itself from the
corpus — the training half of a tokenizer pipeline.

Classic word-frequency formulation:
- tokenize the corpus (the shared lowercase-alphanumeric stream) and
  aggregate to a (word, freq) table — the corpus collapses to its
  vocabulary, typically orders of magnitude smaller than the text;
- each word starts as its character sequence plus an end-of-word marker
  ``</w>`` (the standard boundary symbol — merges cannot cross words);
- repeat ``n_merges`` times: count adjacent symbol pairs weighted by word
  frequency, take the most frequent pair (count desc, then lexicographic
  (left, right) — fully deterministic), and rewrite every word's symbol
  sequence with the pair merged (leftmost-first within a word).

Spark-first shape (100 TB posture):
- the ONE corpus-sized pass is the word-frequency aggregation (scan +
  partial-agg shuffle); every merge round then works on the VOCABULARY
  table only;
- per round: adjacent pairs via equal-length slice zip (JVM) → explode →
  groupBy(pair) sum(freq) → a SINGLE collected row (the argmax — the
  only driver traffic per round); the rewrite is one Arrow pandas UDF
  over the symbol arrays (captures only the two merged symbols);
- each round ends in localCheckpoint(): the lineage would otherwise grow
  by one UDF per round and replan the whole history every round (the
  components.py fixpoint discipline).

Determinism: integer counts, total tie-break order, no RNG — the merge
table is bit-identical on any engine/partitioning, which is what makes
the pure-Python oracle replay exact.
"""

from __future__ import annotations

import pandas as pd  # module-top: pandas_udf type hints resolve against it
from pyspark.sql import DataFrame, functions as F

END = "</w>"


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the shared lowercase-alphanumeric token stream.
    _spread first: the token explode is the one corpus-sized stage of BPE
    learning — a 1-partition local scan would serialize it (CLAUDE.md
    rule)."""
    from chatdata_spark.operators.dedup import _spread

    words = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
    ).alias("word")
    return (
        _spread(df.select(F.col(text_col)))
        .select(words)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pairs(sym_col):
    """array<struct<l,r>> of adjacent symbol pairs (equal-length slice zip
    — no null padding)."""
    n1 = F.greatest(F.size(sym_col) - 1, F.lit(0))
    return F.zip_with(
        F.slice(sym_col, 1, n1),
        F.slice(sym_col, 2, n1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def _merge_pair(syms: list, a: str, b: str) -> list:
    """``syms`` with every left-to-right non-overlapping adjacent (a, b)
    replaced by the merged symbol a + b — one BPE merge."""
    i, out = 0, []
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


# Learned-merge memo keyed on (plan hash, params): two queries in one
# session (learn + encode-stats) train on the SAME input — re-running 30
# driver-looped rounds for an identical plan wastes the whole cost.
# STATIC-DATA ASSUMPTION (operators/incdedup.py note): semanticHash
# fingerprints the logical plan, not the data — valid here because the
# fixture parquet never mutates in place (versioned-dir convention).
_MERGE_MEMO: dict[tuple, list] = {}


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 30,
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn the merge table: [(left, right, weighted_pair_count), ...] in
    merge order. Stops early when the best pair's count falls below
    ``min_pair_count`` (merging hapax pairs memorizes the corpus)."""
    memo_key = (df.semanticHash(), text_col, n_merges, min_pair_count)
    if memo_key in _MERGE_MEMO:
        return list(_MERGE_MEMO[memo_key])
    spark = df.sparkSession
    vocab = (
        word_frequencies(df, text_col)
        .select(
            F.concat(
                F.split(F.col("word"), "").cast("array<string>"),
                F.array(F.lit(END)),
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint()
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            vocab.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best or best[0]["c"] < min_pair_count:
            break
        a, b, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((a, b, c))

        @F.pandas_udf("array<string>")
        def _merge(syms: pd.Series) -> pd.Series:  # captures only a, b
            return pd.Series([_merge_pair(list(s), a, b) for s in syms])

        vocab = vocab.select(_merge("syms").alias("syms"), "freq").localCheckpoint()
    _MERGE_MEMO[memo_key] = list(merges)
    return merges


def apply_bpe(
    df: DataFrame, text_col: str, merges: list[tuple[str, str, int]], out_col: str = "bpe_tokens"
) -> DataFrame:
    """Encode each row's token stream with a learned merge table (merges
    applied in rank order within each word — the standard greedy encode).
    One Arrow pandas UDF; captures only the rank list."""
    ranked = [(a, b) for a, b, _ in merges]

    @F.pandas_udf("array<string>")
    def _encode(texts: pd.Series) -> pd.Series:
        import re

        out = []
        for t in texts:
            toks: list[str] = []
            for w in re.findall("[a-z0-9]+", (t or "").lower()):
                s = list(w) + [END]
                for a, b in ranked:
                    s = _merge_pair(s, a, b)
                toks.extend(s)
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, _encode(F.col(text_col)))
