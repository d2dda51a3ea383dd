"""Unigram-LM tokenizer vocabulary training (Kudo 2018, "Subword
Regularization" — the SentencePiece `unigram` algorithm): the OTHER
mainstream subword tokenizer next to BPE (operators/bpe.py). Where BPE
grows a vocabulary bottom-up by merging frequent pairs, unigram starts
from a LARGE candidate set of substrings and iteratively re-estimates
piece probabilities with EM over the best segmentation, pruning the
vocabulary down — the reference's upload-and-embed pipeline sits in
front of models tokenized exactly this way
(/root/reference/app/backend/chat_bot/tools.py:13-50).

This implementation is the deterministic HARD-EM (Viterbi-counts)
variant: the E-step segments each word with the current piece
log-probabilities and counts pieces along the single best path, the
M-step re-normalizes counts — all counts stay integers, so the
registered query's oracle replays the training bit-exactly in pure
Python (the learn_bpe_merges convention).

Spark-first shape (100 TB posture, the vocab-collapse rule):
- ONE corpus-sized stage: the word-frequency aggregate
  (operators/bpe.py::word_frequencies, shared with BPE).
- Candidate generation explodes substrings of DISTINCT words — bounded
  by vocabulary, not corpus; top-K by weighted count + every single
  char (guarantees segmentability).
- Each EM round: one Arrow pass segmenting the distinct-word table with
  a BROADCAST piece table (the closure captures only a dict of floats),
  one piece-keyed aggregate, one bounded collect (≤ n_candidates rows —
  the bounded-statistics license, like IVF centroids).
"""

from __future__ import annotations

import math

import pandas as pd  # noqa: F401  (module-top import: pandas_udf hint rule)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatdata_spark.session import local_frame


def viterbi_pieces(word: str, logp: dict, max_len: int) -> list:
    """Single best segmentation of ``word`` under piece log-probs —
    strict-improvement DP scanning piece lengths ASCENDING, so ties keep
    the shortest final piece (deterministic). Shared verbatim by the
    oracle replay and the Arrow passes."""
    n = len(word)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for length in range(1, min(max_len, i) + 1):
            lp = logp.get(word[i - length : i])
            if lp is None:
                continue
            s = best[i - length] + lp
            if s > best[i]:
                best[i] = s
                back[i] = length
    out = []
    i = n
    while i > 0:
        out.append(word[i - back[i] : i])
        i -= back[i]
    return out[::-1]


def train_unigram_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 400,
    max_piece_len: int = 4,
    n_candidates: int = 2000,
    em_iters: int = 3,
) -> DataFrame:
    """(piece, cnt): the trained unigram vocabulary — hard-EM counts
    after ``em_iters`` rounds, pruned each round to ``vocab_size`` pieces
    by (cnt DESC, piece ASC) with single chars never pruned. ``cnt`` is
    the integer number of times the piece appears on best-segmentation
    paths, word-frequency-weighted."""
    from chatdata_spark.operators.bpe import word_frequencies

    spark = df.sparkSession
    wf = word_frequencies(df, text_col).persist()
    L = int(max_piece_len)

    # -- candidates: substrings of DISTINCT words, occurrence-weighted --
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.least(F.lit(L), F.length("word"))),
            lambda l: F.transform(
                F.sequence(F.lit(1), F.length("word") - l + 1),
                lambda s: F.col("word").substr(s, l),
            ),
        )
    )
    cand = (
        wf.select(F.col("freq"), F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    top = cand.orderBy(F.col("cnt").desc(), F.col("piece").asc()).limit(
        int(n_candidates)
    )
    chars = cand.filter(F.length("piece") == 1)
    counts = {
        r["piece"]: int(r["cnt"])
        for r in top.unionByName(chars).dropDuplicates(["piece"]).collect()
    }
    # the char inventory is NEVER pruned (count floor 1): a char that
    # falls off every best path one round must stay segmentable — SP's
    # required-chars rule
    char_inventory = sorted(p for p in counts if len(p) == 1)

    def _prune(counts: dict) -> dict:
        keep = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            : int(vocab_size)
        ]
        kept = dict(keep)
        for c in char_inventory:
            kept[c] = max(kept.get(c, 0), counts.get(c, 0), 1)
        return kept

    counts = _prune(counts)
    for _ in range(int(em_iters)):
        total = sum(counts.values())
        logp = {p: math.log(c) - math.log(total) for p, c in counts.items()}

        @F.pandas_udf("array<string>")
        def _segment(words: pd.Series) -> pd.Series:
            return words.map(lambda w: viterbi_pieces(w, logp, L))

        new = (
            wf.select("freq", F.explode(_segment("word")).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .collect()
        )
        counts = _prune({r["piece"]: int(r["cnt"]) for r in new})

    wf.unpersist()
    rows = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return local_frame(spark, rows, "piece string, cnt bigint")


def train_unigram_reference(word_freqs: dict, vocab_size: int = 400,
                            max_piece_len: int = 4, n_candidates: int = 2000,
                            em_iters: int = 3) -> dict:
    """Sequential pure-Python twin of :func:`train_unigram_vocab` over a
    ``{word: freq}`` dict — the oracle replay. Same candidate selection,
    same prune, same Viterbi (via the shared :func:`viterbi_pieces`),
    same integer count algebra; equality with the distributed path is
    pinned in tests/test_unigram.py and by the registered query."""
    L = int(max_piece_len)
    cand: dict = {}
    for w, f in word_freqs.items():
        for length in range(1, min(L, len(w)) + 1):
            for s in range(0, len(w) - length + 1):
                p = w[s : s + length]
                cand[p] = cand.get(p, 0) + f
    top = sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))[: int(n_candidates)]
    counts = dict(top)
    for p, c in cand.items():
        if len(p) == 1:
            counts.setdefault(p, c)
    char_inventory = sorted(p for p in counts if len(p) == 1)

    def prune(counts: dict) -> dict:
        keep = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            : int(vocab_size)
        ]
        kept = dict(keep)
        for c in char_inventory:
            kept[c] = max(kept.get(c, 0), counts.get(c, 0), 1)
        return kept

    counts = prune(counts)
    for _ in range(int(em_iters)):
        total = sum(counts.values())
        logp = {p: math.log(c) - math.log(total) for p, c in counts.items()}
        new: dict = {}
        for w, f in word_freqs.items():
            for p in viterbi_pieces(w, logp, L):
                new[p] = new.get(p, 0) + f
        counts = prune(new)
    return counts


_NPIECES_UDFS: dict = {}  # (L, sorted counts) -> UDF; memoized so repeated
# plans stay CacheManager-equal (CLAUDE.md memoization rule)


def unigram_piece_counts(df: DataFrame, text_col: str, counts: dict,
                         max_piece_len: int = 4, group_col: str = "lang",
                         ) -> DataFrame:
    """(group, total_pieces): total unigram-LM token count per group when
    the corpus is segmented with the trained vocabulary ``counts`` — the
    encode half of the tokenizer (pairs with train_unigram_vocab the way
    apply_bpe pairs with learn_bpe_merges).

    Vocab-collapse shape: one corpus-sized (group, word) frequency
    aggregate, ONE Arrow Viterbi pass over the DISTINCT words only
    (bounded by vocabulary), then freq·n_pieces summed per group — the
    text itself is never segmented row-by-row at corpus scale.

    Precondition: every character of every word appears in ``counts``
    (guaranteed when counts came from train_unigram_vocab over the same
    token stream — the char inventory is never pruned), so the Viterbi
    DP always reaches every position."""
    from chatdata_spark.operators.dedup import _spread

    L = int(max_piece_len)
    total = sum(counts.values())
    logp = {p: math.log(c) - math.log(total) for p, c in counts.items()}

    key = (L, tuple(sorted(counts.items())))
    if key not in _NPIECES_UDFS:

        @F.pandas_udf("int")
        def _npieces(words: pd.Series) -> pd.Series:
            return words.map(lambda w: len(viterbi_pieces(w, logp, L))).astype("int32")

        _NPIECES_UDFS[key] = _npieces

    words = F.explode(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
    ).alias("word")
    gw = (
        _spread(df.select(F.col(group_col).alias("grp"), F.col(text_col)))
        .select("grp", words)
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pieces = gw.select(
        "grp", "freq", _NPIECES_UDFS[key](F.col("word")).alias("np")
    )
    return pieces.groupBy("grp").agg(
        F.sum(F.col("freq") * F.col("np")).alias("total_pieces")
    )
