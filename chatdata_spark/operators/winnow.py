"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
the MOSS local fingerprinting algorithm), plus the shared-fingerprint
near-dup pair join built on them.

Winnowing selects, in every window of ``w`` consecutive k-gram hashes, the
RIGHTMOST minimal hash. The selected (position, hash) pairs are the
document's fingerprint sketch with two guarantees the other dedup sketches
don't give: (a) any shared substring of at least ``w + k - 1`` words
between two documents yields at least one shared fingerprint (detection
guarantee), and (b) at least one gram is selected from every window
(density bound ~2/(w+1)), so sketch size tracks document length. It
complements the family in operators/dedup.py: minhash bounds JACCARD
similarity, winnowing bounds shared-SUBSTRING length — the plagiarism /
boilerplate detector (extension; nearest reference artifact is the
entity_id exact-dedup convention, app/backend/chat_bot/tools.py:35-37).

Scale shape (100 TB posture):
- fingerprint selection is ONE Arrow pass per batch (hash + sliding
  window argmin in numpy), emitting O(2·len/w) fingerprints per doc —
  corpus-sublinear sketch, never the text;
- doc-frequency capping (``max_df``) uses an unordered count-over-window
  on the fingerprint (one shuffle, one evaluation — CLAUDE.md
  occurrence-count rule);
- pair expansion runs inside bounded buckets via chained Generates
  (operators/dedup.py::_bucket_pairs): with every bucket ≤ ``max_df`` docs
  the expansion is O(buckets · max_df²), never corpus-quadratic.

Hashes are 60-bit truncations of md5 over the gram string — md5 (unlike
xxhash64) exists in DuckDB, so the winnow SELECTION (which depends on the
hash ORDER, not just hash equality) is bit-reproducible by the driver
oracle (the functions/text.py::fingerprint_rolling64_md5 convention).
Positions are 1-based gram starts over the lowercase-alphanumeric token
stream (operators/substrdedup.py tokenization, shared with its oracle).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd  # module-top: pandas_udf type hints resolve against it
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chatdata_spark.operators.dedup import _shared_counts

# UDF-object memoization per (k, w) (CacheManager plan-equality rule)
_WINNOW_UDFS: dict[tuple[int, int], object] = {}


def winnow_udf(k: int, w: int):
    """array<string> words → array<struct<pos:int, fp:bigint>> selected
    fingerprints: 60-bit md5 gram hashes, 1-based gram start positions,
    rightmost-min tie rule per window, single window when a doc has fewer
    than ``w`` grams. md5-per-gram runs inside the one Arrow pass (the
    only per-element Python in the operator — the price of a
    driver-oracle-reproducible hash order)."""
    if (k, w) in _WINNOW_UDFS:
        return _WINNOW_UDFS[(k, w)]

    @F.pandas_udf("array<struct<pos: int, fp: bigint>>")
    def _f(words: pd.Series) -> pd.Series:
        kk, ww = k, w
        out = []
        for ws in words:
            toks = list(ws)
            m = len(toks) - kk + 1
            if m <= 0:
                out.append([])
                continue
            h = np.fromiter(
                (
                    int(hashlib.md5(" ".join(toks[i : i + kk]).encode("utf-8")).hexdigest()[:15], 16)
                    for i in range(m)
                ),
                dtype=np.int64,
                count=m,
            )
            if m <= ww:
                rev = h[::-1]
                p = m - 1 - int(np.argmin(rev))
                sel = {(p, int(h[p]))}
            else:
                win = np.lib.stride_tricks.sliding_window_view(h, ww)
                # argmin over the REVERSED window = rightmost minimum
                idx = ww - 1 - np.argmin(win[:, ::-1], axis=1)
                pos = np.arange(m - ww + 1) + idx
                sel = {(int(p), int(h[p])) for p in np.unique(pos)}
            out.append([{"pos": int(p) + 1, "fp": int(f)} for p, f in sorted(sel)])
        return pd.Series(out)

    _WINNOW_UDFS[(k, w)] = _f
    return _f


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Per-document winnowed fingerprints: (id_col, pos, fp), one row per
    selected (position, hash). The Python eval node doubles as the
    optimizer barrier that keeps the downstream explode from re-inlining
    the selection (the Generate-inlining trap)."""
    from chatdata_spark.operators.substrdedup import _tokenized

    d = _tokenized(df, id_col, text_col)
    return d.select("__id", F.explode(winnow_udf(k, w)(F.col("__ws"))).alias("__s")).select(
        F.col("__id").alias(id_col),
        F.col("__s.pos").alias("pos"),
        F.col("__s.fp").alias("fp"),
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    max_df: int = 8,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowed fingerprints:
    (id_a, id_b, n_shared) for unordered pairs sharing at least
    ``min_shared`` distinct fingerprint hashes, after dropping hashes
    present in more than ``max_df`` documents (corpus boilerplate — the
    stop-shingle discipline; at 100 TB a ubiquitous license-header hash
    would otherwise build one quadratic bucket)."""
    fps = (
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
        .select(F.col(id_col).alias("__id"), "fp")
        .distinct()
    )
    kept = fps.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("fp"))).filter(
        F.col("__df") <= max_df
    )
    return (
        _shared_counts(kept, "fp", "__id")
        .filter(F.col("n") >= min_shared)
        .select(F.col("i").alias("id_a"), F.col("j").alias("id_b"), F.col("n").alias("n_shared"))
    )
