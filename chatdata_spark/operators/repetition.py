"""Gopher A1.2 duplicated-n-gram repetition filters (Rae et al. 2021,
"Scaling Language Models", appendix A1.2): the word-level half of the
repetition rule table — top-{2,3,4}-gram character fractions and
duplicated-{5..10}-gram character fractions — completing the family next
to the A1.1 document rules (functions/cleaning.py::gopher_rule_flags)
and the occurrence-level signals (queries/cleaning.py::
text_repetition_signals). The reference's only text hygiene is the
upload-time NarrativeText/length filter
(/root/reference/app/backend/chat_bot/tools.py:42); these rules are what
a 100 TB pretraining pipeline runs in front of it.

Semantics (pinned here because published reimplementations differ in the
details; the oracle replays these exactly):

- words: the shared lowercase-alphanumeric token stream; the char length
  of a word-span is the SUM OF WORD LENGTHS (no separators), and
  ``total_chars`` is the sum over all words.
- top-n-gram fraction (n = 2, 3, 4): the most frequent n-gram — ties
  broken lexicographically smallest — contributes
  ``count * ngram_char_len`` iff its count ≥ 2, else 0.
- dup-n-gram fraction (n = 5..10): the UNION of word positions covered
  by any occurrence of an n-gram whose count ≥ 2; the numerator is the
  summed length of marked words (union semantics — overlapping
  duplicated spans never double-count a character).
- a rule FAILS iff ``100 * numerator > pct * total_chars`` — integer
  cross-multiplication, no float division anywhere, so the flags are
  exact and a pure-Python replay reproduces them bit-for-bit.

Thresholds are the paper's (percent numerators): top-2 20, top-3 18,
top-4 16, dup-5 15, dup-6 14, dup-7 13, dup-8 12, dup-9 11, dup-10 10.

Spark-first shape (100 TB posture): the whole computation is per-document
— ONE Arrow pandas UDF pass inside the scan stage (no shuffle, no
collect); per-doc work is O(9 · tokens) dict counting, exactly the
"O(H·S) per-row work → Arrow pandas UDF" rule. The only shuffle is the
caller's tiny group-by on the flag columns.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# (field name, n, fail-threshold percent, kind)
TOP_NGRAM_RULES: tuple[tuple[str, int, int], ...] = (
    ("t2", 2, 20),
    ("t3", 3, 18),
    ("t4", 4, 16),
)
DUP_NGRAM_RULES: tuple[tuple[str, int, int], ...] = (
    ("d5", 5, 15),
    ("d6", 6, 14),
    ("d7", 7, 13),
    ("d8", 8, 12),
    ("d9", 9, 11),
    ("d10", 10, 10),
)

_STATS_SCHEMA = "struct<total: long, " + ", ".join(
    f"{f}: long" for f, _, _ in TOP_NGRAM_RULES + DUP_NGRAM_RULES
) + ">"


def repetition_stats_py(words: list) -> dict:
    """One document's repetition numerators — the per-row body of the
    Arrow pass in :func:`ngram_repetition_stats` and of its oracle replay.
    Returns {total, t2, t3, t4, d5..d10} as plain ints."""
    lens = [len(w) for w in words]
    out = {"total": sum(lens)}
    for field, n, _pct in TOP_NGRAM_RULES:
        cnt: dict = {}
        for i in range(len(words) - n + 1):
            g = "\x00".join(words[i : i + n])
            cnt[g] = cnt.get(g, 0) + 1
        best = 0
        if cnt:
            bc = max(cnt.values())
            if bc >= 2:
                g = min(k for k, c in cnt.items() if c == bc)
                best = bc * (len(g) - (n - 1))  # minus the \x00 joiners
        out[field] = best
    for field, n, _pct in DUP_NGRAM_RULES:
        cnt = {}
        for i in range(len(words) - n + 1):
            g = "\x00".join(words[i : i + n])
            cnt[g] = cnt.get(g, 0) + 1
        marked = bytearray(len(words))
        for i in range(len(words) - n + 1):
            if cnt["\x00".join(words[i : i + n])] >= 2:
                marked[i : i + n] = b"\x01" * n
        out[field] = sum(l for l, m in zip(lens, marked) if m)
    return out


_UDF_SINGLETON: list = []  # lazy one-element cache: DDL return types need
# a live SparkContext to parse, so the UDF can't be built at import time;
# memoizing the built object keeps identical plans CacheManager-equal
# (CLAUDE.md memoization rule).


def _repetition_stats_udf():
    if _UDF_SINGLETON:
        return _UDF_SINGLETON[0]

    @pandas_udf(_STATS_SCHEMA)
    def stats_udf(words: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([repetition_stats_py(list(w)) for w in words])

    _UDF_SINGLETON.append(stats_udf)
    return stats_udf


def ngram_repetition_stats(words_col) -> Column:
    """struct<total, t2, t3, t4, d5..d10> of repetition numerators for a
    token-array column — one Arrow pass, scan-stage."""
    c = F.col(words_col) if isinstance(words_col, str) else words_col
    return _repetition_stats_udf()(c)


def repetition_fail_flags(stats_col) -> dict[str, Column]:
    """INT 0/1 fail flags from the stats struct, by exact integer
    cross-multiplication (rule fails iff 100·num > pct·total)."""
    s = F.col(stats_col) if isinstance(stats_col, str) else stats_col
    flags = {}
    for field, _n, pct in TOP_NGRAM_RULES + DUP_NGRAM_RULES:
        flags[f"fail_{field}"] = (
            s[field] * 100 > s["total"] * pct
        ).cast("int")
    return flags
