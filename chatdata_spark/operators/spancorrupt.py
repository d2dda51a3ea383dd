"""Deterministic span-corruption planning (T5 / UL2 denoising
objectives — Raffel et al. 2020 §3.1.4, Tay et al. 2022): mark the
token spans a masked-denoising pretraining pipeline will replace with
sentinel tokens. The reference app only READS documents for retrieval
(app/backend/chat_bot/tools.py); preparing those documents as denoising
training examples is the canonical transform a 100 TB pretraining
pipeline runs downstream of the cleaning/dedup operators here.

Determinism design — hash-driven, not RNG-driven: a sampled corruption
plan (start a span with probability q, geometric/uniform lengths) is
normally an RNG artifact that no second engine can reproduce. Here the
per-position decision is ``uint32(md5('sc|' doc_id '|' pos)) <
THRESHOLD`` with the integer threshold computed in Python and inlined
(the bucket-boundary convention), and the span length is
``1 + uint32(md5('scl|' doc_id '|' pos)) % 5`` (uniform 1..5, mean 3 —
the T5 default mean span). A one-token gap after each span keeps
adjacent spans from merging (T5's sentinel distinctness requirement).
With start rate q = 5% and mean length 3 the expected corrupted
fraction is the T5 default 15%. Same walk in Python = the exact oracle.

Spark-first shape: ONE scan-stage Arrow pass per document (the
O(tokens) left-to-right walk with two md5 calls per considered
position — the Arrow-UDF-for-per-row-work rule); no shuffle at all for
the per-doc plan, one tiny aggregate if the caller rolls up.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# start-probability threshold: int(0.05 * 2^32), computed here and
# inlined on both sides — never CAST(0.05 * 4294967296 AS BIGINT) in SQL
# (DuckDB rounds, Python truncates; CLAUDE.md convention)
START_THRESHOLD = 214748364  # int(0.05 * 2**32)
MAX_SPAN = 5  # uniform 1..5, mean 3


def corruption_plan_py(doc_id: int, words: list) -> tuple:
    """(n_tokens, n_spans, n_masked, preview) for one document — the
    per-row body of the Arrow pass and of its oracle replay. ``preview``
    is the first 3 spans as 'start:len' (1-based starts), comma-joined."""
    n = len(words)
    spans = []
    masked = 0
    i = 0
    while i < n:
        h = int(hashlib.md5(f"sc|{doc_id}|{i}".encode()).hexdigest()[:8], 16)
        if h < START_THRESHOLD:
            ln = 1 + int(
                hashlib.md5(f"scl|{doc_id}|{i}".encode()).hexdigest()[:8], 16
            ) % MAX_SPAN
            ln = min(ln, n - i)
            spans.append((i + 1, ln))
            masked += ln
            i += ln + 1  # one-token gap: spans never merge
        else:
            i += 1
    preview = ",".join(f"{s}:{l}" for s, l in spans[:3])
    return n, len(spans), masked, preview


_UDF_SINGLETON: list = []  # lazy: DDL return types need a live session;
# memoized so identical plans stay CacheManager-equal


def _plan_udf():
    if _UDF_SINGLETON:
        return _UDF_SINGLETON[0]

    @pandas_udf("struct<nt: int, ns: int, nm: int, prev: string>")
    def plan(doc_ids: pd.Series, words: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [corruption_plan_py(d, list(w)) for d, w in zip(doc_ids, words)],
            columns=["nt", "ns", "nm", "prev"],
        )

    _UDF_SINGLETON.append(plan)
    return plan


def span_corruption_plan(id_col, words_col) -> Column:
    """struct<nt, ns, nm, prev>: the corruption plan for a (doc id,
    token array) pair — one Arrow pass, scan-stage."""
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    w = F.col(words_col) if isinstance(words_col, str) else words_col
    return _plan_udf()(i, w)
