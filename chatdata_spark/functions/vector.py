"""Vector distance / embedding functions.

Replaces the reference's DB-native ``DISTANCE(column, query_vector)``
(/root/reference/app/backend/constants/prompts.py:31-34, metric per index =
Cosine, myscale_tables.py:35,63) and the prompt-level ``NeuralArray(entity)``
embedder (prompts.py:34, resolved app-side by
vector_sql_output_parser.py:6-23).

Design for scale:

- The distance implementations are **pure Spark higher-order
  functions** (``zip_with`` + ``aggregate``): they run JVM-side with no
  Python worker, no Arrow transfer, and survive whole-stage pipelines. On a
  1000-executor cluster the distance computation stays inside the scan
  stage and feeds ``TakeOrderedAndProject`` directly — no shuffle beyond
  the final top-k reduction.
- All arithmetic is float64 regardless of storage dtype (parquet stores
  float32) so results are oracle-stable (SURVEY §5 determinism note).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double_array(v: Column | str | Sequence[float]) -> Column:
    """Coerce a column name / Column / Python vector literal to array<double>."""
    if isinstance(v, str):
        v = F.col(v)
    if isinstance(v, Column):
        return v.cast("array<double>")
    return F.array(*[F.lit(float(x)) for x in v])


def dot_product(a, b) -> Column:
    """Sum of elementwise products, JVM-side."""
    a, b = _as_double_array(a), _as_double_array(b)
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def vector_norm(a) -> Column:
    a = _as_double_array(a)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_distance(a, b) -> Column:
    """1 - cos(a, b), float64 — the reference's Cosine metric
    (myscale_tables.py:35,63; ascending = most similar first).

    When ``b`` is a Python literal vector its norm is folded driver-side —
    otherwise the plan re-aggregates the constant array per row.
    """
    if not isinstance(b, (str, Column)):
        nb = F.lit(math.sqrt(sum(float(x) * float(x) for x in b)))
    else:
        nb = vector_norm(b)
    return F.lit(1.0) - dot_product(a, b) / (vector_norm(a) * nb)


def l2_distance(a, b) -> Column:
    a, b = _as_double_array(a), _as_double_array(b)
    return F.sqrt(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x)
    )


# --- SQL-string builders (used by the Vector SQL dialect pre-pass) ----------

def vector_literal_sql(vec: Sequence[float]) -> str:
    """A float64 array literal usable inside spark.sql strings."""
    return "array(" + ",".join(repr(float(x)) for x in vec) + ")"


def cosine_distance_sql(col_expr: str, vec_expr: str, vec_norm: float | None = None) -> str:
    """Cosine distance as a pure Spark SQL expression string (JVM-side).

    Used by plans/vector_sql.py to rewrite ``DISTANCE(col, [..])`` so that
    LLM-emitted SQL never drops to a Python UDF. Pass ``vec_norm`` when the
    query vector is known driver-side so its norm is a folded constant.
    """
    a = f"CAST({col_expr} AS ARRAY<DOUBLE>)"
    b = vec_expr
    dot = f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    na = f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"
    nb = repr(float(vec_norm)) if vec_norm is not None else f"sqrt(aggregate({b}, 0D, (acc, x) -> acc + x * x))"
    return f"(1.0D - {dot} / ({na} * {nb}))"


# --- Deterministic stub embedder ---------------------------------------------

def hash_embed(text: str, dim: int = 64) -> list[float]:
    """Deterministic pseudo-embedding: sha256(text)-seeded unit vector.

    Stands in for the reference's sentence-transformer models
    (myscale_tables.py:90-92,117-120 — mpnet / instructor-xl); the models
    are not in this container and determinism is required for oracle tests
    (FIXTURES.md convention). Same text → same vector, any process.
    """
    seed = int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:4], "big")
    rng = np.random.RandomState(seed)
    v = rng.standard_normal(dim)
    v = v / np.linalg.norm(v)
    return [float(x) for x in v]


# UDF-object memoization (the CacheManager plan-equality rule, project
# notes): a fresh @pandas_udf per call makes otherwise-identical plans
# unequal, so persisted frames keyed on an embed plan cache-miss on every
# invocation.
_HASH_EMBED_UDFS: dict[int, object] = {}


def make_embed_text_udf(dim: int = 64):
    """Distributed batch embedding (V5, tools.py:53-59 shape): an Arrow
    pandas UDF over the ``hash_embed`` stub, the only embedder; it stands
    in for the reference's sentence-transformers models.
    Memoized per ``dim`` — repeated calls return the SAME UDF object so
    plans built by independent callers stay CacheManager-equal.

    The hashing logic is a batch-buffered twin of the module-level
    ``hash_embed``, kept separate on purpose: the per-row function is the
    reference the tests pin this UDF bit-identical to."""
    memo = _HASH_EMBED_UDFS.get(dim)
    if memo is not None:
        return memo

    @F.pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        # Batch-buffered form of the original per-row
        # ``RandomState(seed).standard_normal(dim)`` stub — bit-identical
        # (r11 opt round, 19x on the Python side): one reused RandomState
        # re-seeded per row (``seed()`` is the same MT19937 init as the
        # constructor and resets the gauss cache), the SAME per-row
        # ``v / np.linalg.norm(v)`` division, and rows returned as float64
        # ndarray slices instead of ``[float(x) ...]`` lists — Arrow applies
        # the identical float64→float32 cast either way
        # (tests/test_vector_functions.py pins old ≡ new to the bit).
        n = len(texts)
        out = np.empty((n, dim))
        rs = np.random.RandomState(0)
        for i, t in enumerate(texts):
            seed = int.from_bytes(
                hashlib.sha256((t if t is not None else "").encode("utf-8")).digest()[:4],
                "big",
            )
            rs.seed(seed)
            v = rs.standard_normal(dim)
            out[i] = v / np.linalg.norm(v)
        return pd.Series(list(out))

    _HASH_EMBED_UDFS[dim] = _embed
    return _embed


def cosine_distance_py(a: Sequence[float], b: Sequence[float]) -> float:
    """Plain-Python reference implementation (tests / driver-side ranking)."""
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return 1.0 - dot / (na * nb)
