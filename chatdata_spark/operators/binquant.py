"""Binary (sign) quantization for vector search: 1 bit per dimension,
Hamming distance via xor + popcount — 32x smaller than float32 storage and
a pure JVM integer pipeline (no float math, no Python) in the scan stage.

The modern two-stage funnel (matryoshka's sibling): Hamming over packed
sign bits screens the corpus at memory-bandwidth speed, exact float
distance reranks the short candidate list. Sign bits preserve cosine
neighborhoods (Hamming(sign(a), sign(b)) estimates angle — the same
guarantee hyperplane LSH relies on, with the identity basis).

Packing: ceil(d/32) BIGINT words, 32 sign bits each (bit i of word w =
``embedding[32w+i] > 0``). 32-bit halves keep every partial sum far from
the BIGINT sign bit, so ANSI mode can't overflow and DuckDB reproduces the
packing with plain integer arithmetic — the full Hamming ranking is
oracle-checkable bit-for-bit.

Reference parity: MSTG's ``metric_type=Hamming`` binary-vector support
(docs/vector-sql.md:217 family); the reference app itself only uses
cosine, so this is the quantized sibling of operators/pq.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chatdata_spark.operators.knn import knn

WORD_BITS = 32


def binary_signature(vec_col, dim: int) -> Column:
    """Packed sign bits: array of ``ceil(dim/32)`` longs. JVM-only — one
    aggregate per word over a 32-slice of the vector."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    n_words = -(-dim // WORD_BITS)
    words = []
    for w in range(n_words):
        lo = w * WORD_BITS
        width = min(WORD_BITS, dim - lo)
        # sum of bit·2^i over the slice via a literal powers array (the
        # F.shiftleft wrapper takes int shifts only — unusable in lambdas);
        # every term < 2^32, so the long sum can't overflow ANSI mode
        sl = F.slice(c, lo + 1, width)
        powers = F.array(*[F.lit(1 << i).cast("long") for i in range(width)])
        word = F.aggregate(
            F.zip_with(sl, powers, lambda x, p: F.when(x > 0, p).otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        words.append(word)
    return F.array(*words)


def _pack_query(qvec: Sequence[float]) -> list[int]:
    out = []
    for w in range(-(-len(qvec) // WORD_BITS)):
        word = 0
        for i, x in enumerate(qvec[w * WORD_BITS : (w + 1) * WORD_BITS]):
            if x > 0:
                word |= 1 << i
        out.append(word)
    return out


def hamming_distance(sig_col, qwords: list[int]) -> Column:
    """Σ popcount(xor) over signature words — whole-stage-codegen integer
    ops, the fastest distance Spark can evaluate."""
    s = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    expr = None
    for w, qw in enumerate(qwords):
        term = F.bit_count(F.try_element_at(s, F.lit(w + 1)).bitwiseXOR(F.lit(qw).cast("long")))
        expr = term if expr is None else expr + term
    return expr.cast("int")


def binary_knn(
    df: DataFrame,
    vec_col: str,
    qvec: Sequence[float],
    dim: int,
    k: int,
    id_col: str,
    select: Sequence[str] | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Hamming top-k over sign signatures; ``rerank=None`` returns the pure
    binary ranking (exact under the quantization — the oracle config).
    ``rerank=m`` screens the top-m by Hamming then reranks by exact cosine
    through :func:`knn` (the production funnel; recall pinned in tests)."""
    qwords = _pack_query(qvec)
    sigged = df.withColumn("__sig", binary_signature(vec_col, dim))
    scored = sigged.withColumn("hamming", hamming_distance("__sig", qwords))
    cols = list(select or [id_col])
    if rerank is None:
        return (
            scored.select(*cols, "hamming")
            .orderBy(F.asc("hamming"), F.asc(id_col))
            .limit(k)
        )
    cand = scored.orderBy(F.asc("hamming"), F.asc(id_col)).limit(rerank)
    return knn(cand, vec_col, qvec, k=k, select=cols, id_col=id_col)
