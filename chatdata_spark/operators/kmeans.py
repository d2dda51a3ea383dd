"""Distributed Lloyd's k-means over an embedding column — integer
fixed-point, bit-reproducible across engines and partitionings.

K-means is the workhorse clustering primitive of a training-data pipeline:
SemDeDup-style semantic dedup groups, IVF coarse quantizers, topic-balanced
mixture sampling, and per-cluster quality audits all start from a k-means
assignment. The reference app gets its clustering implicitly from
MyScaleDB's MSTG index build (docs/vector-search.md); this module exposes
the primitive as a first-class declarative operator (MLlib's KMeans is used
for the IVF build in operators/ivf.py — this variant exists for the cases
MLlib can't serve: a DRIVER-ORACLE-ABLE assignment whose every bit is
reproducible, with the centroid trajectory pinned across engines).

Determinism design — integer fixed-point, not floats (the
operators/graph.py PageRank recipe applied to Lloyd's):

- vectors are quantized ONCE: ``q[i] = floor(float64(v[i]) * 2^QBITS)``
  as int64. float32 -> float64 is exact and the multiply is a pure
  exponent shift, so quantization is bit-identical everywhere.
- assignment: ``argmin_j  sum_i (q[i] - c_j[i])^2`` in int64 — exact; ties
  take the smallest cluster id (numpy argmin first-occurrence).
- update: per-cluster per-dimension int64 SUMS and COUNTS (exact,
  order-independent) collected to the driver (k*d scalars), then
  ``c'_j[i] = sums_j[i] // count_j`` with PYTHON integer floor division
  (exact). Empty clusters keep their previous centroid.
- init: the quantized vectors of the k smallest ids (no RNG).

Integer sums and integer division are partition-order-independent, so the
full centroid trajectory — and therefore every assignment — is
BIT-IDENTICAL across Spark, a single-node numpy replay, retries, and any
partitioning: the driver's value-hash comparison holds with no tolerance.
With QBITS=20 the quantization error per dimension is < 2^-20, far below
any real embedding's noise floor.

Scale posture (100 TB):
- the quantized frame is computed in ONE Arrow pandas UDF pass and
  persisted; every iteration re-scans it with no re-quantization.
- assignment is a per-batch int64 GEMM against the broadcast (k, d)
  centroid matrix — closure constant, no join, no shuffle.
- assignment and update are FUSED into one mapInPandas pass per
  iteration: each task accumulates exact int64 per-cluster dim-sums and
  counts for its batches and emits ≤ k rows, so an iteration is one scan
  of the persisted frame with NO shuffle; the driver collects k·(d+1)
  scalars per task and merges with exact Python integer sums. No per-row
  data ever reaches the driver.
- iterations are driver-scheduled jobs over the persisted frame (the same
  constant-depth loop shape as operators/graph.py); n_iter is fixed, not
  convergence-polled, so the job count is known up front.

Worker-closure rule (CLAUDE.md): UDF bodies reference only numpy and
captured constants. UDF objects are memoized on (QBITS | centroid bytes)
so repeated invocations build plan-equal trees and CacheManager reuses the
persisted quantized frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

QBITS = 20
QSCALE = 1 << QBITS

_QUANT_UDFS: dict[int, object] = {}
_ASSIGN_UDFS: dict[tuple, object] = {}
# Intermediate-round centroids make single-use-per-trajectory entries;
# bound the memo so clustering many datasets in one long-lived driver
# can't grow it without limit (dict preserves insertion order -> FIFO).
_ASSIGN_UDFS_MAX = 256


def _overflow_bound(d: int) -> int:
    """Max |quantized value| that keeps every distance term exact:
    dist2 = q.q - 2 q.c + c.c is at most 4*d*M^2, which must stay below
    2^63 — so M <= sqrt(2^61 / d). At QBITS=20 and d=64 this allows
    raw values up to ~160, far beyond any real embedding; violations
    raise rather than silently wrap (numpy int64 does not trap)."""
    return int((float(2**61) / max(d, 1)) ** 0.5)


def _quant_udf(qbits: int):
    key = qbits
    if key not in _QUANT_UDFS:
        scale = float(1 << qbits)

        @pandas_udf("array<long>")
        def _quantize(vecs: pd.Series) -> pd.Series:
            x = np.vstack(vecs.to_numpy()).astype(np.float64)  # exact from float32
            q = np.floor(x * scale).astype(np.int64)
            bound = _overflow_bound(q.shape[1])
            if len(q) and int(np.abs(q).max()) > bound:
                raise ValueError(
                    f"quantized magnitude {int(np.abs(q).max())} exceeds the "
                    f"int64-exact distance bound {bound} for dim {q.shape[1]}"
                )
            return pd.Series(list(q))

        _QUANT_UDFS[key] = _quantize
    return _QUANT_UDFS[key]


def _assign_udf(cents: np.ndarray, with_dist: bool):
    """Nearest-centroid assignment for a captured (k, d) int64 centroid
    matrix. Memoized on (shape, bytes) — bytes alone would collide e.g.
    a 4x8 with a 2x16 zero matrix — so identical plans stay
    CacheManager-equal across repeated invocations."""
    key = (cents.shape, cents.tobytes(), with_dist)
    if key not in _ASSIGN_UDFS:
        while len(_ASSIGN_UDFS) >= _ASSIGN_UDFS_MAX:
            _ASSIGN_UDFS.pop(next(iter(_ASSIGN_UDFS)))
        c = cents.copy()  # (k, d) int64
        cc = (c * c).sum(axis=1)  # (k,) int64 — exact

        if with_dist:

            @pandas_udf("struct<cluster_id: int, dist2: long>")
            def _assign(qs: pd.Series) -> pd.DataFrame:
                q = np.vstack(qs.to_numpy())  # (b, d) int64
                # ||q - c||^2 = ||q||^2 - 2 q.c + ||c||^2, all int64 exact
                d2 = (q * q).sum(axis=1, keepdims=True) - 2 * (q @ c.T) + cc[None, :]
                a = d2.argmin(axis=1)  # first occurrence = smallest cluster id
                return pd.DataFrame(
                    {
                        "cluster_id": a.astype(np.int32),
                        "dist2": d2[np.arange(len(a)), a].astype(np.int64),
                    }
                )

        else:

            @pandas_udf("int")
            def _assign(qs: pd.Series) -> pd.Series:
                q = np.vstack(qs.to_numpy())
                d2 = (q * q).sum(axis=1, keepdims=True) - 2 * (q @ c.T) + cc[None, :]
                return pd.Series(d2.argmin(axis=1).astype(np.int32))

        _ASSIGN_UDFS[key] = _assign
    return _ASSIGN_UDFS[key]


def quantize_vectors(df: DataFrame, vec_col: str, out_col: str = "q") -> DataFrame:
    """Append ``out_col`` = fixed-point int64 quantization of ``vec_col``."""
    return df.withColumn(out_col, _quant_udf(QBITS)(F.col(vec_col)))


def _update_centroids(
    q_df: DataFrame, cents: np.ndarray, q_col: str = "q"
) -> np.ndarray:
    """One FUSED Lloyd round: a single mapInPandas pass assigns each batch
    against the captured centroid matrix AND accumulates per-task partial
    (cluster, count, dim-sums) — so one scan of the persisted quantized
    frame with NO shuffle replaces the old assign-UDF → posexplode →
    groupBy(cluster, dim) shape (which multiplied the frame n·d rows into
    a corpus-sized exchange every iteration; guide §2.3 — aggregate
    before you shuffle, here all the way down to k rows per task). The
    driver collects ≤ k rows per task (k·(d+1) scalars each) and merges
    with exact Python integer sums — integer addition is order-free, so
    the centroid trajectory is BIT-IDENTICAL to the old shape and to the
    numpy replay oracle. Empty clusters keep their previous centroid."""
    c = cents.copy()  # (k, d) int64 — captured constants only (closure rule)
    cc = (c * c).sum(axis=1)
    k, d = c.shape

    def _partials(it):
        sums = np.zeros((k, d), dtype=np.int64)
        cnts = np.zeros(k, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            q = np.vstack(pdf[q_col].to_numpy())  # (b, d) int64
            a = (
                (q * q).sum(axis=1, keepdims=True) - 2 * (q @ c.T) + cc[None, :]
            ).argmin(axis=1)
            np.add.at(sums, a, q)  # exact int64 accumulation
            np.add.at(cnts, a, 1)
        hit = np.flatnonzero(cnts)
        yield pd.DataFrame(
            {
                "__cluster": hit.astype(np.int32),
                "__n": cnts[hit],
                # explicit object dtype: an empty partition's [] would
                # otherwise become float64 and fail the Arrow list cast
                "__s": pd.Series([row.tolist() for row in sums[hit]], dtype=object),
            }
        )

    rows = q_df.select(q_col).mapInPandas(
        _partials, schema="__cluster int, __n long, __s array<long>"
    ).collect()
    tot_s = {}
    tot_n = {}
    for r in rows:
        j = r["__cluster"]
        tot_n[j] = tot_n.get(j, 0) + int(r["__n"])
        s = r["__s"]
        if j in tot_s:
            tot_s[j] = [a + int(b) for a, b in zip(tot_s[j], s)]
        else:
            tot_s[j] = [int(b) for b in s]
    new = cents.copy()
    for j, s in tot_s.items():
        n = tot_n[j]
        # Python int floor division — exact, matches the numpy replay oracle
        new[j] = np.array([v // n for v in s], dtype=np.int64)
    return new


def kmeans_fixed_point(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 4,
) -> DataFrame:
    """Lloyd's k-means: ``n_iter`` assign/update rounds from the k
    smallest-id vectors as seeds, then a final assignment. Returns
    ``(id_col, cluster_id int, dist2 long)`` — dist2 is the exact int64
    squared distance in the quantized space (hash-stable, no floats)."""
    base = df.select(F.col(id_col), F.col(vec_col)).filter(F.col(vec_col).isNotNull())
    q = quantize_vectors(base, vec_col).select(id_col, "q").persist()

    seeds = q.orderBy(F.col(id_col).asc()).limit(k).collect()
    cents = np.array([r["q"] for r in seeds], dtype=np.int64)  # (k, d)

    for _ in range(n_iter):
        cents = _update_centroids(q, cents)

    # Layered select: the struct alias is referenced twice below, which
    # blocks CollapseProject so the UDF evaluates ONCE (CLAUDE.md inlining
    # gotcha), and the getFields read the materialized struct.
    final = q.select(F.col(id_col), _assign_udf(cents, True)(F.col("q")).alias("__r"))
    return final.select(
        F.col(id_col),
        F.col("__r.cluster_id").alias("cluster_id"),
        F.col("__r.dist2").alias("dist2"),
    )


def kmeans_replay(ids, vecs, k: int = 8, n_iter: int = 4):
    """Single-node numpy replay of the EXACT fixed-point recurrence — the
    independent oracle for the distributed path. ``ids`` must be sorted
    ascending (seed selection order — checked). Returns
    (cluster_ids, dist2) in ``ids`` order."""
    ids = list(ids)
    if ids != sorted(ids):
        raise ValueError("kmeans_replay requires ids sorted ascending (seed order)")
    x = np.asarray(vecs, dtype=np.float64)
    q = np.floor(x * float(QSCALE)).astype(np.int64)
    if len(ids) != len(q):
        raise ValueError("ids and vecs length mismatch")
    if q.size and int(np.abs(q).max()) > _overflow_bound(q.shape[1]):
        raise ValueError("quantized magnitude exceeds the int64-exact distance bound")

    def d2_matrix(c):
        return (q * q).sum(axis=1, keepdims=True) - 2 * (q @ c.T) + (c * c).sum(axis=1)[None, :]

    cents = q[:k].copy()

    for _ in range(n_iter):
        a = d2_matrix(cents).argmin(axis=1)
        new = cents.copy()
        for j in range(k):
            m = a == j
            if m.any():
                s = q[m].sum(axis=0)
                n = int(m.sum())
                new[j] = np.array([int(v) // n for v in s], dtype=np.int64)
        cents = new
    d2 = d2_matrix(cents)
    a = d2.argmin(axis=1)
    return a, d2[np.arange(len(a)), a]
