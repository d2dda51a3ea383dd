"""Random-hyperplane LSH for cosine ANN (north-star extension) — the
hash-bucket counterpart of the IVF layout (operators/ivf.py), standing in
for the reference's MSTG index family (myscale_tables.py:35,63) on the
"many independent cheap probes" side of the design space.

Charikar SimHash-for-vectors scheme: signature bit = sign(v · r) for a
fixed Gaussian hyperplane r; ``n_tables`` independent ``n_bits``-bit
signatures; two vectors collide in a table with probability
(1 - θ/π)^n_bits. A query probes its own bucket in every table (OR over
tables), candidates are exact-reranked.

Plans and scale:
- signatures: one Arrow pandas-UDF pass — per batch a single
  (rows × dim)·(dim × n_tables·n_bits) GEMM, the minhash template
  (operators/dedup.py:minhash_band_keys_udf). Computed once at ingest and
  stored like any column; never per-query.
- probe: ``arrays_overlap(keys, query_keys)`` is a scan-stage JVM
  predicate — no shuffle, no Python. At 100 TB, write the table
  partitioned by a prefix of the table-0 key (same directory-pruning trick
  as the IVF layout) or explode keys into a bucket→id inverted index
  co-bucketed with the data; the predicate form here is the
  layout-independent baseline.
- rerank: exact top-k over candidates (operators/knn.py) — distances are
  always exact; only recall is approximate.

``n_bits=0`` degrades every key to its table tag: all rows collide, the
search equals the exact scan — the oracle-checkable configuration
(mirrors ``n_probe = n_clusters`` for IVF).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatdata_spark.operators.knn import knn

_TABLE_SHIFT = 48  # key layout: (table_idx << 48) | signature_bits


def _hyperplanes(dim: int, n_tables: int, n_bits: int, seed: int) -> np.ndarray:
    """Deterministic (n_tables*n_bits, dim) Gaussian hyperplane matrix."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((max(n_tables * n_bits, 1), dim)).astype(np.float64)


def _pack_keys(bits: np.ndarray, n_tables: int, n_bits: int) -> np.ndarray:
    """(rows, n_tables*n_bits) sign bits -> (rows, n_tables) int64 keys."""
    rows = bits.shape[0]
    if n_bits == 0:
        keys = np.zeros((rows, n_tables), dtype=np.int64)
    else:
        weights = (1 << np.arange(n_bits, dtype=np.int64))[::-1]
        keys = bits.reshape(rows, n_tables, n_bits).astype(np.int64) @ weights
    return keys + (np.arange(n_tables, dtype=np.int64) << _TABLE_SHIFT)[None, :]


def lsh_keys_udf(dim: int, n_tables: int = 8, n_bits: int = 12, seed: int = 7):
    """Arrow-batched signature UDF: array<float> vector -> array<bigint>
    of n_tables table-tagged bucket keys (one GEMM per batch)."""
    planes = _hyperplanes(dim, n_tables, n_bits, seed)

    @F.pandas_udf("array<bigint>")
    def _keys(vecs: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        keys = _pack_keys((m @ planes.T) > 0.0, n_tables, n_bits)
        return pd.Series([k.tolist() for k in keys])

    return _keys


def query_keys(query_vec: Sequence[float], n_tables: int = 8, n_bits: int = 12, seed: int = 7) -> list[int]:
    """Driver-side bucket keys of the query vector (same hyperplanes)."""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = _hyperplanes(q.shape[0], n_tables, n_bits, seed)
    bits = (planes @ q > 0.0)[None, :]
    return [int(x) for x in _pack_keys(bits, n_tables, n_bits)[0]]


def with_lsh_keys(
    df: DataFrame,
    vector_col: str,
    dim: int,
    n_tables: int = 8,
    n_bits: int = 12,
    seed: int = 7,
    out_col: str = "lsh_keys",
) -> DataFrame:
    """Attach LSH bucket keys (ingest-time signature column)."""
    return df.withColumn(out_col, lsh_keys_udf(dim, n_tables, n_bits, seed)(F.col(vector_col)))


def lsh_search(
    indexed: DataFrame,
    vector_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_tables: int = 8,
    n_bits: int = 12,
    seed: int = 7,
    keys_col: str = "lsh_keys",
    select: Sequence[str] | None = None,
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Bucket-probe + exact rerank over a table carrying ``keys_col``."""
    qk = query_keys(query_vec, n_tables, n_bits, seed)
    probe = F.arrays_overlap(F.col(keys_col), F.array(*[F.lit(x).cast("long") for x in qk]))
    return knn(indexed, vector_col, query_vec, k=k, where=probe, select=select, metric=metric, id_col=id_col)
