"""Product-quantization (PQ) compressed vector scan (north-star
extension; the reference's MSTG index exposes the same trade through
``fp16_storage=1`` / ``disk_mode=3``, myscale_tables.py:35,63 — compress
the stored vectors, rerank survivors exactly).

Why this matters at 100 TB: a 64-dim float32 vector is 256 B; its PQ code
at m=8 subspaces × 8 bits is 8 B — 32×. The ANN scan then reads ONLY the
code column (Parquet column pruning) and scores a row with m table
lookups instead of d multiplies, so the whole corpus's codes fit in
cluster memory and the scan is bandwidth-, not FLOP-, bound.

Build (one batch job):
  1. sample ≤ ``train_rows`` vectors to the driver, L2-normalize (PQ over
     normalized vectors makes squared-L2 ≡ 2·cosine-distance, so ADC
     ranks by the engine's Cosine metric);
  2. per subspace, Lloyd k-means (numpy, fixed seed, deterministic) for a
     256-entry codebook — the codebook is m·256·(d/m) floats ≈ 64 KB,
     a driver-side constant like the IVF centroids;
  3. Arrow-encode every row: per subspace argmin — ONE (batch, 256) GEMM
     per subspace per batch — giving ``codes array<smallint>``; written
     next to the id so the search scan never touches the raw vector.

Search (asymmetric distance computation, ADC):
  1. driver builds the query's m×256 lookup table (exact distances from
     the un-quantized query to every codebook entry — the "asymmetric"
     half that keeps recall high);
  2. Arrow scan over codes: dist ≈ Σ_j table[j, code_j] — numpy fancy
     indexing over the whole batch, no per-row Python;
  3. top ``k·refine`` candidates rerank EXACTLY on their original
     vectors (tiny semi-join back to the table) through ``knn()``,
     tie-broken on id.

This module is the one PQ codec: operators/ivfpq.py trains, encodes and
scores its codes through ``train_codebooks``, ``encode_codes``,
``adc_table``/``adc_scores`` and the ``codec_meta``/``load_codec`` meta
pair. Approximate by design (recall pinned in tests/test_pq.py), so the
registered queries check the soundness invariant
(queries/vector.py::_ann_soundness) against a replay-derived oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from chatdata_spark.operators.ivf import read_meta, write_meta
from chatdata_spark.operators.knn import knn



def _kmeans_1d(x: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Plain Lloyd k-means (numpy, deterministic): x (n, d) → (k, d)."""
    rng = np.random.RandomState(seed)
    k = min(k, x.shape[0])
    cent = x[rng.choice(x.shape[0], size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cent[c] = x[mask].mean(axis=0)
    return cent


def _kmeans_gemm(x: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """GEMM-assign Lloyd k-means for the OPQ alternation (x (n, d) →
    (k, d)): same init/empty-cluster policy as :func:`_kmeans_1d` but the
    assignment is ``-2xCᵀ + ||c||²`` instead of the (n, k, d) broadcast —
    the alternation retrains all m codebooks every OPQ round, so the
    O(nkd) memory blowup of the naive form would dominate the build.
    Kept SEPARATE from _kmeans_1d: the two differ in float summation
    order, and ann_pq_adc's replay-derived oracle pins _kmeans_1d's
    exact numerics against the on-disk shared-cache codes."""
    rng = np.random.RandomState(seed)
    k = min(k, x.shape[0])
    cent = x[rng.choice(x.shape[0], size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = -2.0 * (x @ cent.T) + (cent**2).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cent[c] = x[mask].mean(axis=0)
    return cent


def _train_books(
    sample: np.ndarray, m: int, iters: int, seed: int, kmeans=_kmeans_gemm
) -> np.ndarray:
    """Per-subspace codebooks over ``sample`` (n, d) → (m, 256, dsub),
    padded to a fixed 256 entries on tiny corpora. ``kmeans`` is
    :func:`_kmeans_gemm` inside the OPQ alternation and :func:`_kmeans_1d`
    for plain PQ codebooks."""
    dsub = sample.shape[1] // m
    books = np.stack(
        [kmeans(sample[:, j * dsub : (j + 1) * dsub], 256, iters, seed + j) for j in range(m)]
    )
    if books.shape[1] < 256:
        pad = np.repeat(books[:, :1, :], 256 - books.shape[1], axis=1)
        books = np.concatenate([books, pad], axis=1)
    return books


def _encode_np(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-subspace argmin codes: x (n, d), books (m, 256, dsub) → (n, m)."""
    m, _, dsub = books.shape
    codes = np.empty((x.shape[0], m), dtype=np.int64)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cb = books[j]
        codes[:, j] = (-2.0 * (sub @ cb.T) + (cb**2).sum(axis=1)[None, :]).argmin(axis=1)
    return codes


def opq_train(
    sample: np.ndarray,
    m: int,
    iters: int = 12,
    seed: int = 42,
    opq_iters: int = 6,
    alt_kmeans_iters: int = 4,
) -> tuple[np.ndarray, np.ndarray]:
    """Non-parametric OPQ (Ge et al., "Optimized Product Quantization",
    CVPR 2013; the FAISS OPQMatrix pre-transform): learn an orthonormal
    rotation R so the rotated data's per-subspace quantization error is
    minimal, then PQ the rotated vectors. Returns ``(R, books)`` with
    R (d, d) applied as ``y = x @ R`` and books trained on y.

    Alternation, all driver-side numpy on the ≤train_rows sample:
      1. Y = X @ R; retrain all m codebooks on Y (short Lloyd runs —
         ``alt_kmeans_iters`` — the published recipe);
      2. Ŷ = codebook reconstruction of Y;
      3. R ← UVᵀ from SVD(XᵀŶ) — the orthogonal Procrustes solution to
         min_R ||X R − Ŷ||_F.
    A final full-length Lloyd run (``iters``) on X @ R produces the
    shipped codebooks. Deterministic end to end: fixed-seed k-means,
    SVD of a fixed product (same floats → same factors on a platform;
    the registered query's oracle REPLAYS this function rather than
    re-deriving the rotation independently, the _pq_adc_expected
    convention). Rotation preserves norms and inner products, so
    squared-L2-over-normalized ≡ 2·cosine is unchanged and search only
    needs the query rotated by the same R."""
    n, d = sample.shape
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    r_mat = np.eye(d, dtype=np.float64)
    for _ in range(max(0, int(opq_iters))):
        y = sample @ r_mat
        books = _train_books(y, m, alt_kmeans_iters, seed)
        codes = _encode_np(y, books)
        dsub = d // m
        recon = np.concatenate(
            [books[j][codes[:, j]] for j in range(m)], axis=1
        )  # (n, d)
        u, _, vt = np.linalg.svd(sample.T @ recon)
        r_mat = u @ vt
    books = _train_books(sample @ r_mat, m, iters, seed)
    return r_mat, books


def train_codebooks(
    vectors: np.ndarray,
    m: int,
    iters: int,
    seed: int,
    opq_iters: int = 0,
    centroids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray | None]:
    """The one PQ training recipe, shared by :class:`PQIndex` and
    operators/ivfpq.py: L2-normalize the driver-side sample (PQ over
    normalized vectors makes squared-L2 ≡ 2·cosine-distance), subtract
    the per-row ``centroids`` when the codes quantize IVF residuals, then
    either train an OPQ rotation (``opq_iters > 0``, :func:`opq_train`)
    or one :func:`_kmeans_1d` codebook per subspace. Returns
    ``(books (m, 256, dsub), rotation (d, d) or None)``."""
    sample = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    if centroids is not None:
        sample = sample - centroids
    d = sample.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    if opq_iters > 0:
        rotation, books = opq_train(sample, m, iters=iters, seed=seed, opq_iters=opq_iters)
        return books, rotation
    return _train_books(sample, m, iters, seed, kmeans=_kmeans_1d), None


def encode_codes(
    vec: Column,
    books: np.ndarray,
    rotation: np.ndarray | None,
    centroids: np.ndarray | None = None,
    cluster: Column | None = None,
) -> Column:
    """``array<smallint>`` PQ codes of ``vec`` — the one Arrow encode UDF:
    normalize, subtract ``centroids[cluster]`` (residual IVF-PQ; the
    lookup is id-indexed), rotate, then :func:`_encode_np` per batch (one
    (batch, 256) GEMM per subspace). ``vec`` is cast to ``array<float>``
    first, so codes are a function of the stored float32 values."""

    @F.pandas_udf("array<smallint>")
    def _encode(vecs: pd.Series, cids: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        if centroids is not None:
            x = x - centroids[cids.to_numpy(dtype=np.int64)]
        if rotation is not None:
            x = x @ rotation
        return pd.Series([row.tolist() for row in _encode_np(x, books)])

    cids = F.lit(0) if cluster is None else cluster
    return _encode(vec.cast("array<float>"), cids.cast("long"))


def adc_table(q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Asymmetric distance table (m, 256): exact squared distance of each
    query subvector to every codebook entry, so Σ_j table[j, code_j] ≈
    ||q - x̂||² = 2·cos_dist for a normalized (and rotated) query."""
    m, _, dsub = books.shape
    return np.stack(
        [((q[j * dsub : (j + 1) * dsub][None, :] - books[j]) ** 2).sum(axis=1) for j in range(m)]
    )


def adc_scores(codes: Column, table: np.ndarray) -> Column:
    """Σ_j table[j, code_j] per row — one numpy fancy-index pass per Arrow
    batch, no per-row Python."""
    mm = table.shape[0]

    @F.pandas_udf("double")
    def _adc(c: pd.Series) -> pd.Series:
        c = np.array(c.tolist(), dtype=np.int64)
        return pd.Series(table[np.arange(mm)[None, :], c].sum(axis=1))

    return _adc(codes)


def codec_meta(id_col: str, vector_col: str, books: np.ndarray, rotation) -> dict:
    """The codec half of a PQ/IVF-PQ meta file (JSON lists of floats)."""
    return {
        "id_col": id_col,
        "vector_col": vector_col,
        "m": int(books.shape[0]),
        "dsub": int(books.shape[2]),
        "codebooks": [[list(map(float, c)) for c in book] for book in books],
        "rotation": None if rotation is None else [list(map(float, r)) for r in rotation],
    }


def load_codec(index, meta: dict) -> None:
    """Set the codec attributes a PQ/IVF-PQ index reads from its meta:
    ``codebooks`` (m, 256, dsub) float64 and ``rotation`` (d, d), or None
    for plain-PQ metas."""
    index.id_col = meta["id_col"]
    index.vector_col = meta["vector_col"]
    index.m = meta["m"]
    index.dsub = meta["dsub"]
    index.codebooks = np.array(meta["codebooks"], dtype=np.float64)
    rot = meta.get("rotation")
    index.rotation = None if rot is None else np.array(rot, dtype=np.float64)


class PQIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        load_codec(self, read_meta(path, "pq_meta.json"))

    @staticmethod
    def build(
        df: DataFrame,
        path: str,
        id_col: str,
        vector_col: str,
        m: int = 8,
        train_rows: int = 4096,
        iters: int = 12,
        seed: int = 42,
        opq_iters: int = 0,
    ) -> "PQIndex":
        """``opq_iters > 0`` trains an OPQ rotation first (:func:`opq_train`)
        and encodes ``(x @ R)`` — same storage/scan shape, lower
        quantization error on correlated dimensions."""
        sample = np.array(
            [r[0] for r in df.select(vector_col).limit(train_rows).collect()],
            dtype=np.float64,
        )
        books, rotation = train_codebooks(sample, m, iters, seed, opq_iters)
        (
            df.select(F.col(id_col), encode_codes(F.col(vector_col), books, rotation).alias("codes"))
            .write.mode("overwrite")
            .parquet(os.path.join(path, "codes"))
        )
        write_meta(path, "pq_meta.json", codec_meta(id_col, vector_col, books, rotation))
        return PQIndex(df.sparkSession, path)

    def search(
        self,
        source_df: DataFrame,
        query_vec,
        k: int = 10,
        refine: int = 4,
        select=None,
    ) -> DataFrame:
        """ADC scan over codes → top k·refine candidates → exact cosine
        rerank (:func:`knn`) against ``source_df``'s raw vectors
        (semi-joined by id)."""
        q = np.asarray(query_vec, dtype=np.float64)
        q = q / np.linalg.norm(q)
        qr = q if self.rotation is None else q @ self.rotation
        adc = adc_scores(F.col("codes"), adc_table(qr, self.codebooks))
        codes = self.spark.read.parquet(os.path.join(self.path, "codes"))
        cand = (
            codes.select(self.id_col, adc.alias("__adc"))
            .orderBy(F.col("__adc").asc(), F.col(self.id_col).asc())
            .limit(int(k) * int(refine))
            .select(self.id_col)
        )
        rerank = source_df.join(F.broadcast(cand), self.id_col, "left_semi")
        cols = list(select) if select is not None else [self.id_col]
        return knn(rerank, self.vector_col, q, k=int(k), select=cols, id_col=self.id_col)


def build_or_load_pq(
    spark: SparkSession,
    source_df: DataFrame,
    path: str,
    id_col: str,
    vector_col: str,
    m: int = 8,
    opq_iters: int = 0,
) -> PQIndex:
    """Idempotent build, same convention as build_or_load_ivf."""
    if os.path.exists(os.path.join(path, "pq_meta.json")):
        return PQIndex(spark, path)
    os.makedirs(path, exist_ok=True)
    return PQIndex.build(source_df, path, id_col, vector_col, m=m, opq_iters=opq_iters)
