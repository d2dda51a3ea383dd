"""IVF-PQ composed vector index: coarse IVF routing over product-quantized
codes (north-star extension; the reference's MSTG index internally couples
graph/tree routing with compressed storage the same way —
``fp16_storage=1`` / ``disk_mode=3``, myscale_tables.py:35,63 — route
first, scan compressed, rerank survivors exactly).

Why the composition matters at 100 TB: IVF alone (operators/ivf.py) prunes
the SCAN to n_probe/n_clusters of the corpus but still reads 256-byte raw
vectors; PQ alone (operators/pq.py) compresses 32× but scans EVERY code.
IVF-PQ multiplies the two savings: the search reads only the probed
clusters' code partitions — with n_probe=4 of 1024 clusters and m=8 codes
that is ~0.1% of the bytes an exact scan touches — which is exactly the
FAISS ``IVFPQ`` architecture (Jégou et al., PAMI 2011: "Product
quantization for nearest neighbor search").

Layout: codes live NEXT TO the IVF layout, partitioned by the SAME
``cluster_id`` (``path/codes/cluster_id=N/``), so centroid ranking prunes
code partitions at the parquet-directory level — the scan never lists,
let alone reads, unprobed clusters. Two training targets: the default
quantizes the (normalized) raw vectors; ``residual=True`` quantizes
``(x_norm − centroid[cluster])`` — the FAISS IVFPQ default, a
codebook-training change, not a layout change (search builds one small
ADC table per probed cluster instead of one global table). Both compose
with the OPQ rotation (``opq_iters``). Recall at fixture scale is pinned
in tests/test_ivfpq.py.

Static-data contract: codes are derived from the IVF index's committed
data tree at build time (the shared_cache_path fingerprint ties both to
the source parquet). Mutations go through the IVF index (append/delete/
compact) and invalidate the codes — rebuild, like any secondary index.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chatdata_spark.operators.ivf import IVFIndex, read_meta, write_meta
from chatdata_spark.operators.knn import knn
from chatdata_spark.operators.pq import (
    adc_scores,
    adc_table,
    codec_meta,
    encode_codes,
    load_codec,
    train_codebooks,
)


def _centroid_lookup(ivf: IVFIndex) -> np.ndarray:
    """(max_cluster_id+1, d) lookup of the RAW IVF centroids — cluster
    ids may be non-contiguous after split/merge maintenance, so the
    lookup is id-indexed, not positional. Raw (not unit-normalized): the
    KMeans mean is the least-squares center of its members, so
    (x_norm − mean) has the minimal residual energy — projecting the
    centroid onto the sphere INCREASES it (measured on the fixture
    corpus: 0.100 mean squared reconstruction error with the raw mean
    vs 0.140 with the unit-projected centroid vs 0.107 plain — the
    near-uniform hash embeddings cap the residual gain at ~7%; on a
    properly clustered corpus the gap is ~3x, test-pinned). When the
    corpus is unit-norm (the cosine-metric convention) the raw centroid
    IS the mean of the normalized vectors."""
    cents = ivf.centroids
    ids = ivf.cluster_ids
    lut = np.zeros((max(ids) + 1, cents.shape[1]), dtype=np.float64)
    for row, cid in enumerate(ids):
        lut[cid] = cents[row]
    return lut


class IVFPQIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        meta = read_meta(path, "ivfpq_meta.json")
        load_codec(self, meta)
        self.ivf_path = meta["ivf_path"]
        # residual mode: codes quantize (x_norm - centroid[cluster])
        self.residual = bool(meta.get("residual", False))
        self.ivf = IVFIndex(spark, self.ivf_path)

    @staticmethod
    def build(
        ivf: IVFIndex,
        path: str,
        m: int = 8,
        train_rows: int = 4096,
        iters: int = 12,
        seed: int = 42,
        opq_iters: int = 0,
        residual: bool = False,
    ) -> "IVFPQIndex":
        """Train PQ codebooks on a bounded driver-side sample of the IVF
        data (the same bounded-statistics-pass license as the IVF build
        itself), then Arrow-encode every row INSIDE its cluster partition
        and write codes partitioned by the same cluster_id. One scan, one
        partitioned write — no shuffle beyond the partitioning the IVF
        layout already established. ``opq_iters > 0`` trains an OPQ
        rotation first (operators/pq.py::opq_train) and encodes
        ``(x @ R)`` — the rotation lives entirely in the driver-side
        constants (codebooks, query table), so routing and the
        partition-pruned scan shape are untouched. ``residual=True`` is
        the FAISS IVFPQ default training target: codes quantize
        ``(x_norm − centroid[cluster])`` instead of x_norm — the
        displacement WITHIN a cluster is far smaller than the sphere, so
        the same 256-entry budget covers it much more finely (composes
        with OPQ: the rotation then trains on residuals). Training and
        encoding are operators/pq.py's codec (``train_codebooks``,
        ``encode_codes``)."""
        data = ivf.spark.read.parquet(ivf._data_path())
        cl_lut = _centroid_lookup(ivf) if residual else None
        rows = (
            data.select(ivf.vector_col, "cluster_id").limit(train_rows).collect()
        )
        sample = np.array([r[0] for r in rows], dtype=np.float64)
        row_cents = None
        if residual:
            row_cents = cl_lut[np.array([r[1] for r in rows], dtype=np.int64)]
        books, rotation = train_codebooks(
            sample, m, iters, seed, opq_iters, centroids=row_cents
        )
        codes = encode_codes(
            F.col(ivf.vector_col), books, rotation, centroids=cl_lut, cluster=F.col("cluster_id")
        )
        (
            data.select(F.col(ivf.id_col), F.col("cluster_id"), codes.alias("codes"))
            .repartition("cluster_id")
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(os.path.join(path, "codes"))
        )
        meta = codec_meta(ivf.id_col, ivf.vector_col, books, rotation)
        meta["ivf_path"] = ivf.path
        meta["residual"] = bool(residual)
        write_meta(path, "ivfpq_meta.json", meta)
        return IVFPQIndex(ivf.spark, path)

    def search(
        self,
        query_vec,
        k: int = 10,
        n_probe: int = 4,
        refine: int = 4,
        select=None,
    ) -> DataFrame:
        """Centroid-route → partition-pruned ADC code scan → exact rerank.

        1. rank centroids driver-side (a (n_clusters, d) GEMM on the
           meta constants, like IVFIndex.search);
        2. scan ONLY the probed clusters' code partitions
           (``cluster_id isin probes`` prunes parquet directories), score
           each row with m table lookups via one Arrow fancy-index pass;
        3. top ``k·refine`` by (adc, id) — a TakeOrderedAndProject heap —
           then exact cosine rerank (:func:`knn`) against the raw vectors read from the
           IVF data tree pruned to the SAME probed clusters (candidates
           can only come from probed clusters, so the pruned rerank is
           exact; a full-table rerank scan would dominate the routed code
           scan's savings — measured 0.34 s → the pruned read at sf0.1),
           broadcast semi-join by id, tie-broken on id. Tombstoned ids
           (IVF deletes pending compact) are filtered from the candidate
           set, mirroring IVFIndex.search."""
        q = np.asarray(query_vec, dtype=np.float64)
        q = q / np.linalg.norm(q)
        probes = self.ivf.rank_centroids(query_vec)[
            : max(1, min(n_probe, self.ivf.n_clusters))
        ]

        if self.residual:
            # per-probed-cluster tables: the code approximates the
            # residual, so the lookup target is (q − centroid[c]) —
            # n_probe × m × 256 driver-side floats, still tiny
            lut = _centroid_lookup(self.ivf)
            tabs = np.zeros((max(probes) + 1, self.m, 256), dtype=np.float64)
            for c in probes:
                qc = q - lut[c]
                if self.rotation is not None:
                    qc = qc @ self.rotation
                tabs[c] = adc_table(qc, self.codebooks)

            @F.pandas_udf("double")
            def _adc(codes: pd.Series, cids: pd.Series) -> pd.Series:
                c = np.array(codes.tolist(), dtype=np.int64)
                t = tabs[cids.to_numpy(dtype=np.int64)]  # (B, m, 256)
                return pd.Series(
                    np.take_along_axis(t, c[:, :, None], axis=2)[:, :, 0].sum(axis=1)
                )

            adc_expr = _adc("codes", F.col("cluster_id").cast("long"))
        else:
            # routing stays in the ORIGINAL space (centroids unrotated);
            # only the ADC table sees the rotated query
            qr = q if self.rotation is None else q @ self.rotation
            adc_expr = adc_scores(F.col("codes"), adc_table(qr, self.codebooks))

        codes = self.spark.read.parquet(os.path.join(self.path, "codes")).filter(
            F.col("cluster_id").isin(probes)
        )
        ts = self.ivf.tombstones()
        if ts is not None:
            codes = codes.join(F.broadcast(ts), self.id_col, "left_anti")
        cand = (
            codes.select(self.id_col, adc_expr.alias("__adc"))
            .orderBy(F.col("__adc").asc(), F.col(self.id_col).asc())
            .limit(int(k) * int(refine))
            .select(self.id_col)
        )
        raw = self.spark.read.parquet(self.ivf._data_path()).filter(
            F.col("cluster_id").isin(probes)  # same directory pruning as the codes
        )
        rerank = raw.join(F.broadcast(cand), self.id_col, "left_semi")
        cols = list(select) if select is not None else [self.id_col]
        return knn(rerank, self.vector_col, q, k=int(k), select=cols, id_col=self.id_col)


def build_or_load_ivfpq(
    ivf: IVFIndex, path: str, m: int = 8, opq_iters: int = 0, residual: bool = False
) -> IVFPQIndex:
    """Idempotent build, same convention as build_or_load_ivf/pq."""
    if os.path.exists(os.path.join(path, "ivfpq_meta.json")):
        return IVFPQIndex(ivf.spark, path)
    os.makedirs(path, exist_ok=True)
    return IVFPQIndex.build(
        ivf, path, m=m, opq_iters=opq_iters, residual=residual
    )
