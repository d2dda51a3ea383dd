"""Batch kNN join: top-k nearest neighbors in an indexed table for EVERY
row of a query table (north-star extension; the reference's engine only
exposes the single-query kNN template, app/backend/vector_store/
myscale_without_metadata.py:19-36 — a batch retrieval/linkage pass over
a corpus is the same template applied n times, which at scale must
become one co-located join, not n queries).

Scale design (the 100 TB story):

- the base side keeps its IVF layout (operators/ivf.py): partitioned by
  ``cluster_id`` on disk, read co-located — never shuffled by vector.
- each query row is routed to its ``n_probe`` nearest centroids by an
  Arrow GEMM over the broadcast centroid matrix (same
  ``_probe_clusters_udf`` as the clustered near-dup), then replicated
  across ``n_salt`` hash-salts of the base cluster so one giant cluster
  parallelizes instead of serializing onto one task.
- per (cluster, salt) group, ONE numpy GEMM scores |Q_group|×|B_group|
  pairs and keeps each query's local top-k with an epsilon margin —
  the only O(|Q|·|B|/C) work, Arrow-batched, never interpreted
  per-element.
- survivors (≤ n_probe·(k+ties) per query) are re-scored EXACTLY with
  the JVM fold (functions/vector.py::dot_product — identical operand
  order to the DuckDB oracle, dedup.py's near-dup convention), then a
  window takes the global top-k per query with a (dist, id) tie-break.

``n_probe = n_clusters`` probes every cluster, so every (query, base)
pair meets exactly once and the result is provably the exact kNN join —
the oracle-checkable configuration; smaller ``n_probe`` trades recall
for a 1/C scan fraction exactly like single-query IVF search.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chatdata_spark.operators.dedup import _probe_clusters_udf


def knn_join(
    queries_df: DataFrame,
    ivf_index,
    q_id_col: str,
    q_vector_col: str,
    k: int = 5,
    n_probe: int = 2,
    n_salt: int = 4,
    round_digits: int = 6,
    screen_margin: float = 1e-5,
) -> DataFrame:
    """(q_id, b_id, dist) — for each query row, its k nearest base rows by
    cosine distance (ascending, ties broken on b_id). Ids must be integral
    (they ride through the Arrow group stage as int64)."""
    spark = ivf_index.spark
    # _data_path(), NOT '{path}/data': compact() swaps the committed tree
    # to a versioned data_vN dir (see the twin fix in
    # operators/dedup.py::embedding_near_dup_clustered)
    base = spark.read.parquet(ivf_index._data_path()).select(
        F.col(ivf_index.id_col).alias("b_id"),
        F.col(ivf_index.vector_col).cast("array<double>").alias("bv"),
        "cluster_id",
    ).withColumn("salt", F.pmod(F.xxhash64("b_id"), F.lit(n_salt)).cast("int"))

    probes = _probe_clusters_udf(ivf_index.centroids, min(n_probe, ivf_index.n_clusters))
    # NO `_spread` of the query side (r11 optimization round, measured
    # and REJECTED): the probe-assignment pass is one small GEMM per
    # Arrow batch and everything lands in the (cluster, salt) cogroup
    # exchange right after — adding a repartition ahead of it measured
    # knn_join_pruned 1.3x SLOWER at paired min-of-5 (0.92→1.21,
    # 0.80→1.09 s) and bought nothing for the corpus-sized bitext sides
    # (paired median 1.07); at scale large query sides arrive
    # multi-partition anyway.
    q = (
        queries_df.select(
            F.col(q_id_col).alias("q_id"),
            F.col(q_vector_col).cast("array<double>").alias("qv"),
        )
        .withColumn("cluster_id", F.explode(probes(F.col("qv").cast("array<float>"))))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    )

    kk, margin = int(k), float(screen_margin)

    def _local_topk(key, qpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        # one GEMM per (cluster, salt): raw cosine screen, local top-k with
        # a margin so exact re-scoring can never lose a true neighbor to a
        # last-place ulp difference.
        if qpdf.empty or bpdf.empty:
            return pd.DataFrame(
                {
                    "q_id": pd.Series([], dtype="int64"),
                    "b_id": pd.Series([], dtype="int64"),
                    "qv": pd.Series([], dtype=object),
                    "bv": pd.Series([], dtype=object),
                }
            )
        qm = np.array(qpdf["qv"].tolist(), dtype=np.float64)
        bm = np.array(bpdf["bv"].tolist(), dtype=np.float64)
        sims = (qm @ bm.T) / (
            np.linalg.norm(qm, axis=1)[:, None] * np.linalg.norm(bm, axis=1)[None, :]
        )
        keep_q, keep_b = [], []
        kth = min(kk, sims.shape[1])
        cut = np.partition(sims, -kth, axis=1)[:, -kth] - margin
        for r in range(sims.shape[0]):
            cols = np.nonzero(sims[r] >= cut[r])[0]
            keep_q.extend([r] * cols.size)
            keep_b.extend(cols.tolist())
        return pd.DataFrame(
            {
                "q_id": qpdf["q_id"].to_numpy()[keep_q],
                "b_id": bpdf["b_id"].to_numpy()[keep_b],
                "qv": [qm[r].tolist() for r in keep_q],
                "bv": [bm[c].tolist() for c in keep_b],
            }
        )

    cand = q.groupBy("cluster_id", "salt").cogroup(
        base.groupBy("cluster_id", "salt")
    ).applyInPandas(
        _local_topk, "q_id long, b_id long, qv array<double>, bv array<double>"
    )

    # exact re-score: JVM fold with the oracle's operand order; norms
    # materialized in their own select layer (CollapseProject inline trap)
    from chatdata_spark.functions.vector import dot_product, vector_norm

    scored = (
        cand.select("q_id", "b_id", "qv", "bv", vector_norm("qv").alias("nq"),
                    vector_norm("bv").alias("nb"))
        .select(
            "q_id", "b_id",
            F.round(
                F.lit(1.0) - dot_product("qv", "bv") / (F.col("nq") * F.col("nb")),
                round_digits,
            ).alias("dist"),
        )
        # a pair can meet in several probed clusters of the same query —
        # collapse before ranking
        .dropDuplicates(["q_id", "b_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("b_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("q_id", "b_id", "dist")
    )


def hard_negative_mining(
    queries_df: DataFrame,
    positives_df: DataFrame,
    ivf_index,
    q_id_col: str,
    q_vector_col: str,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Contrastive-training hard negatives: for every query (anchor), its
    k NEAREST base rows that are not known positives — the mined batch a
    contrastive loss wants (nearest non-matches are the informative ones).

    ``positives_df``: (q_id, b_id) known-positive pairs (include the
    anchor's self-pair). Exactness under the anti-join: fetch
    ``k + max positives per query`` candidates — a bounded groupBy-max
    scalar (driver-side, like the rollup watermark) — so dropping every
    positive still leaves the true top-k. One knn_join + one broadcastable
    anti-join + one per-query window over ≤ k+p rows; full-probe config is
    exact end-to-end (the oracle), pruned n_probe trades recall exactly
    like the underlying join."""
    pos = positives_df.select(
        F.col(positives_df.columns[0]).alias("q_id"),
        F.col(positives_df.columns[1]).alias("b_id"),
    )
    p_max_row = pos.groupBy("q_id").agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).first()
    p_max = int(p_max_row[0] or 0)
    cand = knn_join(
        queries_df, ivf_index, q_id_col, q_vector_col, k=k + p_max, n_probe=n_probe
    )
    neg = cand.join(pos, ["q_id", "b_id"], "left_anti")
    w = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("b_id"))
    return (
        neg.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
