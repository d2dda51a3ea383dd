"""Margin-based parallel-pair (bitext) mining — Artetxe & Schwenk 2019
("Margin-based Parallel Corpus Mining with Multilingual Sentence
Embeddings", the LASER/CCMatrix method): raw cosine similarity is a poor
pair criterion because some embeddings live in dense "hub" regions where
EVERYTHING is close; the margin normalizes each candidate pair's
similarity by the average similarity of both endpoints' k-nearest
neighborhoods, so a pair only scores high when the two points are close
*relative to how close everything else is to them*. Mined pairs feed
translation / cross-lingual training corpora — the same role the
reference's multilingual KB retrieval plays at query time
(/root/reference/app/backend/constants/myscale_tables.py:19,45), turned
into a corpus-construction batch job.

Score (the "ratio" variant, eq. 4): for x in A, y in B,

    margin(x, y) = sim(x, y) / ( (Σ_{z∈NN_k(x,B)} sim(x,z)
                                 + Σ_{w∈NN_k(y,A)} sim(y,w)) / 2k )

Pair strategy "intersection": keep (x, y) only when y is x's best-margin
candidate AND x is y's — mutual argmax, the highest-precision published
strategy.

Spark-first shape (100 TB posture): the two directional kNN sweeps are
:func:`chatdata_spark.operators.knnjoin.knn_join` calls over IVF layouts
(per-(cluster, salt) Arrow GEMMs, exact JVM re-score) — corpus-sized work
happens ONLY there. Everything after runs on the k·(|A|+|B|) candidate
pairs: two exact-decimal neighborhood sums (one groupBy each), one join
to attach both sums, two rank-1 windows for the mutual argmax. No
cross join, no driver collect.

Determinism (SURVEY §5): sims are 1 − the knn_join round-6 dists;
neighborhood sums aggregate DECIMAL(18,6) casts of those round-6 values
(exact — no float summation-order drift across engines); the margin is a
single double division with fixed operand order, rounded to 6.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def margin_mine(
    a_df: DataFrame,
    b_df: DataFrame,
    id_col: str,
    vector_col: str,
    k: int = 4,
    threshold: float = 1.0,
    n_clusters: int = 8,
    index_root: str | None = None,
) -> DataFrame:
    """(a_id, b_id, sim, margin): mutual-argmax margin-scored pairs with
    margin ≥ ``threshold`` (1.0 = "closer than the neighborhood average",
    the published operating region is ~1.04-1.2). Both side searches probe
    all ``n_clusters`` clusters, so they are exact. ``index_root``:
    directory for the two side indexes (a tempdir when omitted — pass a
    shared cache path to amortize builds across calls, the _ivf_index
    pattern). A cached index is validated
    against the passed DataFrame (row count + order-free id XOR hash,
    one column-pruned pass over the side); a mismatch raises rather than
    silently mining wrong pairs from a stale cache. NB the tempdir
    default is NOT removed on return: the result is lazy and scans the
    index parquet on evaluation — the directory must outlive every
    consumer of the returned frame. Pass ``index_root`` when per-call
    tempdirs would accumulate (e.g. a long-lived service)."""
    from chatdata_spark.operators.ivf import IVFIndex
    from chatdata_spark.operators.knnjoin import knn_join

    root = index_root or tempfile.mkdtemp(prefix="chatdata_bitext_")

    def _fingerprint(df: DataFrame) -> dict:
        # order-independent, overflow-free (XOR), pruned to id_col only
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr(f"bit_xor(xxhash64(cast({id_col} AS STRING)))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return {"n_rows": int(row["n"]), "id_xor_hash": int(row["h"])}

    def _side_index(df: DataFrame, name: str) -> IVFIndex:
        path = os.path.join(root, name)
        fp_path = os.path.join(path, "bitext_fingerprint.json")
        if not os.path.exists(os.path.join(path, "ivf_meta.json")):
            os.makedirs(path, exist_ok=True)
            idx = IVFIndex.build(df, path, id_col, vector_col, n_clusters=n_clusters)
            tmp = fp_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(_fingerprint(df), f)
            os.replace(tmp, fp_path)
            return idx
        if os.path.exists(fp_path):
            with open(fp_path) as f:
                cached = json.load(f)
            live = _fingerprint(df)
            if cached != live:
                raise ValueError(
                    f"margin_mine: cached index at {path} was built from a "
                    f"DIFFERENT corpus (cached {cached}, passed {live}) — "
                    "clear the directory or pass a fresh index_root"
                )
        return IVFIndex(df.sparkSession, path)

    idx_a = _side_index(a_df, "side_a")
    idx_b = _side_index(b_df, "side_b")

    sim = (F.lit(1.0) - F.col("dist")).alias("sim")
    fwd = knn_join(a_df, idx_b, id_col, vector_col, k=k, n_probe=n_clusters).select(
        F.col("q_id").alias("a_id"), F.col("b_id"), sim
    )
    # backward sweep: B rows are the QUERIES, A is the base — knn_join's
    # q_id is therefore the b_id of the pair and its b_id the a_id
    bwd = knn_join(b_df, idx_a, id_col, vector_col, k=k, n_probe=n_clusters).select(
        F.col("b_id").alias("a_id"), F.col("q_id").alias("b_id"), sim
    )
    # exact-decimal neighborhood sums: round-6 sims are exact DECIMAL(18,6),
    # so the SUM is engine-order-independent (the money-aggregate rule)
    dec = F.col("sim").cast("decimal(18,6)")
    sum_a = fwd.groupBy("a_id").agg(F.sum(dec).alias("sum_a"))
    sum_b = bwd.groupBy("b_id").agg(F.sum(dec).alias("sum_b"))
    # candidate set = union of both directions (cosine is symmetric, so a
    # pair surfacing in both carries the identical round-6 sim — dedup is
    # loss-free); every a_id/b_id has its sum by construction (knn_join
    # emits k rows per query against a non-empty side)
    cand = fwd.unionByName(bwd).dropDuplicates(["a_id", "b_id"])
    scored = (
        cand.join(sum_a, "a_id")
        .join(sum_b, "b_id")
        .withColumn(
            "margin",
            F.round(
                F.col("sim") * F.lit(float(2 * k))
                / (F.col("sum_a") + F.col("sum_b")).cast("double"),
                6,
            ),
        )
    )
    wa = Window.partitionBy("a_id").orderBy(
        F.col("margin").desc(), F.col("b_id").asc()
    )
    wb = Window.partitionBy("b_id").orderBy(
        F.col("margin").desc(), F.col("a_id").asc()
    )
    return (
        scored.withColumn("__ra", F.row_number().over(wa))
        .withColumn("__rb", F.row_number().over(wb))
        .filter((F.col("__ra") == 1) & (F.col("__rb") == 1))
        .filter(F.col("margin") >= float(threshold))
        .select("a_id", "b_id", "sim", "margin")
        .orderBy("a_id", "b_id")
    )
