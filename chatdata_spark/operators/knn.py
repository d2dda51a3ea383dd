"""Brute-force (exact) filtered top-k vector search.

Semantics of the reference's kNN template
(/root/reference/app/backend/vector_store/myscale_without_metadata.py:19-36):

    SELECT <text>, dist, <must_have_cols>
    FROM db.table
    [PREWHERE <where_str>]
    ORDER BY distance(<vector_col>, <query_vec>) AS dist ASC
    LIMIT <k>

Spark-first realization:

- the filter is a plain ``.filter`` — Catalyst pushes it into the parquet
  scan (the reference needed an explicit PREWHERE slot; we get it for free,
  SURVEY §4 row 2);
- ``orderBy(dist).limit(k)`` plans as ``TakeOrderedAndProject``: each
  partition keeps a k-heap, the driver merges — no global sort, no shuffle
  of the full table. This is the scan-side plan you want at 100 TB: cost is
  one pass over the (pruned, filtered) scan + O(partitions · k) merge.
- distance is JVM-side float64 (functions/vector.py); ties broken on the id
  column so results hash-stably (SURVEY §5).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chatdata_spark.functions.vector import cosine_distance, dot_product, l2_distance

_METRICS = {"cosine": cosine_distance, "l2": l2_distance, "ip": dot_product}
# knn_batch inlines each query vector as plan literals — O(Q·d) plan
# growth, so batch size is bounded (the MMR fetch_n<=2048 precedent);
# large-Q retrieval belongs to knnjoin.py (queries as a DataFrame)
MAX_BATCH_QUERIES = 1024
# ranking direction per metric: distances rank ascending; inner product is
# a SIMILARITY, so IP ranks descending — the reference's `dist_order` knob
# (myscale_without_metadata.py:33-34; MyScale metric_type=IP)
_DESCENDING = {"ip"}


def knn(
    df: DataFrame,
    vector_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    where: Column | None = None,
    select: Sequence[str] | None = None,
    metric: str = "cosine",
    id_col: str | None = None,
    dist_col: str = "dist",
) -> DataFrame:
    """Exact filtered top-k by vector distance (V3 + V1 + T1, default k per
    build_retrievers.py:102 / myscale_without_metadata.py:38 is 4-10),
    rounded to 6 digits (the V1 convention)."""
    dist = F.round(_METRICS[metric](F.col(vector_col), list(query_vec)), 6)
    out = df
    if where is not None:
        out = out.filter(where)
    out = out.withColumn(dist_col, dist)
    order = [
        F.col(dist_col).desc() if metric in _DESCENDING else F.col(dist_col).asc()
    ]
    if id_col:
        order.append(F.col(id_col).asc())
    out = out.orderBy(*order).limit(k)
    if select is not None:
        out = out.select(*select, dist_col)
    return out.drop(vector_col) if select is None else out


def knn_batch(
    df: DataFrame,
    vector_col: str,
    query_vecs: Sequence[Sequence[float]],
    k: int = 10,
    select: Sequence[str] | None = None,
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """BATCHED exact kNN — Q independent queries answered in ONE corpus
    scan (the production batch-serving shape: per-query scans cost
    Q × corpus I/O; here the scan is paid once and each row emits Q
    (query_id, dist) pairs from a single Generate — the array of structs
    is built inline in the explode, evaluated once per row, no
    re-evaluation trap). Per-query top-k comes from
    operators/grouptopk.py::grouped_topk with salting: Q groups are few
    and corpus-sized — exactly the two-phase case (local top-k per
    (query, salt) bucket, tiny exact re-rank) where a plain window would
    serialize each query onto one task. Distances follow the V1
    float64/round-6 convention with (dist, id) tie-break, so the result
    set is the union of Q single-query kNN answers bit-for-bit.

    Output: (query_id, select..., dist), ordered by (query_id, dist,
    id). ``id_col`` is used internally for the tie-break but is NOT
    added to the output when ``select`` omits it.

    Q is capped at ``MAX_BATCH_QUERIES``: every query vector is inlined
    as plan literals (Q×d floats inside one Generate), so plan size and
    driver-side analysis time grow O(Q·d) — fine for a serving batch of
    a few hundred, wrong for bulk retrieval. Callers with large Q should
    put the queries in a DataFrame and use operators/knnjoin.py::knn_join
    (per-cluster GEMM, queries shuffled as DATA not plan text)."""
    from chatdata_spark.operators.grouptopk import grouped_topk

    if len(query_vecs) > MAX_BATCH_QUERIES:
        raise ValueError(
            f"knn_batch inlines query vectors as plan literals; "
            f"Q={len(query_vecs)} > {MAX_BATCH_QUERIES} would bloat the plan "
            f"O(Q*d). Put the queries in a DataFrame and use "
            f"chatdata_spark.operators.knnjoin.knn_join instead."
        )
    cols = list(select) if select else [id_col]
    id_appended = id_col not in cols
    if id_appended:
        cols = [*cols, id_col]
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("query_id"),
                F.round(cosine_distance(F.col(vector_col), list(q)), round_digits).alias(
                    "dist"
                ),
            )
            for i, q in enumerate(query_vecs)
        ]
    )
    exploded = df.filter(F.col(vector_col).isNotNull()).select(
        *cols, F.explode(pairs).alias("__qd")
    ).select(*cols, F.col("__qd.query_id").alias("query_id"), F.col("__qd.dist").alias("dist"))
    out = grouped_topk(
        exploded,
        ["query_id"],
        [F.asc("dist"), F.asc(id_col)],
        k,
        salt_on=id_col,
    )
    out = out.select("query_id", *cols, "dist").orderBy(
        "query_id", "dist", id_col
    )
    # honor the documented (query_id, select..., dist) contract: the
    # tie-break id column stays internal unless the caller selected it
    return out.drop(id_col) if id_appended and select else out
