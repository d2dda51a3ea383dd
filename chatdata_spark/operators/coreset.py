"""k-center greedy coreset selection (Gonzalez 1985 farthest-first
traversal; Sener & Savarese 2018 use it as THE coreset construction for
training-data selection): pick k points so every corpus vector is close
to some selected one — the geometry-covering dual of SemDeDup-style
pruning (operators/dedup.py::semantic_dedup removes redundant points;
this SELECTS maximally-diverse ones). The reference ranks by vector
distance only (app/backend/chat_bot/chat.py); coreset selection is the
data-pruning step a curation engine runs on the same embedding column.

Determinism (the norm-monitor idiom, queries/quality.py::
embedding_norm_anomaly): components are fixed-pointed at 4 decimals via
the double→DECIMAL(18,4) cast (float32 → double is exact; double →
decimal goes through the shortest-string repr with HALF_UP — the
cross-engine convention), so every squared distance is an EXACT BIGINT
(diff² ≤ (2·10⁴)² · d — at d = 64, ~2.6e10 ≪ 2^63) and the per-round
argmax has a total order with the vec_id tie-break. No floats anywhere.

Spark-first shape (100 TB posture): the fixed-point frame is persisted
once; each of the k rounds is ONE Arrow pass computing
min-d²-to-selected against the centers-so-far matrix (a k×d int64
closure constant — no per-round state frame, no checkpoints to carry)
followed by ONE TakeOrderedAndProject argmax (1 collected row of d+2
scalars — the bounded-collect license). The selection loop is inherently
k-sequential (each center depends on all previous); total numpy work is
O(k²·n·d/2), driver traffic k·(d+2) scalars.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401  (module-top import: pandas_udf hint rule)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chatdata_spark.session import local_frame

_MIND2_UDFS: dict = {}  # centers-matrix key -> UDF (CLAUDE.md memoization
# rule: identical centers must produce CacheManager-equal plans)


def _mind2_udf(centers: tuple):
    if centers not in _MIND2_UDFS:
        c_mat = np.asarray(centers, dtype=np.int64)  # (r, d)

        @F.pandas_udf("long")
        def mind2(col: pd.Series) -> pd.Series:
            # exact int64 squared distances; min over the selected set.
            x = np.stack(col.to_numpy())  # (batch, d) int64
            d2 = ((x[:, None, :] - c_mat[None, :, :]) ** 2).sum(axis=2)
            return pd.Series(d2.min(axis=1))

        _MIND2_UDFS[centers] = mind2
    return _MIND2_UDFS[centers]


def fixed_point_vectors(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id_col, a4): 4-decimal fixed-point int64 vector — float32 →
    double (exact) → DECIMAL(18,4) (shortest-repr HALF_UP) → ·10⁴ →
    BIGINT, per the embedding_norm_anomaly convention."""
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: (x.cast("decimal(18,4)") * F.lit(10_000))
            .cast("decimal(38,0)")
            .cast("long"),
        ).alias("a4"),
    )


def kcenter_greedy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 12,
) -> DataFrame:
    """(rank, id, d2_prev): the k greedily-selected centers. Rank 1 is
    the MIN id (the deterministic seed); each later center is the vector
    farthest (exact integer d², vec-id tie-break) from everything
    selected before it, and ``d2_prev`` is that distance — the classic
    non-increasing coreset radius sequence (rank 1 gets 0)."""
    spark = df.sparkSession
    base = fixed_point_vectors(df, id_col, vec_col).persist()
    try:
        seed = base.orderBy(F.col(id_col).asc()).limit(1).collect()[0]
        selected = [(1, seed[id_col], 0)]
        centers = [tuple(seed["a4"])]
        for r in range(2, int(k) + 1):
            udf = _mind2_udf(tuple(centers))
            nxt = (
                base.select(id_col, udf(F.col("a4")).alias("d2"), "a4")
                .orderBy(F.desc("d2"), F.col(id_col).asc())
                .limit(1)
                .collect()[0]
            )
            selected.append((r, nxt[id_col], int(nxt["d2"])))
            centers.append(tuple(nxt["a4"]))
        return local_frame(spark, selected, f"rank int, {id_col} long, d2_prev long")
    finally:
        base.unpersist()


def kcenter_greedy_py(vectors: dict, k: int = 12) -> list:
    """Sequential twin over {id: [int components]} — the oracle replay.
    Same seed, same exact integer distances, same (d2 desc, id asc)
    argmax; equality with the distributed path is pinned in
    tests/test_coreset.py and by the registered query."""
    ids = sorted(vectors)
    seed = ids[0]
    selected = [(1, seed, 0)]
    centers = [vectors[seed]]
    for r in range(2, int(k) + 1):
        best = None
        for i in ids:
            x = vectors[i]
            d2 = min(
                sum((a - b) ** 2 for a, b in zip(x, c)) for c in centers
            )
            if best is None or d2 > best[1] or (d2 == best[1] and i < best[0]):
                best = (i, d2)
        selected.append((r, best[0], best[1]))
        centers.append(vectors[best[0]])
    return selected
