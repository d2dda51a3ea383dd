"""Maximal Marginal Relevance (MMR) diversified top-k (extension; the
LangChain retriever interface the reference builds on exposes
search_type='mmr' — build_retrievers.py:116 uses the plain similarity
retriever, this adds the diversified variant engine-side).

Two-stage shape, honest about where each part runs:
1. distributed screen: exact cosine top-``fetch_n`` (TakeOrderedAndProject
   heap — the same plan as knn), pulling ``fetch_n`` (id, vec, dist) rows
   to the driver. fetch_n is a SMALL constant (~10²) by contract: MMR
   diversifies a results page, not a corpus.
2. driver greedy: iteratively add the candidate maximizing
   ``lam·sim(q,d) − (1−lam)·max_{s∈S} sim(d,s)`` — O(fetch_n²·dim) on
   ≤100 rows, microseconds. Ties break on id, floats are numpy float64
   with fixed operation order, so the selection is deterministic and the
   oracle replays it exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame

from chatdata_spark.operators.knn import knn
from chatdata_spark.session import local_frame



def mmr_greedy(
    ids: Sequence[int],
    vecs: np.ndarray,
    qvec: Sequence[float],
    k: int,
    lam: float,
) -> list[tuple[int, float]]:
    """Deterministic greedy MMR over a candidate matrix: returns
    [(id, round6 mmr score at selection)] in selection order — shared
    verbatim by the oracle builders, so both compare sides run the SAME
    float path. Incremental-penalty formulation: maintain each
    candidate's max-similarity-to-selected and fold in one GEMV per pick
    — O(k·n·d), no O(n²) cross matrix, which is what lets
    :func:`mmr_select_distributed` run the identical arithmetic over
    10⁴-10⁵ candidates executor-side. Ties break on id ascending
    (candidates are id-sorted; argmax returns the first maximum)."""
    n = len(ids)
    order = np.argsort(np.asarray(ids), kind="stable")  # tie-break: id asc
    v = np.asarray(vecs, dtype=np.float64)[order]
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    q = np.asarray(qvec, dtype=np.float64)
    q = q / np.linalg.norm(q)
    sorted_ids = [ids[int(i)] for i in order]
    rel = v @ q  # cosine similarity to the query
    # penalty[i] = max over SELECTED s of cos(v_i, v_s) — the canonical MMR
    # term, which is NEGATIVE for candidates anti-correlated with everything
    # selected. Start at None (first pick has no selected set: score is
    # lam·rel alone) and seed from the first pick's similarities; a zeros
    # init + maximum would silently clamp negative maxima at 0 and reorder
    # selections for anti-correlated candidates.
    penalty = None
    active = np.ones(n, dtype=bool)
    out: list[tuple[int, float]] = []
    for _ in range(min(k, n)):
        score = lam * rel if penalty is None else lam * rel - (1.0 - lam) * penalty
        score = np.where(active, score, -np.inf)
        best = int(np.argmax(score))
        out.append((int(sorted_ids[best]), float(round(score[best], 6))))
        active[best] = False
        sim_best = v @ v[best]
        penalty = sim_best if penalty is None else np.maximum(penalty, sim_best)
    return out


def mmr_select(
    df: DataFrame,
    vec_col: str,
    qvec: Sequence[float],
    k: int,
    id_col: str,
    fetch_n: int = 100,
    lam: float = 0.5,
) -> DataFrame:
    """Diversified top-k: exact-cosine screen to ``fetch_n`` candidates
    (distributed heap), then driver-side greedy MMR. Returns
    (id, mmr_rank, mmr_score) in selection order.

    ``fetch_n`` is a RESULTS-PAGE constant by contract — the greedy is
    O(fetch_n²·dim) on the driver, which is microseconds at 10² and a
    problem at 10⁴. The guard makes the contract explicit instead of
    letting a config change silently move corpus-scale work onto the
    driver; above it, move the greedy into a single-partition Arrow UDF
    (same math, executor-side) before raising the cap."""
    if fetch_n > 2048:
        raise ValueError(
            f"mmr_select fetch_n={fetch_n} exceeds the bounded-driver-greedy "
            "contract (≤2048); diversify a results page, or port the greedy "
            "to a single-partition Arrow UDF for larger candidate sets"
        )
    cand = knn(df, vec_col, qvec, k=fetch_n, select=[id_col, vec_col], id_col=id_col)
    rows = cand.collect()
    ids = [r[id_col] for r in rows]
    vecs = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    chosen = mmr_greedy(ids, vecs, qvec, k, lam)
    return local_frame(
        df.sparkSession,
        [(i, rank, score) for rank, (i, score) in enumerate(chosen)],
        f"{id_col} long, mmr_rank int, mmr_score double",
    )


def mmr_select_distributed(
    df: DataFrame,
    vec_col: str,
    qvec: Sequence[float],
    k: int,
    id_col: str,
    fetch_n: int = 10_000,
    lam: float = 0.5,
) -> DataFrame:
    """The MMR scale path: same exact-cosine screen, but the greedy runs
    EXECUTOR-side in one mapInPandas task over the coalesced candidate
    page — nothing corpus- or page-sized touches the driver, so fetch_n
    can be 10⁴-10⁵ (bounded by one task's memory: fetch_n × dim floats;
    the greedy is O(k·fetch_n·dim) with the incremental penalty).
    Bit-identical to :func:`mmr_select` for the same inputs (asserted in
    tests): the task runs :func:`mmr_greedy` itself."""
    import pandas as pd

    q_list = [float(x) for x in qvec]
    kk, ll, idc, vc = int(k), float(lam), id_col, vec_col

    def greedy(batches):
        pdfs = [p for p in batches if len(p)]
        chosen = []
        if pdfs:
            pdf = pd.concat(pdfs, ignore_index=True)
            vecs = np.array(pdf[vc].tolist(), dtype=np.float64)
            chosen = mmr_greedy(pdf[idc].to_numpy(), vecs, q_list, kk, ll)
        yield pd.DataFrame({
            idc: pd.Series([i for i, _ in chosen], dtype="int64"),
            "mmr_rank": pd.Series(range(len(chosen)), dtype="int32"),
            "mmr_score": pd.Series([sc for _, sc in chosen], dtype="float64"),
        })

    cand = knn(df, vec_col, qvec, k=fetch_n, select=[id_col, vec_col], id_col=id_col)
    return (
        cand.select(id_col, vec_col)
        .coalesce(1)
        .mapInPandas(greedy, f"{id_col} long, mmr_rank int, mmr_score double")
    )
