"""Distributed PCA over embedding columns — exact integer moment
accumulation, driver-side eigendecomposition, Arrow-batch projection.

The training-pipeline uses: whiten/center embeddings before clustering or
near-dup thresholds, and a DATA-DRIVEN low-rank projection next to the
data-oblivious ones already in dimred.py (Johnson-Lindenstrauss random
projection, Matryoshka prefix truncation). The reference's stack fits
such reducers client-side at toy scale; here the fit is one distributed
pass (capability-parity extension; no reference engine code exists for
it).

Determinism recipe (the operators/kmeans.py fixed-point pattern applied
to moment estimation): vectors quantize to int64 at QBITS; each Arrow
batch computes an INT64-exact Gram ``q.T @ q`` and coordinate sums;
partitions accumulate batches in arbitrary-precision Python ints and emit
the d(d+1)/2 upper-triangle moments as ``decimal(38,0)`` rows; one
map-side-combined groupBy sums them exactly. The driver then converts the
exact integer moments to a float64 covariance with ONE fixed operation
order and runs ``np.linalg.eigh`` — so the distributed fit and the
single-node replay (``pca_replay_model``) produce bit-identical models by
construction, and what an oracle comparison actually verifies is the
distributed machinery: partition-invariant exact sums and the Arrow
projection path.

Scale shape: the fit shuffles AT MOST (d²/2 + d + 1) rows per partition
(map-side combine) and collects that many scalars once — never a per-row
collect; d=64 → 2,145 scalars. Projection is one GEMM per Arrow batch
(the dimred.py shape). Eigen-sign ambiguity is fixed by making each
component's largest-|coefficient| entry positive (first index on ties).

Projection UDFs are memoized on the model bytes so repeated invocations
stay plan-equal.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

QBITS = 20
QSCALE = 1 << QBITS

_PROJECT_UDFS: dict[tuple, object] = {}
_PROJECT_UDFS_MAX = 64


@dataclass
class PCAModel:
    n: int
    mean: np.ndarray        # (d,) float64, raw-value space
    components: np.ndarray  # (d, r) float64, columns = descending-variance PCs
    eigvals: np.ndarray     # (r,) float64, raw-value-space variances


def _moments_schema():
    return "i int, j int, s decimal(38,0)"


def _moment_rows(df: DataFrame, vec_col: str, qbits: int) -> DataFrame:
    """Per-partition exact integer moments as (i, j, s) rows:
    j >= 0 → upper-triangle Gram entry Σ q_i·q_j; j = -1 → coordinate sum
    Σ q_i; (i, j) = (-1, -1) → row count."""
    scale = float(1 << qbits)

    def part(batches):
        from decimal import Decimal

        d = None
        gram = None  # list of Python ints, upper triangle flattened
        sums = None
        n = 0
        for pdf in batches:
            for col in pdf.columns:
                x = np.vstack(pdf[col].to_numpy()).astype(np.float64)
                q = np.floor(x * scale).astype(np.int64)
                b, dd = q.shape
                m = int(np.abs(q).max()) if b else 0
                # per-batch int64 Gram bound: |Σ_batch q_i q_j| <= b*M^2
                if b and float(b) * float(m) * float(m) >= float(2**63):
                    raise ValueError(
                        f"batch Gram overflow risk: {b} rows at |q|<= {m}"
                    )
                if d is None:
                    d = dd
                    iu = np.triu_indices(d)
                    gram = [0] * len(iu[0])
                    sums = [0] * d
                g = (q.T @ q)[np.triu_indices(dd)]  # int64 exact per batch
                s = q.sum(axis=0)                   # |Σ q| <= b*M — int64 safe
                for t in range(len(gram)):
                    gram[t] += int(g[t])
                for t in range(dd):
                    sums[t] += int(s[t])
                n += b
        if d is None:
            return
        iu = np.triu_indices(d)
        out_i = list(iu[0].astype(int)) + list(range(d)) + [-1]
        out_j = list(iu[1].astype(int)) + [-1] * d + [-1]
        out_s = [Decimal(v) for v in gram] + [Decimal(v) for v in sums] + [Decimal(n)]
        yield pd.DataFrame({"i": out_i, "j": out_j, "s": out_s})

    return df.select(vec_col).mapInPandas(part, schema=_moments_schema())


def _model_from_moments(
    n: int, sums: list[int], gram: dict[tuple[int, int], int], d: int, r: int, qbits: int
) -> PCAModel:
    """Exact integer moments → float64 covariance (ONE canonical operation
    order) → eigh → sign-fixed top-r model. Shared by the distributed fit
    and the single-node replay so the two cannot diverge past the moment
    computation, which is exact on both paths."""
    scale = float(1 << qbits)
    cov = np.empty((d, d), dtype=np.float64)
    nf = float(n)
    for i in range(d):
        for j in range(i, d):
            # cov_ij = (n*S_ij - m_i*m_j) / n^2  in quantized units;
            # the numerator is an EXACT Python int rounded once to float64.
            num = n * gram[(i, j)] - sums[i] * sums[j]
            cov[i, j] = cov[j, i] = float(num) / (nf * nf)
    cov /= scale * scale
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:r]
    comps = v[:, order]
    for c in range(comps.shape[1]):
        col = comps[:, c]
        lead = int(np.argmax(np.abs(col)))  # first index on ties
        if col[lead] < 0:
            comps[:, c] = -col
    mean = np.array([float(s) / nf / scale for s in sums], dtype=np.float64)
    return PCAModel(n=n, mean=mean, components=comps.copy(), eigvals=w[order].copy())


def pca_fit(df: DataFrame, vec_col: str, r: int, qbits: int = QBITS) -> PCAModel:
    """One distributed pass: exact integer moments (map-side-combined
    decimal sums), then the shared driver-side model construction."""
    moments = (
        _moment_rows(df.filter(F.col(vec_col).isNotNull()), vec_col, qbits)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )
    rows = moments.collect()  # bounded: d(d+1)/2 + d + 1 scalars
    gram: dict[tuple[int, int], int] = {}
    sums_d: dict[int, int] = {}
    n = 0
    for row in rows:
        i, j, s = row.i, row.j, int(row.s)
        if i == -1 and j == -1:
            n = s
        elif j == -1:
            sums_d[i] = s
        else:
            gram[(i, j)] = s
    d = len(sums_d)
    if n == 0 or d == 0:
        raise ValueError("pca_fit: empty input")
    sums = [sums_d[i] for i in range(d)]
    return _model_from_moments(n, sums, gram, d, r, qbits)


def pca_replay_model(vecs, r: int, qbits: int = QBITS) -> PCAModel:
    """Single-node replay of the EXACT moment recurrence — the independent
    oracle twin of ``pca_fit`` (same arbitrary-precision integers, same
    shared model construction)."""
    x = np.asarray(vecs, dtype=np.float64)
    q = np.floor(x * float(1 << qbits)).astype(np.int64)
    n, d = q.shape
    sums = [int(v) for v in q.sum(axis=0, dtype=object)]
    gram = {}
    for i in range(d):
        for j in range(i, d):
            gram[(i, j)] = int(np.sum(q[:, i].astype(object) * q[:, j].astype(object)))
    return _model_from_moments(n, sums, gram, d, r, qbits)


def _fp_constants(model: PCAModel, qbits: int):
    """Quantized components + the float64 centering offsets, computed with
    EXPLICIT sequential loops (no BLAS) so the operator's captured
    constants and the replay's are bit-identical: offset_c =
    Σ_i mean_i · (cq[i,c]/scale), accumulated in index order."""
    scale = float(1 << qbits)
    cq = np.floor(model.components * scale).astype(np.int64)  # (d, r)
    d, r = cq.shape
    m = int(np.abs(cq).max()) if cq.size else 0
    # per-row dot bound: |q · cq_col| <= d * maxq * maxc must stay int64
    offset = np.zeros(r, dtype=np.float64)
    for c in range(r):
        acc = 0.0
        for i in range(d):
            acc = acc + model.mean[i] * (float(cq[i, c]) / scale)
        offset[c] = acc
    return cq, offset, m


def _project_udf(model: PCAModel, fixed_point: bool, qbits: int):
    key = (model.components.tobytes(), model.mean.tobytes(), fixed_point, qbits)
    if key not in _PROJECT_UDFS:
        while len(_PROJECT_UDFS) >= _PROJECT_UDFS_MAX:
            _PROJECT_UDFS.pop(next(iter(_PROJECT_UDFS)))
        if fixed_point:
            cq, offset, maxc = _fp_constants(model, qbits)
            scale = float(1 << qbits)
            d = cq.shape[0]

            @pandas_udf("array<double>")
            def _project(vecs: pd.Series) -> pd.Series:
                x = np.vstack(vecs.to_numpy()).astype(np.float64)
                q = np.floor(x * scale).astype(np.int64)
                mq = int(np.abs(q).max()) if len(q) else 0
                if mq and float(d) * float(mq) * float(maxc) >= float(2**63):
                    raise ValueError("fixed-point projection dot overflow risk")
                yi = q @ cq  # int64-exact matmul (numpy integer path, no BLAS)
                y = yi.astype(np.float64) / (scale * scale) - offset
                return pd.Series(list(y))

        else:
            comps = model.components.copy()
            mean = model.mean.copy()

            @pandas_udf("array<double>")
            def _project(vecs: pd.Series) -> pd.Series:
                x = np.vstack(vecs.to_numpy()).astype(np.float64)
                y = (x - mean) @ comps
                return pd.Series(list(y))

        _PROJECT_UDFS[key] = _project
    return _PROJECT_UDFS[key]


def pca_project(
    df: DataFrame,
    vec_col: str,
    model: PCAModel,
    out_col: str = "pca",
    fixed_point: bool = False,
    qbits: int = QBITS,
) -> DataFrame:
    """Append ``out_col`` = centered projection onto the model's components
    (one matmul per Arrow batch). ``fixed_point=True`` computes
    ``(floor(x·2^q) @ floor(C·2^q)) / 2^2q − offset`` — every step exact or
    identically-rounded, so the result is BIT-IDENTICAL to
    ``pca_project_rows`` regardless of batch shape or BLAS blocking; use it
    whenever a cross-engine comparison follows. The float path is the
    production default (full component precision, BLAS GEMM)."""
    return df.withColumn(
        out_col, _project_udf(model, fixed_point, qbits)(F.col(vec_col))
    )


def pca_project_rows(
    vecs, model: PCAModel, fixed_point: bool = False, qbits: int = QBITS
) -> np.ndarray:
    """Replay twin of ``pca_project`` for oracles/tests — the fixed-point
    path reproduces the distributed output bit-for-bit."""
    x = np.asarray(vecs, dtype=np.float64)
    if not fixed_point:
        return (x - model.mean) @ model.components
    cq, offset, _ = _fp_constants(model, qbits)
    scale = float(1 << qbits)
    q = np.floor(x * scale).astype(np.int64)
    return (q @ cq).astype(np.float64) / (scale * scale) - offset
