"""SQ8 scalar quantization for vector search: 8 bits per dimension via a
per-dimension affine [min, max] → [0, 255] grid — 4x smaller than float32
storage, and (in the symmetric configuration used here) an ALL-INTEGER
whole-stage-codegen distance, like operators/binquant.py with 8-bit
resolution instead of 1-bit.

The remaining member of the repo's vector-compression family: binary
(1 bit/dim, 32x), PQ/IVF-PQ (1 byte per 8-dim subspace, 32x, needs a
trained codebook), matryoshka/JL (fewer dims), and now SQ8 (1 byte/dim,
4x, NO trained codebook — calibration is just a per-dimension min/max,
one aggregate). SQ8 is the standard first step when PQ training is
unwanted: faiss ``ScalarQuantizer QT_8bit``, the reference's MSTG
``fp16_storage``/``disk_mode`` compressed-storage trade
(myscale_tables.py:35,63) taken one step further.

Determinism (the repo's oracle convention):
- calibration is a min/max SELECTION over data elements — both engines
  see identical float values; the derived per-dim step (hi-lo)/255 is
  one float64 op, computed ONCE driver-side in Python and inlined as
  literals into both the Spark plan and the DuckDB oracle (the
  bucket-boundary convention, CLAUDE.md);
- encode: code_d = clamp(floor((v_d - lo_d)/step_d + 0.5), 0, 255) —
  floor(x+0.5) is HALF_UP without the round() half-even/half-up
  cross-engine trap; constant dimensions (step 0) encode to 0;
- distance: Σ_d (qcode_d - code_d)² — integer arithmetic, ≤ 64·255² ≈
  4.2M, far from overflow; ranking tie-breaks on id. Bit-reproducible
  end to end, so the registered query carries an exact-replay oracle
  (like binary_quant_knn — the quantized ranking IS the answer under
  quantization; recall vs exact is pinned in tests).

Scale shape (100 TB): calibration is ONE Arrow pass emitting 2·d scalars
per task to the driver (a constant, like the IVF centroids); encode
and distance are scan-stage JVM expressions over the code column only
(Parquet column pruning: the search never reads the float vectors except
for the bounded exact rerank of the top k·refine survivors). No UDFs, no
Python, no joins until the rerank's id semi-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chatdata_spark.operators.knn import knn

LEVELS = 255


def sq8_calibrate(df: DataFrame, vec_col: str, dim: int) -> tuple[list[float], list[float]]:
    """(los, steps): per-dimension minimum and grid step from ONE
    mapInPandas pass emitting a single (lo[], hi[]) row per task (2·dim
    scalars per task to the driver — bounded traffic), min/max-merged in
    Python. min/max selection is order-free, so the result is
    bit-identical to the previous 2·dim-expression wide aggregate — which
    evaluated try_element_at 2·dim times per row and was the dominant
    cost of the calibrated-build entries (128 aggregate buffers defeat
    whole-stage codegen; one numpy min/max per Arrow batch does not)."""
    import numpy as np
    import pandas as pd

    v = F.col(vec_col)
    base = df.filter(v.isNotNull()).select(v.cast("array<double>").alias("__v"))

    def partials(it):
        lo = hi = None
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf["__v"].to_numpy())
            b_lo, b_hi = x.min(axis=0), x.max(axis=0)
            lo = b_lo if lo is None else np.minimum(lo, b_lo)
            hi = b_hi if hi is None else np.maximum(hi, b_hi)
        if lo is not None:
            yield pd.DataFrame(
                {
                    "lo": pd.Series([lo.tolist()], dtype=object),
                    "hi": pd.Series([hi.tolist()], dtype=object),
                }
            )

    rows = base.mapInPandas(partials, "lo array<double>, hi array<double>").collect()
    los, steps = [], []
    for d in range(dim):
        lo = min(float(r["lo"][d]) for r in rows)
        hi = max(float(r["hi"][d]) for r in rows)
        los.append(lo)
        steps.append((hi - lo) / LEVELS if hi > lo else 0.0)
    return los, steps


def _code_expr(x: Column, lo: float, step: float) -> Column:
    if step == 0.0:
        return F.lit(0)
    # clamp AFTER floor; inputs are non-null (vec filtered), so the
    # least/greatest null-eating trap (CLAUDE.md) cannot bite
    raw = F.floor((x.cast("double") - F.lit(lo)) / F.lit(step) + F.lit(0.5)).cast("int")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(LEVELS))


def sq8_encode(
    df: DataFrame, vec_col: str, los: list[float], steps: list[float], out: str = "sq8_codes"
) -> DataFrame:
    """Adds ``out`` = array<int> of per-dimension codes (scan-stage JVM;
    rows with a NULL vector are dropped — they cannot rank)."""
    v = F.col(vec_col)
    codes = F.array(
        *[
            _code_expr(F.try_element_at(v, F.lit(d + 1)), los[d], steps[d])
            for d in range(len(los))
        ]
    )
    return df.filter(v.isNotNull()).withColumn(out, codes)


def sq8_code_query(qvec: Sequence[float], los: list[float], steps: list[float]) -> list[int]:
    """Driver-side query encoding — the same grid, plain Python floats
    (identical float64 arithmetic)."""
    import math

    out = []
    for x, lo, step in zip(qvec, los, steps):
        if step == 0.0:
            out.append(0)
            continue
        c = math.floor((float(x) - lo) / step + 0.5)
        out.append(min(max(c, 0), LEVELS))
    return out


def sq8_distance(codes_col, qcodes: list[int]) -> Column:
    """Σ (qcode_d - code_d)² — explicit integer term sum (whole-stage
    codegen, no interpreted HOF lambdas). Returned as BIGINT: DuckDB
    promotes the long addition chain to BIGINT, so the driver's schema
    compare needs the same width on the Spark side (the SUM-type
    convention, CLAUDE.md)."""
    c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    expr = None
    for d, qc in enumerate(qcodes):
        t = F.try_element_at(c, F.lit(d + 1)) - F.lit(int(qc))
        term = t * t
        expr = term if expr is None else expr + term
    return expr.cast("long")


def sq8_knn(
    df: DataFrame,
    vec_col: str,
    qvec: Sequence[float],
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    select: list[str] | None = None,
    calibration: tuple[list[float], list[float]] | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Top-k by symmetric SQ8 distance; ``rerank=None`` returns the pure
    quantized ranking (exact under the quantization — the oracle config),
    ``rerank=m`` screens the top-m then reranks by exact cosine through
    :func:`knn` (the production funnel, the binary_knn convention; recall pinned in
    tests). Calibration defaults to the input corpus; pass a frozen
    (los, steps) for the production posture where the grid is calibrated
    once with the index build."""
    los, steps = calibration or sq8_calibrate(df, vec_col, dim)
    qcodes = sq8_code_query(qvec, los, steps)
    enc = sq8_encode(df, vec_col, los, steps, out="__sq8")
    # id_col is the tie-break in every orderBy below: keep it in the
    # projection even when the caller's `select` omits it, and drop it
    # again at the end (ADVICE r7 — previously an AnalysisException).
    cols = list(select) if select else [id_col]
    drop_id = id_col not in cols
    if drop_id:
        cols = [*cols, id_col]
    # layered select: __sq8 is referenced `dim` times by the distance sum —
    # keeping it as an output column of its own projection blocks
    # CollapseProject, so the 64-element array is built once per row
    keep = [*cols, vec_col] if rerank is not None and vec_col not in cols else cols
    scored = enc.select(*keep, "__sq8").select(
        *keep, sq8_distance("__sq8", qcodes).alias("sq8_dist")
    )
    if rerank is None:
        out = scored.orderBy(F.asc("sq8_dist"), F.asc(id_col)).limit(int(k))
        return out.drop(id_col) if drop_id else out
    cand = scored.orderBy(F.asc("sq8_dist"), F.asc(id_col)).limit(int(rerank))
    out = knn(cand, vec_col, qvec, k=int(k), select=cols, id_col=id_col)
    return out.drop(id_col) if drop_id else out
