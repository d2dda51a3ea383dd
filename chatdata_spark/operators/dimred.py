"""Random-projection dimensionality reduction (Johnson-Lindenstrauss).

The projection matrix is derived deterministically from a seed
(np.random.default_rng), scaled by 1/sqrt(out_dim) so expected pairwise
L2 distances are preserved. Reduction runs as ONE Arrow pandas UDF doing a
(batch, in_dim) x (in_dim, out_dim) GEMM per Arrow batch — the matrix is a
closure constant shipped once per executor, never a join or a shuffle, so
the operator scales linearly with rows and is embarrassingly parallel.

UDF objects are memoized on (in_dim, out_dim, seed): a fresh pandas_udf
per call would make otherwise-identical plans unequal and defeat
CacheManager reuse (CLAUDE.md gotcha).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_PROJ_UDFS: dict[tuple[int, int, int], object] = {}


def projection_matrix(in_dim: int, out_dim: int, seed: int = 42) -> np.ndarray:
    """The (in_dim, out_dim) Gaussian JL matrix for ``seed`` — exposed so
    tests (and any SQL-side oracle) can reproduce the exact floats."""
    rng = np.random.default_rng(seed)
    return (rng.standard_normal((in_dim, out_dim)) / np.sqrt(out_dim)).astype(np.float64)


def _proj_udf(in_dim: int, out_dim: int, seed: int):
    key = (in_dim, out_dim, seed)
    if key not in _PROJ_UDFS:
        mat = projection_matrix(in_dim, out_dim, seed)

        @pandas_udf("array<double>")
        def _project(vecs: pd.Series) -> pd.Series:
            x = np.vstack(vecs.to_numpy())  # (batch, in_dim)
            y = x @ mat  # one GEMM per Arrow batch
            return pd.Series(list(y))

        _PROJ_UDFS[key] = _project
    return _PROJ_UDFS[key]


def random_projection(
    df: DataFrame,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    seed: int = 42,
    out_col: str = "proj",
) -> DataFrame:
    """Append ``out_col`` = JL-projected ``vec_col`` (float64)."""
    return df.withColumn(out_col, _proj_udf(in_dim, out_dim, seed)(F.col(vec_col)))


def project_query_vector(vec, in_dim: int, out_dim: int, seed: int = 42) -> list[float]:
    """Project a driver-side literal query vector with the SAME matrix —
    use when searching in the reduced space."""
    mat = projection_matrix(in_dim, out_dim, seed)
    return list(np.asarray(vec, dtype=np.float64) @ mat)
