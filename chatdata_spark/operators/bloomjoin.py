"""Bloom-filter pre-filtered joins — the 100 TB semi-join pattern for when
the filtering side is too large to broadcast as a hash table but its BLOOM
fits anywhere (1 M keys ≈ 128 KB at 10 bits/key).

Without it, ``big ⋉ small`` shuffles every big-side row that survives
predicate pushdown. With it, big-side rows are tested against the small
side's bloom IN THE SCAN STAGE, so only probable matches reach the
shuffle; the exact join afterwards removes the false positives, keeping
the result EXACT (blooms have no false negatives). This is what Spark's
AQE runtime bloom filter does for equi-joins behind a conf; here it is an
explicit, composable operator (the internal ``bloom_filter_agg`` is not
exposed to SQL).

Build: one JVM ``xxhash64`` per row, then per-partition numpy bitmask
accumulation (mapInPandas) — each partition ships m/8 bytes to the driver
(NOT its keys), where P masks are OR-ed. Probe: Arrow pandas UDF testing
j = ``n_hashes`` double-hashed positions (Kirsch-Mitzenmacher: pos_i =
h1 + i·h2 mod m) against the captured bitmask — vectorized over the whole
batch, no per-row Python. False-positive rate ≈ (1 - e^{-jn/m})^j; size
m for ~10 bits per expected key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bloom_positions(h: np.ndarray, m: int, j: int) -> tuple[np.ndarray, np.ndarray]:
    """The j positions of each int64 hash in ``h`` in an m-bit bloom, as
    (j, rows) byte indices and (j, rows) uint8 bit masks:
    pos_i = h1 + i·h2 mod m, h1 the low bits, h2 an odd stride."""
    hv = h.view(np.uint64)
    h1 = hv & np.uint64(m - 1)
    h2 = ((hv >> np.uint64(32)) << np.uint64(1)) | np.uint64(1)
    pos = (h1 + np.arange(j, dtype=np.uint64)[:, None] * h2) & np.uint64(m - 1)
    return (pos >> np.uint64(3)).astype(np.int64), (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8)


def build_bloom(df: DataFrame, key_col: str, n_bits: int = 1 << 20, n_hashes: int = 7) -> bytes:
    """Distributed bloom build over ``df[key_col]`` → m/8-byte bitmask."""
    assert n_bits & (n_bits - 1) == 0, "n_bits must be a power of two"
    m, j = int(n_bits), int(n_hashes)

    def accumulate(batches):
        mask = np.zeros(m >> 3, dtype=np.uint8)
        for pdf in batches:
            np.bitwise_or.at(mask, *_bloom_positions(pdf["h"].to_numpy(dtype=np.int64), m, j))
        yield pd.DataFrame({"mask": [mask.tobytes()]})

    parts = df.select(F.xxhash64(key_col).alias("h")).mapInPandas(accumulate, "mask binary").collect()
    out = np.zeros(m >> 3, dtype=np.uint8)
    for r in parts:
        out |= np.frombuffer(r["mask"], dtype=np.uint8)
    return out.tobytes()


def bloom_might_contain(bloom: bytes, key_col: str, n_bits: int, n_hashes: int = 7) -> Column:
    """Boolean probe column: True iff key's j positions are all set."""
    m, j = int(n_bits), int(n_hashes)
    mask = np.frombuffer(bloom, dtype=np.uint8)

    @F.pandas_udf("boolean")
    def _test(h: pd.Series) -> pd.Series:
        byte, bit = _bloom_positions(h.to_numpy(dtype=np.int64), m, j)
        return pd.Series(((mask[byte] & bit) != 0).all(axis=0))

    return _test(F.xxhash64(key_col))


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 7,
) -> DataFrame:
    """Exact ``big ⋉ small`` with a bloom pre-filter in big's scan stage.

    The final left-semi join removes bloom false positives, so the result
    is always exactly ``big.join(small, key, "left_semi")`` — the bloom
    only shrinks what the join has to process."""
    bloom = build_bloom(small, key_col, n_bits=n_bits, n_hashes=n_hashes)
    pre = big.filter(bloom_might_contain(bloom, key_col, n_bits, n_hashes))
    return pre.join(small.select(key_col).distinct(), key_col, "left_semi")
