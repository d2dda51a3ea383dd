"""The t2 gate, locally: every registered query with an oracle must match
DuckDB exactly at sf0.01 (same check the driver runs). Queries without an
oracle are smoke-run (non-empty schema, executes).

Shape (r11 verdict item 3 — the driver's pytest stopped completing): the
old one-test-per-query parametrization ran ~270 queries strictly
serially, and at sf0.01 each is fixed-overhead-bound (plan + a few tiny
jobs + the DuckDB compare), so the sweep wall-clock was pure dead time —
the suite outgrew the driver's verify budget (VERIFY_r11 truncated at
~72%). Queries are now swept in _N_BATCHES sequential pytest items, each
checking its slice through a small thread pool (guide §2.6: the Spark
scheduler happily overlaps jobs submitted from driver threads; collect()
and DuckDB both release the GIL). EVERY query is still checked with the
SAME comparator — only the scheduling changed; a batch failure reports
every offending query in its slice by name. Each query's plan is also
checked for a duplicated Python-UDF eval node on the same DataFrame.

Thread-safety inventory (why in-batch concurrency is sound):
- /tmp index caches (catalog.shared_cache_path): build_or_load_* is
  check-then-build, NOT concurrency-safe on first build — the
  ``warm_shared_caches`` session fixture builds all five serially first,
  so in-batch access is pure read.
- Fixed-name temp views (events/documents/embeddings/...): every query
  defines them over the same sf_dir parquet, so a concurrent
  createOrReplaceTempView is content-identical — benign.
- Module-level memo dicts (pandas-UDF memos, stop sets): deterministic
  values under the GIL; a rare double-compute is idempotent.
- Streaming queries use per-invocation tempdir checkpoints/stores and
  may run concurrently in one session.
Set SPARK_GRAFT_SWEEP_SERIAL=1 to force pool size 1 when debugging a
suspected interaction.
"""

from __future__ import annotations

import os
import traceback
from concurrent.futures import ThreadPoolExecutor

import pytest

from chatdata_spark.registry import oracle_sql, queries
from tests.conftest import (
    SF_ORACLE,
    assert_driver_hashable_schema,
    assert_matches_oracle,
    assert_no_duplicated_python_udf,
)

_QUERIES = queries()
_ORACLES = oracle_sql()
_NAMES = sorted(_QUERIES)

# Batches are pytest items and run SEQUENTIALLY; only queries inside one
# batch overlap. Striding ([i::n]) spreads the expensive families
# (graph_*, streaming_*, unigram_*) across batches instead of clumping.
_N_BATCHES = 18
_BATCHES = [_NAMES[i::_N_BATCHES] for i in range(_N_BATCHES)]
_POOL = 1 if os.environ.get("SPARK_GRAFT_SWEEP_SERIAL") == "1" else 6


@pytest.fixture(scope="session")
def warm_shared_caches(spark):
    """Serially pre-build the /tmp shared index caches the sweep's
    queries load (ivf k8, pq m8, opq m8i6, ivfpq k8m8, ivfpq k8m8r1o6):
    build_or_load_* is check-then-build without a lock, so the first
    build must not race between batch threads. Idempotent — a warm /tmp
    makes this a five-stat no-op."""
    from chatdata_spark.queries.vector import _ivfpq_index, _pq_index

    _pq_index(spark, SF_ORACLE)
    _pq_index(spark, SF_ORACLE, opq_iters=6)
    _ivfpq_index(spark, SF_ORACLE)  # builds the ivf k8 layout first
    _ivfpq_index(spark, SF_ORACLE, residual=True, opq_iters=6)


def _check_one(name: str, spark) -> None:
    df = _QUERIES[name](spark, SF_ORACLE)
    assert_driver_hashable_schema(df, name=name)
    assert_no_duplicated_python_udf(df, name=name)
    if name in _ORACLES:
        assert_matches_oracle(df, _ORACLES[name], SF_ORACLE, name=name)
    else:
        # rows-only smoke for non-SQL-expressible ops
        assert df.columns, f"{name}: empty schema"
        df.limit(5).collect()


@pytest.mark.parametrize("batch", range(_N_BATCHES))
def test_query_matches_oracle(spark, warm_shared_caches, batch):
    names = _BATCHES[batch]
    errs: list[str] = []
    with ThreadPoolExecutor(max_workers=_POOL) as pool:
        futs = {pool.submit(_check_one, n, spark): n for n in names}
        for f, n in futs.items():
            try:
                f.result()
            except Exception as exc:  # noqa: BLE001 — collect, then fail with all names
                frames = traceback.format_list(traceback.extract_tb(exc.__traceback__)[-3:])
                errs.append(f"{n}: {type(exc).__name__}: {exc}\n" + "".join(frames))
    assert not errs, f"{len(errs)} quer{'y' if len(errs) == 1 else 'ies'} failed:\n" + "\n".join(sorted(errs))


def test_every_query_is_swept_exactly_once():
    """The batching must cover the registry: every registered query
    appears in exactly one batch (a silent partition bug here would turn
    the t2 gate into a partial sweep)."""
    flat = [n for b in _BATCHES for n in b]
    assert sorted(flat) == _NAMES
    assert len(set(flat)) == len(flat)


def test_no_oracle_produces_hugeint():
    """Type-sweep guard: DuckDB types SUM(CASE...)/SUM(int) as HUGEINT, which
    pandas materializes as float64 — the driver then hashes 20882.0 against
    Spark's bigint 20882 and goes red even though values match (the one red
    row of round 4, data_quality_report). Our local comparator maps HUGEINT
    to the bigint family so pytest alone can't catch it; this sweep runs
    every oracle through DuckDB's relation type API (bind/plan only, no
    execution) and pins the HUGEINT column count at zero. Fix sites by
    wrapping the aggregate in CAST(... AS BIGINT)."""
    from tests.conftest import duck_con

    con = duck_con(SF_ORACLE)
    offenders = {}
    for name, sql in sorted(_ORACLES.items()):
        rel = con.sql(sql)
        bad = [c for c, t in zip(rel.columns, rel.types) if str(t) == "HUGEINT"]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracles with HUGEINT columns (pandas->float64 driver hash hazard): {offenders}"
    )
