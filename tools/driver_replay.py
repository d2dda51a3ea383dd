"""Driver-replay verification (the verify skill's recipe, checked in).

Replays the round driver's consumption path in THIS process: loads this
checkout's __spark_entry__.py by file path from a foreign cwd (catches
sys.path / hardcoded-cwd / pickling-by-module-name bugs), builds the
driver's PLAIN SparkSession (local[8], shuffle=8 — not our tuned factory),
smoke-runs entry(), then runs each of the first 50 queries() at sf0.01 and
compares to its oracle_sql() via DuckDB with columns sorted by name, rows
sorted NULL-safely, exact equality. Each query's line carries its Spark
and oracle seconds; the five slowest oracles are listed at the end.

Usage: cd /tmp && python <checkout>/tools/driver_replay.py
Exit 0 = all green; nonzero lists failures."""
import importlib.util, sys, os, time
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir("/tmp")
spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "8")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# smoke
r = mod.entry(spark).collect()
print("entry rows:", len(r))

import duckdb
con = duckdb.connect()
# REPLAY_SF: point the replay at an alternate fixture dir (the
# regeneration dry-run for the replay-derived ANN/BPE oracles). The lazy
# replay oracles read catalog.oracle_sf_dir() — propagate automatically
# so a lone REPLAY_SF can't produce a spurious half-repointed red
# (explicit SPARK_GRAFT_ORACLE_SF still wins if set).
SF = os.environ.get("REPLAY_SF", "/root/testdata/sf0.01")
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", SF)
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

import pandas as pd, datetime

def norm(v):
    if v is None: return None
    try:
        if pd.isna(v): return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, pd.Timestamp): return v.to_pydatetime()
    return v

def skey(row):
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)

qs = mod.queries(); osql = mod.oracle_sql()
# default: the driver's 50-slot window; REPLAY_ALL=1 sweeps the full registry
# (hardening for future window rotations — out-of-window queries must also
# survive the plain session + foreign cwd); REPLAY_ONLY=a,b replays just
# those names (targeted foreign-cwd check after touching a tail query's
# worker closure without paying the full sweep)
only = os.environ.get("REPLAY_ONLY")
if only:
    names = [s.strip() for s in only.split(",") if s.strip()]
elif os.environ.get("REPLAY_ALL"):
    names = list(qs)
else:
    names = list(qs)[:50]
fails = []
oracle_s = {}
for name in names:
    spark_s = oracle_s[name] = 0.0
    t0 = time.perf_counter()
    try:
        sdf = qs[name](spark, SF)
        # Driver-hashability gate: the REAL driver canonicalizes via pandas
        # sort_values over all columns, which throws on array/map/struct
        # cells (r8: dialect_parity_sweep5 red in the driver, green here).
        # Reject complex top-level output types so the failure reproduces
        # locally — serialize arrays (array_join) on BOTH sides instead.
        complex_cols = [
            f.name for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if complex_cols:
            fails.append((name, f"top-level complex-typed columns {complex_cols} "
                                "(driver pandas canonicalizer cannot hash them)"))
            continue
        cols = sorted(sdf.columns)
        spark_rows = sorted((tuple(norm(row[c]) for c in cols) for row in sdf.collect()), key=skey)
        spark_s = time.perf_counter() - t0
        if name not in osql:
            print(f"{name}: rows-only, {len(spark_rows)} rows (spark {spark_s:.1f}s)")
            continue
        t0 = time.perf_counter()
        odf = con.execute(osql[name]).fetchdf()
        oracle_s[name] = time.perf_counter() - t0
        ocols = sorted(odf.columns)
        if cols != ocols:
            fails.append((name, f"cols {cols} vs {ocols}")); continue
        # dtype-family agreement, mirroring tests/conftest.py — the driver
        # records schema matches, and a Spark INT vs DuckDB BIGINT slipped
        # through the values-only compare once (sq8, r7)
        rel = con.sql(osql[name])
        duck_types = dict(zip(rel.columns, rel.types))
        # HUGEINT is its OWN family: the real driver materializes it as
        # pandas float64 (20882.0 vs bigint 20882 → hash red, CLAUDE.md), so
        # the replay must flag any oracle that produces it (ADVICE r7).
        _duck_fam = {"BIGINT": "bigint", "HUGEINT": "hugeint", "INTEGER": "int",
                     "SMALLINT": "int", "TINYINT": "int", "DOUBLE": "double",
                     "FLOAT": "float", "VARCHAR": "string", "JSON": "string",
                     "TIMESTAMP": "timestamp", "TIMESTAMP_NS": "timestamp",
                     "DATE": "date", "BOOLEAN": "boolean"}
        def _fam_d(t):
            t = str(t)
            if t.startswith("DECIMAL"): return "decimal"
            if t.endswith("[]"): return "array"
            return _duck_fam.get(t, t.lower())
        def _fam_s(t):
            if t.startswith("decimal"): return "decimal"
            if t.startswith("array"): return "array"
            return "timestamp" if t == "timestamp_ntz" else t
        bad_t = [
            f"{c}: spark={st} duck={duck_types[c]}"
            for c, st in sdf.dtypes
            if c in duck_types and _fam_s(st) != _fam_d(duck_types[c])
        ]
        if bad_t:
            fails.append((name, "dtype mismatch " + "; ".join(bad_t))); continue
        oracle_rows = sorted((tuple(norm(x) for x in r) for r in odf[cols].itertuples(index=False, name=None)), key=skey)
        if len(spark_rows) != len(oracle_rows):
            fails.append((name, f"rowcount {len(spark_rows)} vs {len(oracle_rows)}")); continue
        if spark_rows != oracle_rows:
            bad = next(i for i,(a,b) in enumerate(zip(spark_rows, oracle_rows)) if a!=b)
            fails.append((name, f"values differ at sorted row {bad}: {spark_rows[bad]} vs {oracle_rows[bad]}")); continue
        print(f"{name}: OK ({len(spark_rows)} rows, spark {spark_s:.1f}s, oracle {oracle_s[name]:.1f}s)")
    except Exception as e:
        fails.append((name, f"{type(e).__name__}: {str(e)[:300]}"))
    finally:
        if fails and fails[-1][0] == name:
            print(f"{name}: FAIL (spark {spark_s:.1f}s, oracle {oracle_s[name]:.1f}s)")
print("\n=== SLOWEST ORACLES:")
for n in sorted(oracle_s, key=oracle_s.get, reverse=True)[:5]:
    print(f"{oracle_s[n]:8.1f}s  {n}")
print("\n=== FAILURES:", len(fails))
for n, m in fails: print(n, "->", m)
sys.exit(1 if fails else 0)
