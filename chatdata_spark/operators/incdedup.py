"""Incremental near-dup detection: dedup each ARRIVING batch against the
whole stored corpus without recomputing or rescanning prior batches — the
daily-crawl-against-100-TB-corpus shape (extension; nearest reference
artifact is the entity_id upsert convention, tools.py:35-37, generalized
from exact to near duplicates).

Signature store layout (append-only, no rewrite of prior data):

    <path>/inc_meta.json            parameters, written once
    <path>/sigs/batch=K/*.parquet   (id, shh, sz, band_keys) per batch
    <path>/_BATCHES                 committed batch list (atomic swap)

Single-writer contract (same as every store in this repo): one ingest
pipeline owns a store path — ``_BATCHES`` is an atomic swap, not a lock,
so two concurrent writers could both stage the same batch id. Readers
are always safe (they only list committed batches).

Each batch pays Arrow minhash work for ITS rows only; prior batches
contribute their STORED band keys (JVM explode of an array column — no
re-hash, no Arrow) to the candidate join and their stored shingle arrays
to the exact-jaccard verification. Crash discipline: the batch directory
is written first, `_BATCHES` swaps last; a crash in between leaves an
orphan directory that no reader lists (same recipe as the IVF split and
the versioned stores). At 100 TB the per-batch cost is
O(batch + matching band buckets), never O(corpus).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chatdata_spark.operators.dedup import _verify_jaccard, _with_shingle_hashes, minhash_band_keys_udf


class IncrementalMinHashStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 3,
        num_hashes: int = 126,
        rows_per_band: int = 3,
    ):
        self.spark = spark
        self.path = path
        meta_path = os.path.join(path, "inc_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if (meta["k"], meta["num_hashes"], meta["rows_per_band"]) != (
                k, num_hashes, rows_per_band
            ):
                raise ValueError(
                    f"store {path} was built with {meta}, reopened with "
                    f"k={k} num_hashes={num_hashes} rows_per_band={rows_per_band} — "
                    "signatures are parameter-specific; rebuild or match them"
                )
        else:
            os.makedirs(path, exist_ok=True)
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"k": k, "num_hashes": num_hashes, "rows_per_band": rows_per_band}, f)
            os.replace(tmp, meta_path)
        self.k = k
        self.num_hashes = num_hashes
        self.rows_per_band = rows_per_band
        # batch id -> semantic hash of the staged input, for ids staged by
        # THIS instance and not yet committed. Guards the in-process misuse
        # the single-writer contract doesn't: two sequential stage_batch
        # calls with DIFFERENT inputs and no intervening commit_batch would
        # derive the SAME id from the committed list, so the second would
        # silently overwrite the first's staged signatures (and its pairs
        # would miss the first batch's rows). An in-process RETRY of the
        # same input (equal semantic hash) is allowed — it idempotently
        # overwrites the same directory, the documented crash discipline —
        # and a cross-process crash retry starts with an empty map.
        self._staged: dict[int, int] = {}

    # -- batch plumbing ---------------------------------------------------------
    def _batches_file(self) -> str:
        return os.path.join(self.path, "_BATCHES")

    def batches(self) -> list[int]:
        try:
            with open(self._batches_file()) as f:
                return [int(x) for x in f.read().split()]
        except FileNotFoundError:
            return []

    def _commit_batch(self, b: int) -> None:
        tmp = self._batches_file() + ".tmp"
        with open(tmp, "w") as f:
            f.write(" ".join(str(x) for x in [*self.batches(), b]))
        os.replace(tmp, self._batches_file())

    def _stored_sigs(self) -> DataFrame | None:
        ids = self.batches()
        if not ids:
            return None
        dirs = [os.path.join(self.path, "sigs", f"batch={b}") for b in ids]
        return self.spark.read.parquet(*dirs)

    # -- the operator -----------------------------------------------------------
    def stage_batch(
        self, df: DataFrame, id_col: str, text_col: str = "text",
        threshold: float = 0.4, round_digits: int = 6,
    ) -> tuple[int, DataFrame]:
        """Write the batch's signatures to ``sigs/batch=<b>`` WITHOUT
        committing and return ``(b, pairs)``. Callers that produce a
        durable side effect from the pairs (the streaming sink) must
        materialize it BEFORE calling :meth:`commit_batch` — effects in
        that order make a crash replay recompute-and-rewrite instead of
        no-op (effectively-once): ``b`` derives from the COMMITTED batch
        list, so a retry of an uncommitted stage reuses the same id and
        idempotently overwrites the same directory."""
        band_udf = minhash_band_keys_udf(self.num_hashes, self.rows_per_band)
        computed = (
            _with_shingle_hashes(df, id_col, text_col, self.k, persist=False)
            .withColumn(
                "band_keys",
                F.transform(
                    band_udf("shh"),
                    lambda key, band: F.struct(
                        band.cast("int").alias("band"), key.alias("key")
                    ),
                ),
            )
        )
        old = self._stored_sigs()
        b = (max(self.batches()) + 1) if self.batches() else 0
        # STATIC-DATA ASSUMPTION (as operators/dedup.py::_STOP_SETS): semanticHash
        # fingerprints the logical PLAN, not the data — re-staging a
        # plan-identical DataFrame whose underlying source files mutated
        # between calls passes as "same input". Callers that rewrite
        # source files between retries must pass a fresh plan (e.g. a new
        # read) or commit first; sources here follow the repo's
        # versioned-dir convention, which never mutates in place.
        sem = df.semanticHash()
        if b in self._staged and self._staged[b] != sem:
            raise RuntimeError(
                f"stage_batch: batch {b} is already staged (uncommitted) on "
                "this store with a DIFFERENT input — a second stage would "
                "silently overwrite it and compute pairs against state missing "
                "its rows. Call commit_batch first (or use add_batch, which "
                "commits per call); retrying the same staged input is allowed."
            )
        computed.write.mode("overwrite").parquet(os.path.join(self.path, "sigs", f"batch={b}"))
        self._staged[b] = sem
        new = self.spark.read.parquet(os.path.join(self.path, "sigs", f"batch={b}"))
        new_bands = new.select("id", F.explode("band_keys").alias("bk")).select(
            "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )
        l = new_bands.select(F.col("id").alias("i"), "band", "key")
        r = new_bands.select(F.col("id").alias("j"), "band", "key")
        cands = l.join(r, ["band", "key"]).filter(F.col("i") < F.col("j"))
        if old is not None:
            old_bands = old.select("id", F.explode("band_keys").alias("bk")).select(
                "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
            )
            cross = (
                new_bands.select(F.col("id").alias("a"), "band", "key")
                .join(old_bands.select(F.col("id").alias("b"), "band", "key"), ["band", "key"])
                .select(
                    F.least("a", "b").alias("i"), F.greatest("a", "b").alias("j")
                )
                # i < j also drops self-pairs: an id re-added via a direct
                # add_batch (no caller-side anti-join) collides with its own
                # stored signature on every band
                .filter(F.col("i") < F.col("j"))
            )
            cands = cands.select("i", "j").unionByName(cross)
        sigs = new.select("id", "shh", "sz")
        if old is not None:
            sigs = sigs.unionByName(old.select("id", "shh", "sz"))
        pairs = _verify_jaccard(cands.select("i", "j").distinct(), sigs, threshold, round_digits)
        return b, pairs

    def commit_batch(self, b: int) -> None:
        """Make staged batch ``b`` part of the stored corpus (atomic
        ``_BATCHES`` swap). Call AFTER any durable effect derived from the
        staged pairs has committed."""
        if b not in self.batches():
            self._commit_batch(b)
        self._staged.pop(b, None)

    def add_batch(
        self, df: DataFrame, id_col: str, text_col: str = "text",
        threshold: float = 0.4, round_digits: int = 6,
    ) -> DataFrame:
        """Near-dup pairs touching the new batch — (i, j, jaccard) with
        i < j, covering new×new AND new×stored — committing the batch's
        signatures immediately (the batch-mode convenience; sinks that
        need effectively-once ordering use stage_batch/commit_batch).
        Union over all add_batch calls == the one-shot minhash_lsh_pairs
        over the full corpus (asserted in tests); returned distances are
        exact jaccard on the verified shingle sets. The new batch's
        signatures are WRITTEN first and the returned lazy frame reads
        them (and the prior batches) back from disk — no in-memory persist
        to leak across batches (a long-running streaming caller would
        otherwise accumulate cache entries; see the bench drift note in
        PLANS.md), and every side of every join is on-disk state pinned to
        explicit batch directories (later commits don't shift it)."""
        b, pairs = self.stage_batch(
            df, id_col, text_col, threshold=threshold, round_digits=round_digits
        )
        self.commit_batch(b)
        return pairs
