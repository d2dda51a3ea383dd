"""IVF-style batch ANN index (SURVEY §4.3 v1) — the Spark-native stand-in
for the reference's MSTG vector index (``ALTER TABLE ... ADD VECTOR INDEX
... MSTG('metric_type=Cosine')``, myscale_tables.py:35,63;
docs/vector-sql.md:217; S6/V6).

Not a Catalyst extension: a **data layout + query convention**.

Build (one batch job, scales linearly):
  1. fit MLlib KMeans on a sample (KMeans|| init, fixed seed);
  2. assign every row its nearest centroid JVM-side via model.transform;
  3. write the table partitioned by ``cluster_id`` (+ centroid sidecar).

Search (micro-batch top-k):
  1. rank centroids against the query on the driver (n_clusters × dim
     floats — trivially small);
  2. scan only the ``n_probe`` best partitions — partition pruning on the
     directory layout means the other clusters are never read from disk;
  3. exact kNN within the probed rows (operators/knn.py).

``n_probe = n_clusters`` degrades to an exact full scan — that's the
oracle-checkable configuration; recall/latency trades via ``n_probe``
exactly like the MSTG/IVF ``nprobe`` knob. At 100 TB: cluster count ~√N
keeps partitions executor-sized; skewed clusters get split by re-running
KMeans within any partition exceeding a size cap (same layout, recursive —
:meth:`IVFIndex.split_skewed`).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chatdata_spark.operators.knn import knn


def read_meta(path: str, name: str) -> dict:
    """An index's JSON meta file (``ivf_meta.json``, ``pq_meta.json``,
    ``ivfpq_meta.json``) under its directory."""
    with open(os.path.join(path, name)) as f:
        return json.load(f)


def write_meta(path: str, name: str, meta: dict) -> None:
    """Atomic meta commit: write a temp file, then ``os.replace`` — a
    reader sees the old meta or the new one, never a torn file."""
    tmp = os.path.join(path, name + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, name))


def _nearest_udf(cents: np.ndarray, ids: np.ndarray, return_type: str):
    """Arrow UDF: array<double> vector → ``ids[i]`` of its nearest row i of
    the float64 ``cents`` (euclidean), one GEMM per batch:
    ||x-c||² = ||x||² - 2x·c + ||c||², the row term constant per row."""
    c_sq = (cents**2).sum(axis=1)

    @F.pandas_udf(return_type)
    def _nearest(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        return pd.Series(ids[(-2.0 * (x @ cents.T) + c_sq[None, :]).argmin(axis=1)])

    return _nearest


class IVFIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        meta = read_meta(path, "ivf_meta.json")
        self.id_col = meta["id_col"]
        self.vector_col = meta["vector_col"]
        self.metric = meta["metric"]
        self.centroids = np.array(meta["centroids"], dtype=np.float64)
        # split_skewed leaves ids non-contiguous; pre-split metas omit the key
        self.cluster_ids: list[int] = meta.get("cluster_ids", list(range(meta["n_clusters"])))
        self.n_clusters = len(self.cluster_ids)
        # compact() swaps this pointer to a fresh versioned tree; pre-delete
        # metas omit the key
        self.data_dir: str = meta.get("data_dir", "data")

    def _data_path(self) -> str:
        return os.path.join(self.path, self.data_dir)

    # -- build -----------------------------------------------------------------
    @staticmethod
    def build(
        df: DataFrame,
        path: str,
        id_col: str,
        vector_col: str,
        n_clusters: int = 16,
        sample_fraction: float = 1.0,
        seed: int = 42,
        metric: str = "cosine",
    ) -> "IVFIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # NOTE (measured and rejected): training the quantizer on a bounded
        # sample by default cut rag_serve setup_s by 8% and left
        # cycle_cpu_s no better, so the default stays the full corpus;
        # callers can still pass ``sample_fraction``.
        feats = df.withColumn("__features", array_to_vector(F.col(vector_col).cast("array<double>")))
        sample = feats if sample_fraction >= 1.0 else feats.sample(sample_fraction, seed=seed)
        model = KMeans(k=n_clusters, seed=seed, featuresCol="__features").fit(sample)
        assigned = (
            model.transform(feats)
            .withColumnRenamed("prediction", "cluster_id")
            .drop("__features")
        )
        (
            assigned.repartition("cluster_id")
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(os.path.join(path, "data"))
        )
        meta = {
            "id_col": id_col,
            "vector_col": vector_col,
            "n_clusters": n_clusters,
            "metric": metric,
            "centroids": [list(map(float, c)) for c in model.clusterCenters()],
            "cluster_ids": list(range(n_clusters)),
        }
        write_meta(path, "ivf_meta.json", meta)
        return IVFIndex(df.sparkSession, path)

    # -- skew maintenance -------------------------------------------------------
    def split_skewed(self, max_rows: int, sub_k: int = 4) -> "IVFIndex":
        """Split every cluster holding more than ``max_rows`` rows into
        ``sub_k`` sub-clusters by re-running KMeans WITHIN that partition —
        the recursive skew escape the layout docstring promises: partitions
        stay executor-sized no matter how lopsided the embedding space.

        Layout discipline: sub-cluster rows are written under fresh
        ``cluster_id=`` directories (never back into the directory being
        read — the read is lazy), the meta swap is atomic, and the old
        directory is dropped only after both commit; a crash in between
        leaves an orphan dir no search ever probes (its id is gone from
        ``cluster_ids``). Retry safety: a crash AFTER a sub-cluster append
        but BEFORE the meta swap also leaves orphan ``cluster_id=`` dirs —
        whose ids a retry would reuse, appending a second copy of every
        row. So the first step here deletes every on-disk cluster dir NOT
        in the committed ``cluster_ids`` (they are unreachable by search,
        and removing them BEFORE the lazy read keeps the scan clean),
        making split_skewed idempotent under retry. Cost: one scan + one
        partitioned write PER skewed cluster, nothing touches the
        well-sized ones. Call again if a sub-cluster is still over the cap
        (recursive by iteration)."""
        import shutil

        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        data_path = self._data_path()
        committed = {f"cluster_id={cid}" for cid in self.cluster_ids}
        for entry in os.listdir(data_path):
            if entry.startswith("cluster_id=") and entry not in committed:
                shutil.rmtree(os.path.join(data_path, entry), ignore_errors=True)
        data = self.spark.read.parquet(data_path)
        sizes = {r["cluster_id"]: r["n"] for r in
                 data.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        fat = sorted(c for c, n in sizes.items() if n > max_rows)
        if not fat:
            return self
        cluster_ids = list(self.cluster_ids)
        centroids = [list(map(float, c)) for c in self.centroids]
        next_id = max(cluster_ids) + 1
        for cid in fat:
            rows = data.filter(F.col("cluster_id") == cid).drop("cluster_id")
            feats = rows.withColumn(
                "__features", array_to_vector(F.col(self.vector_col).cast("array<double>"))
            )
            model = KMeans(k=sub_k, seed=42, featuresCol="__features").fit(feats)
            sub_ids = list(range(next_id, next_id + sub_k))
            remap = F.col("prediction") + F.lit(next_id)
            (
                model.transform(feats)
                .withColumn("cluster_id", remap)
                .drop("__features", "prediction")
                .repartition("cluster_id")
                .write.mode("append")
                .partitionBy("cluster_id")
                .parquet(data_path)
            )
            pos = cluster_ids.index(cid)
            cluster_ids.pop(pos)
            centroids.pop(pos)
            cluster_ids.extend(sub_ids)
            centroids.extend([list(map(float, c)) for c in model.clusterCenters()])
            next_id += sub_k
        write_meta(self.path, "ivf_meta.json", {
            "id_col": self.id_col,
            "vector_col": self.vector_col,
            "n_clusters": len(cluster_ids),
            "metric": self.metric,
            "centroids": centroids,
            "cluster_ids": cluster_ids,
            "data_dir": self.data_dir,
        })
        for cid in fat:  # after the meta swap: searches can no longer probe them
            shutil.rmtree(os.path.join(data_path, f"cluster_id={cid}"), ignore_errors=True)
        return IVFIndex(self.spark, self.path)

    def merge_underfull(self, min_rows: int, retrain: bool = True) -> "IVFIndex":
        """Merge every cluster holding fewer than ``min_rows`` rows into
        its rows' nearest SURVIVING clusters — the re-balance half of the
        skew-maintenance pair (:meth:`split_skewed` retires fat clusters;
        this retires the thin ones that appear as the data distribution
        drifts under append/delete churn). Row assignment uses the same
        euclidean nearest-centroid rule as build/append, restricted to the
        surviving centroids. With ``retrain=True`` every RECEIVING
        cluster's centroid is re-trained as the exact mean of its
        post-merge rows (one bounded aggregate over only the rewritten
        clusters — the k·d ≤ a few thousand scalars collect, the d²-moment
        convention), correcting centroid drift without a full KMeans
        rebuild. Recall soundness is unaffected either way: assignment and
        search always use the same committed centroids.

        Layout discipline (the split_skewed rules verbatim): receiving
        clusters are rewritten under FRESH ``cluster_id=`` directories —
        never appended into a committed directory (a crash between the
        data write and the meta swap must not double rows on retry), and
        the opening sweep deletes any dir absent from the committed
        ``cluster_ids``, making the call idempotent. The meta swap is
        atomic; old receiving dirs and thin dirs are dropped only after
        it. Cost: one scan + one partitioned write per receiving cluster;
        clusters that neither vanish nor receive rows are untouched.
        Empty committed clusters (e.g. fully drained by delete+compact)
        merge for free — no rows to move, their ids and centroids simply
        leave the meta. Degenerate all-thin inputs keep the largest
        cluster as the sole survivor; an index with no rows is refused."""
        import shutil

        data_path = self._data_path()
        committed = {f"cluster_id={cid}" for cid in self.cluster_ids}
        for entry in os.listdir(data_path):
            if entry.startswith("cluster_id=") and entry not in committed:
                shutil.rmtree(os.path.join(data_path, entry), ignore_errors=True)
        data = self.spark.read.parquet(data_path)
        sizes = {r["cluster_id"]: r["n"] for r in
                 data.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        thin = [c for c in self.cluster_ids if sizes.get(c, 0) < min_rows]
        if not thin:
            return self
        keep = [c for c in self.cluster_ids if c not in set(thin)]
        if not keep:
            if not sizes:
                raise ValueError(
                    "merge_underfull: index has no rows — rebuild instead"
                )
            largest = max(sizes, key=lambda c: (sizes[c], -c))
            thin = [c for c in thin if c != largest]
            keep = [largest]
            if not thin:
                return self
        pos_of = {c: i for i, c in enumerate(self.cluster_ids)}
        _nearest_keep = _nearest_udf(
            self.centroids[[pos_of[c] for c in keep]],
            np.array(keep, dtype=np.int64),
            "long",
        )

        thin_with_rows = [c for c in thin if sizes.get(c, 0) > 0]
        affected: list[int] = []
        assigned = None
        if thin_with_rows:
            assigned = (
                data.filter(F.col("cluster_id").isin(thin_with_rows))
                .drop("cluster_id")
                .withColumn(
                    "__target",
                    _nearest_keep(F.col(self.vector_col).cast("array<double>")),
                )
            )
            affected = sorted(
                r[0] for r in assigned.select("__target").distinct().collect()
            )
        next_id = max(self.cluster_ids) + 1
        fresh_of = {old: next_id + i for i, old in enumerate(affected)}
        if affected:
            remap = F.create_map(
                *[F.lit(int(x)) for kv in fresh_of.items() for x in kv]
            )
            old_rows = data.filter(F.col("cluster_id").isin(affected)).withColumn(
                "cluster_id", remap[F.col("cluster_id")]
            )
            moved = assigned.withColumn("cluster_id", remap[F.col("__target")]).drop(
                "__target"
            )
            (
                old_rows.unionByName(moved)
                .repartition("cluster_id")
                .write.mode("append")
                .partitionBy("cluster_id")
                .parquet(data_path)
            )
        # meta: survivors keep their slot; receiving clusters re-enter
        # under their fresh ids (old centroid, or the exact post-merge
        # mean when retraining)
        new_ids = [c for c in keep if c not in fresh_of]
        new_cents = [list(map(float, self.centroids[pos_of[c]])) for c in new_ids]
        fresh_cents = {
            fresh_of[old]: list(map(float, self.centroids[pos_of[old]]))
            for old in affected
        }
        if retrain and affected:
            fresh_list = sorted(fresh_of.values())
            means = (
                self.spark.read.parquet(data_path)
                .filter(F.col("cluster_id").isin(fresh_list))
                .select(
                    "cluster_id",
                    F.posexplode(F.col(self.vector_col).cast("array<double>")).alias(
                        "pos", "v"
                    ),
                )
                .groupBy("cluster_id", "pos")
                .agg(F.avg("v").alias("m"))
                .collect()
            )
            dim = self.centroids.shape[1]
            acc = {cid: [0.0] * dim for cid in fresh_list}
            for r in means:
                acc[r["cluster_id"]][r["pos"]] = float(r["m"])
            fresh_cents = acc
        for old in affected:
            new_ids.append(fresh_of[old])
            new_cents.append(fresh_cents[fresh_of[old]])
        write_meta(self.path, "ivf_meta.json", {
            "id_col": self.id_col,
            "vector_col": self.vector_col,
            "n_clusters": len(new_ids),
            "metric": self.metric,
            "centroids": new_cents,
            "cluster_ids": new_ids,
            "data_dir": self.data_dir,
        })
        for cid in thin + affected:  # unreachable after the meta swap
            shutil.rmtree(
                os.path.join(data_path, f"cluster_id={cid}"), ignore_errors=True
            )
        return IVFIndex(self.spark, self.path)

    # -- incremental maintenance ------------------------------------------------
    def append(self, new_df: DataFrame) -> None:
        """Incremental index maintenance: assign new vectors to their
        nearest EXISTING centroid (same euclidean rule as the build's
        KMeans assignment) and append them to the cluster layout — new
        parquet files land inside existing ``cluster_id=`` directories, so
        searches see old+new rows with no rebuild and no rewrite of prior
        data (append-only, never read-transform-overwrite).

        Assignment is one Arrow GEMM per batch against the broadcast
        (k, d) centroid matrix — O(rows·k·d) with no shuffle before the
        partitioned write. Centroids drift as data grows; like any IVF,
        rebuild when appended volume ≫ built volume (recall soundness is
        unaffected — assignment and search use the same centroids)."""
        _assign = _nearest_udf(
            self.centroids, np.array(self.cluster_ids, dtype=np.int32), "int"
        )

        (
            new_df.withColumn(
                "cluster_id", _assign(F.col(self.vector_col).cast("array<double>"))
            )
            .repartition("cluster_id")
            .write.mode("append")
            .partitionBy("cluster_id")
            .parquet(self._data_path())
        )

    # -- deletes ---------------------------------------------------------------
    def _tombstone_dir(self) -> str:
        return os.path.join(self.path, "tombstones")

    def delete(self, ids_df: DataFrame) -> None:
        """Tombstone delete: append the ids (one small parquet per call) to
        ``<path>/tombstones``; searches anti-join the set, so deletes are
        visible immediately with NO rewrite of cluster data. The tombstone
        set is assumed small relative to the index (it broadcasts in
        search); when deletes accumulate, :meth:`compact` folds them into
        the layout and clears the set. Ids are tombstoned permanently
        until compact — re-appending a deleted id before compacting would
        leave it invisible (same one-owner-per-entity-id discipline as the
        upsert convention); single-writer contract as with every store."""
        ids_df.select(F.col(self.id_col)).write.mode("append").parquet(
            self._tombstone_dir()
        )

    def tombstones(self) -> DataFrame | None:
        p = self._tombstone_dir()
        if not os.path.isdir(p):
            return None
        return self.spark.read.parquet(p).select(self.id_col).distinct()

    def compact(self) -> "IVFIndex":
        """Fold tombstones into the layout: rewrite the cluster tree MINUS
        deleted ids into a fresh versioned data dir (``data_vN`` — never
        read-transform-overwrite), atomically swap the meta's ``data_dir``
        pointer, then drop the old tree and the tombstone set.

        Crash-safe at every boundary: a crash before the meta swap leaves
        an orphan ``data_vN`` no search reads (a retry picks a fresh N); a
        crash after the swap leaves a stale old tree / tombstone set whose
        cleanup is idempotent (the tombstoned ids are already absent from
        the compacted tree, so a still-present tombstone set only re-drops
        nothing). Clusters emptied by deletion keep their id in the meta —
        probing them scans zero rows. Compacting an index whose EVERY row
        is tombstoned is refused (a zero-file parquet tree cannot be read
        back).

        Disk reclamation: before allocating a fresh ``data_vN``, sweep
        every ``data``/``data_vN`` tree OTHER than the committed meta
        ``data_dir`` — they are orphans from a crash between a prior
        swap and its rmtree (searches never read them, but without the
        sweep they would leak forever since later compacts always pick a
        fresh N). Mirrors split_skewed's uncommitted-cluster cleanup."""
        import shutil

        ts = self.tombstones()
        if ts is None:
            return self
        for entry in os.listdir(self.path):
            if (entry == "data" or entry.startswith("data_v")) and entry != self.data_dir:
                shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)
        n = 1
        while os.path.exists(os.path.join(self.path, f"data_v{n}")):
            n += 1
        new_dir = f"data_v{n}"
        data = self.spark.read.parquet(self._data_path()).join(
            F.broadcast(ts), self.id_col, "left_anti"
        )
        (
            data.repartition("cluster_id")
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(os.path.join(self.path, new_dir))
        )
        if not any(
            e.startswith("cluster_id=")
            for e in os.listdir(os.path.join(self.path, new_dir))
        ):
            shutil.rmtree(os.path.join(self.path, new_dir), ignore_errors=True)
            raise ValueError(
                "compact: every row of the index is tombstoned — an empty "
                "index is unreadable; rebuild instead"
            )
        write_meta(self.path, "ivf_meta.json", {
            "id_col": self.id_col,
            "vector_col": self.vector_col,
            "n_clusters": len(self.cluster_ids),
            "metric": self.metric,
            "centroids": [list(map(float, c)) for c in self.centroids],
            "cluster_ids": list(self.cluster_ids),
            "data_dir": new_dir,
        })
        old = self._data_path()
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(self._tombstone_dir(), ignore_errors=True)
        return IVFIndex(self.spark, self.path)

    # -- search ----------------------------------------------------------------
    def rank_centroids(self, query_vec: Sequence[float]) -> list[int]:
        q = np.asarray(query_vec, dtype=np.float64)
        if self.metric == "cosine":
            cn = np.linalg.norm(self.centroids, axis=1)
            sims = (self.centroids @ q) / (cn * np.linalg.norm(q))
            order = np.argsort(-sims)
        else:
            order = np.argsort(np.linalg.norm(self.centroids - q, axis=1))
        return [self.cluster_ids[int(i)] for i in order]

    def search(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        n_probe: int = 4,
        where=None,
        select: Sequence[str] | None = None,
    ) -> DataFrame:
        probes = self.rank_centroids(query_vec)[: max(1, min(n_probe, self.n_clusters))]
        scan = self.spark.read.parquet(self._data_path()).filter(
            F.col("cluster_id").isin(probes)  # partition-pruned: only probed dirs read
        )
        ts = self.tombstones()
        if ts is not None:
            # tombstoned ids are invisible until compact() reclaims them
            scan = scan.join(F.broadcast(ts), self.id_col, "left_anti")
        return knn(
            scan,
            self.vector_col,
            query_vec,
            k=k,
            where=where,
            select=select,
            metric=self.metric,
            id_col=self.id_col,
        )


def build_or_load_ivf(
    spark: SparkSession,
    source_df: DataFrame,
    path: str,
    id_col: str,
    vector_col: str,
    n_clusters: int = 16,
) -> IVFIndex:
    """Idempotent build: reuse an existing index directory (the S6 'ALTER
    TABLE ADD VECTOR INDEX' is a one-time batch job, not a per-query one)."""
    if os.path.exists(os.path.join(path, "ivf_meta.json")):
        return IVFIndex(spark, path)
    os.makedirs(path, exist_ok=True)
    return IVFIndex.build(source_df, path, id_col, vector_col, n_clusters=n_clusters)
