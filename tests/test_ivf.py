"""IVF index tests: full-probe exactness, pruned-probe soundness, layout."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from chatdata_spark.functions.vector import hash_embed
from chatdata_spark.operators.ivf import build_or_load_ivf
from chatdata_spark.operators.knn import knn
from tests.conftest import SF_ORACLE

Q = hash_embed("ivf query", 64)


def _index(spark, tmp_path, n_clusters=8):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    return build_or_load_ivf(
        spark, emb, str(tmp_path / "ivf"), "vec_id", "embedding", n_clusters=n_clusters
    )


def test_full_probe_equals_exact(spark, tmp_path):
    idx = _index(spark, tmp_path)
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    exact = [
        (r.vec_id, r.dist)
        for r in knn(emb, "embedding", Q, k=12, select=["vec_id"], id_col="vec_id").collect()
    ]
    ivf = [
        (r.vec_id, r.dist)
        for r in idx.search(Q, k=12, n_probe=idx.n_clusters, select=["vec_id"]).collect()
    ]
    assert ivf == exact


def test_pruned_probe_is_sound_subset(spark, tmp_path):
    """Pruned search may miss neighbors (recall < 1) but every returned row
    must carry its true exact distance and appear in the exact ranking."""
    idx = _index(spark, tmp_path)
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    exact = {
        r.vec_id: r.dist
        for r in knn(emb, "embedding", Q, k=500, select=["vec_id"], id_col="vec_id").collect()
    }
    pruned = idx.search(Q, k=10, n_probe=2, select=["vec_id"]).collect()
    assert len(pruned) == 10
    for r in pruned:
        assert exact[r.vec_id] == r.dist


def test_pruned_recall_reasonable(spark, tmp_path):
    idx = _index(spark, tmp_path)
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    exact_top = [
        r.vec_id for r in knn(emb, "embedding", Q, k=10, select=["vec_id"], id_col="vec_id").collect()
    ]
    got = {r.vec_id for r in idx.search(Q, k=10, n_probe=4, select=["vec_id"]).collect()}
    recall = len(got & set(exact_top)) / 10
    assert recall >= 0.5, f"recall@10 with n_probe=4/8 unexpectedly low: {recall}"


def test_partitioned_layout_on_disk(spark, tmp_path):
    idx = _index(spark, tmp_path)
    dirs = sorted(
        d for d in os.listdir(os.path.join(idx.path, "data")) if d.startswith("cluster_id=")
    )
    assert len(dirs) == idx.n_clusters


def test_filtered_ivf_search(spark, tmp_path):
    idx = _index(spark, tmp_path)
    rows = idx.search(
        Q, k=8, n_probe=idx.n_clusters, where=F.col("label").isin(1, 2, 3), select=["vec_id", "label"]
    ).collect()
    assert len(rows) == 8
    assert all(r.label in (1, 2, 3) for r in rows)


def test_build_is_idempotent(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx1 = build_or_load_ivf(spark, emb, str(tmp_path / "ivf"), "vec_id", "embedding", 8)
    idx2 = build_or_load_ivf(spark, emb, str(tmp_path / "ivf"), "vec_id", "embedding", 8)
    assert (idx1.centroids == idx2.centroids).all()


def test_ivf_append_rows_land_in_existing_layout_and_search_exact(spark, tmp_path):
    """Appended vectors become searchable with no rebuild: full-probe
    search over (build ∪ append) ≡ exact kNN over the union; appended
    files reuse the existing cluster_id= directories."""
    import os

    from chatdata_spark.operators.ivf import IVFIndex
    from chatdata_spark.operators.knn import knn

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    extra = emb.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "ivf")
    idx = IVFIndex.build(base, path, "vec_id", "embedding", n_clusters=8)
    dirs_before = {d for d in os.listdir(f"{path}/data") if d.startswith("cluster_id=")}
    idx.append(extra)
    dirs_after = {d for d in os.listdir(f"{path}/data") if d.startswith("cluster_id=")}
    assert dirs_after == dirs_before  # no new cluster dirs, files appended inside

    q = hash_embed("append-q", 64)
    got = [(r.vec_id, r.dist) for r in idx.search(q, k=15, n_probe=8, select=["vec_id"]).collect()]
    want = [
        (r.vec_id, r.dist)
        for r in knn(emb, "embedding", q, k=15, select=["vec_id"], id_col="vec_id").collect()
    ]
    assert got == want

    # count integrity: every appended row is in the layout exactly once
    total = spark.read.parquet(f"{path}/data").count()
    assert total == emb.count()


def test_split_skewed_caps_partitions_and_stays_exact(spark, tmp_path):
    """The recursive skew escape: build deliberately lopsided (k=2), split
    with a low cap — every surviving cluster respects the cap, the ids go
    non-contiguous, and full-probe search still equals the exact scan
    (the invariant that makes split a pure layout operation)."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = build_or_load_ivf(
        spark, emb, str(tmp_path / "ivf_skew"), "vec_id", "embedding", n_clusters=2
    )
    total = emb.count()
    sizes0 = {
        r.cluster_id: r.n
        for r in spark.read.parquet(os.path.join(idx.path, "data"))
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    cap = max(total // 3, 1)
    assert max(sizes0.values()) > cap, "fixture not skewed enough to exercise split"

    idx2 = idx.split_skewed(max_rows=cap, sub_k=4)
    sizes1 = {
        r.cluster_id: r.n
        for r in spark.read.parquet(os.path.join(idx2.path, "data"))
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(sizes1.values()) == total, "split lost or duplicated rows"
    assert max(sizes1.values()) <= cap or len(sizes1) > len(sizes0)
    assert set(sizes1) == set(idx2.cluster_ids)
    assert len(idx2.cluster_ids) == len(set(idx2.cluster_ids))
    # exactness invariant: full probe == exact scan, through non-contiguous ids
    exact = [
        (r.vec_id, r.dist)
        for r in knn(emb, "embedding", Q, k=12, select=["vec_id"], id_col="vec_id").collect()
    ]
    got = [
        (r.vec_id, r.dist)
        for r in idx2.search(Q, k=12, n_probe=idx2.n_clusters, select=["vec_id"]).collect()
    ]
    assert got == exact
    # append after split assigns to the EXPANDED centroid set by id, not position
    extra = emb.limit(5).withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    idx2.append(extra)
    appended = spark.read.parquet(os.path.join(idx2.path, "data")).filter(
        F.col("vec_id") >= 10_000_000
    )
    assert appended.count() == 5
    bad = appended.filter(~F.col("cluster_id").isin(idx2.cluster_ids)).count()
    assert bad == 0


def test_split_crash_orphan_dir_is_never_probed(spark, tmp_path):
    """The split's crash window leaves an orphan cluster directory whose id
    is absent from cluster_ids — simulate one and assert searches ignore
    it completely (results unchanged, full probe still exact)."""
    import shutil

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = build_or_load_ivf(
        spark, emb, str(tmp_path / "ivf_orphan"), "vec_id", "embedding", n_clusters=4
    )
    before = [
        (r.vec_id, r.dist)
        for r in idx.search(Q, k=12, n_probe=idx.n_clusters, select=["vec_id"]).collect()
    ]
    # fabricate the orphan: a copy of cluster 0's rows under an id no meta knows,
    # with vec_ids that would definitely pollute results if scanned
    data = os.path.join(idx.path, "data")
    src = os.path.join(data, "cluster_id=0")
    dst = os.path.join(data, "cluster_id=99")
    shutil.copytree(src, dst)
    after_idx = build_or_load_ivf(
        spark, emb, str(tmp_path / "ivf_orphan"), "vec_id", "embedding", n_clusters=4
    )
    assert 99 not in after_idx.cluster_ids
    after = [
        (r.vec_id, r.dist)
        for r in after_idx.search(Q, k=12, n_probe=after_idx.n_clusters, select=["vec_id"]).collect()
    ]
    assert after == before


def test_split_skewed_retry_after_crash_no_duplicates(spark, tmp_path, monkeypatch):
    """A crash after the sub-cluster append but before the meta swap leaves
    orphan cluster_id= dirs whose ids the retry would reuse — the retry
    must first drop uncommitted dirs so no row is ever duplicated, and the
    completed split must still satisfy the exactness invariant."""
    from chatdata_spark.operators import ivf as ivf_module
    from chatdata_spark.operators.ivf import IVFIndex

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = build_or_load_ivf(
        spark, emb, str(tmp_path / "ivf_crash"), "vec_id", "embedding", n_clusters=2
    )
    total = emb.count()
    cap = max(total // 3, 1)

    calls = {"n": 0}

    def crashing_write(path, name, meta):
        calls["n"] += 1
        raise RuntimeError("simulated crash before meta swap")

    with monkeypatch.context() as mp:
        mp.setattr(ivf_module, "write_meta", crashing_write)
        try:
            idx.split_skewed(max_rows=cap, sub_k=4)
        except RuntimeError:
            pass
    assert calls["n"] == 1, "crash fixture did not fire"

    # orphan sub-cluster dirs now exist on disk but not in the meta
    data_dir = os.path.join(idx.path, "data")
    on_disk = {e for e in os.listdir(data_dir) if e.startswith("cluster_id=")}
    committed = {f"cluster_id={c}" for c in IVFIndex(spark, idx.path).cluster_ids}
    assert on_disk - committed, "crash left no orphans — fixture broken"

    idx2 = IVFIndex(spark, idx.path).split_skewed(max_rows=cap, sub_k=4)
    sizes = {
        r.cluster_id: r.n
        for r in spark.read.parquet(os.path.join(idx2.path, "data"))
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(sizes.values()) == total, "retry duplicated or lost rows"
    assert set(sizes) == set(idx2.cluster_ids)
    exact = [
        (r.vec_id, r.dist)
        for r in knn(emb, "embedding", Q, k=12, select=["vec_id"], id_col="vec_id").collect()
    ]
    got = [
        (r.vec_id, r.dist)
        for r in idx2.search(Q, k=12, n_probe=idx2.n_clusters, select=["vec_id"]).collect()
    ]
    assert got == exact


def test_delete_is_visible_before_compact_and_durable_after(spark, tmp_path):
    """Tombstone lifecycle: deletes anti-join into every search immediately
    (no rewrite), compact() reclaims them into a fresh versioned tree with
    an atomic meta pointer swap, the old tree and tombstone set are gone,
    and results are identical before and after compaction."""
    import os

    from chatdata_spark.functions.vector import hash_embed
    from chatdata_spark.operators.ivf import IVFIndex
    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = IVFIndex.build(emb, str(tmp_path / "ivf"), "vec_id", "embedding", n_clusters=8)
    q = hash_embed("delete probe", 64)
    before = [r.vec_id for r in idx.search(q, k=10, n_probe=8).collect()]

    victims = set(before[:3])
    idx.delete(emb.filter(F.col("vec_id").isin(list(victims))).select("vec_id"))
    after_del = [r.vec_id for r in idx.search(q, k=10, n_probe=8).collect()]
    assert not victims & set(after_del), "tombstoned ids still surface"
    # deletes are not data loss for others: survivors keep their order
    assert after_del[: 10 - 3] == [v for v in before if v not in victims][: 10 - 3]

    idx2 = idx.compact()
    after_compact = [r.vec_id for r in idx2.search(q, k=10, n_probe=8).collect()]
    assert after_compact == after_del
    assert idx2.data_dir != "data"
    assert not os.path.exists(str(tmp_path / "ivf" / "data"))
    assert not os.path.exists(str(tmp_path / "ivf" / "tombstones"))
    # a reloaded index reads the swapped pointer
    assert IVFIndex(spark, str(tmp_path / "ivf")).data_dir == idx2.data_dir
    # double-delete then full-delete compaction is refused
    idx2.delete(emb.select("vec_id"))
    import pytest as _pt

    with _pt.raises(ValueError, match="every row"):
        idx2.compact()


def test_append_after_compact_lands_in_current_tree(spark, tmp_path):
    """The data_dir pointer must route APPENDS too — an append after a
    compact that wrote data_v1 may not resurrect the old 'data' path."""
    import os

    from chatdata_spark.functions.vector import hash_embed
    from chatdata_spark.operators.ivf import IVFIndex
    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    idx = IVFIndex.build(half, str(tmp_path / "ivf"), "vec_id", "embedding", n_clusters=4)
    idx.delete(half.limit(5).select("vec_id"))
    idx = idx.compact()
    idx.append(emb.filter(F.col("vec_id") % 2 == 1))
    assert not os.path.exists(str(tmp_path / "ivf" / "data"))
    q = hash_embed("append probe", 64)
    got = idx.search(q, k=5, n_probe=4).collect()
    assert len(got) == 5


@pytest.mark.parametrize("seed", [3, 11])
def test_delete_search_equals_exact_over_survivors(spark, tmp_path, seed):
    """Randomized delete sets: with tombstones active (pre-compact) AND
    after compact, a full-probe search must equal the exact kNN over
    exactly the surviving rows — the delete lifecycle's correctness
    contract at two random operating points."""
    import numpy as np

    from chatdata_spark.operators.ivf import IVFIndex

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    rng = np.random.default_rng(seed)
    victims = set(int(x) for x in rng.choice(ids, size=len(ids) // 5, replace=False))
    q = hash_embed(f"del probe {seed}", 64)

    idx = IVFIndex.build(emb, str(tmp_path / f"ivf{seed}"), "vec_id", "embedding", n_clusters=8)
    idx.delete(emb.filter(F.col("vec_id").isin(list(victims))).select("vec_id"))
    survivors = emb.filter(~F.col("vec_id").isin(list(victims)))
    want = [(r.vec_id, r.dist) for r in
            knn(survivors, "embedding", q, k=15, select=["vec_id"], id_col="vec_id").collect()]
    got_pre = [(r.vec_id, r.dist) for r in
               idx.search(q, k=15, n_probe=idx.n_clusters, select=["vec_id"]).collect()]
    assert got_pre == want
    idx = idx.compact()
    got_post = [(r.vec_id, r.dist) for r in
                idx.search(q, k=15, n_probe=idx.n_clusters, select=["vec_id"]).collect()]
    assert got_post == want


def test_compact_crash_replay_is_safe(spark, tmp_path):
    """The compact() crash story, exercised: an orphan data_vN left by a
    crash BEFORE the meta swap is never read (a retry picks a fresh N and
    the search is unaffected); a stale tombstone set surviving a crash
    AFTER the swap re-drops nothing (the ids are already gone)."""
    import os
    import shutil

    from chatdata_spark.operators.ivf import IVFIndex

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    root = str(tmp_path / "ivf")
    idx = IVFIndex.build(emb, root, "vec_id", "embedding", n_clusters=4)
    idx.delete(emb.limit(7).select("vec_id"))
    q = hash_embed("crash probe", 64)
    want = [(r.vec_id, r.dist) for r in idx.search(q, k=10, n_probe=4).collect()]

    # crash before swap: a half-written orphan tree exists
    os.makedirs(os.path.join(root, "data_v1", "cluster_id=0"), exist_ok=True)
    with open(os.path.join(root, "data_v1", "cluster_id=0", "junk"), "w") as f:
        f.write("not parquet")
    # search still reads the committed tree, ignoring the orphan
    assert [(r.vec_id, r.dist) for r in idx.search(q, k=10, n_probe=4).collect()] == want
    # retry SWEEPS the orphan (disk reclamation — ADVICE r5) before
    # allocating, so the version number is legitimately reusable and the
    # junk never survives into the committed tree
    idx2 = idx.compact()
    assert not os.path.exists(os.path.join(root, "data_v1", "cluster_id=0", "junk"))
    assert [(r.vec_id, r.dist) for r in idx2.search(q, k=10, n_probe=4).collect()] == want
    # exactly ONE data tree remains on disk — the committed one (no leaks)
    trees = [e for e in os.listdir(root) if e == "data" or e.startswith("data_v")]
    assert trees == [idx2.data_dir]

    # crash after swap: resurrect a stale tombstone set for already-gone ids
    emb.limit(7).select("vec_id").write.mode("append").parquet(
        os.path.join(root, "tombstones")
    )
    assert [(r.vec_id, r.dist) for r in idx2.search(q, k=10, n_probe=4).collect()] == want
    idx3 = idx2.compact()  # idempotent cleanup
    assert [(r.vec_id, r.dist) for r in idx3.search(q, k=10, n_probe=4).collect()] == want
    shutil.rmtree(root, ignore_errors=True)


def test_merge_underfull_rebalances_and_stays_exact(spark, tmp_path):
    """The re-balance half of the skew pair (r9 verdict item 8): build
    with enough clusters that some land under the floor, merge — every
    thin cluster vanishes, no row is lost or duplicated, survivors hold
    at least their old rows, and full-probe search still equals the
    exact scan (merge is a pure layout operation)."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = build_or_load_ivf(
        spark, emb, str(tmp_path / "ivf_thin"), "vec_id", "embedding", n_clusters=24
    )
    total = emb.count()
    sizes0 = {
        r.cluster_id: r.n
        for r in spark.read.parquet(os.path.join(idx.path, "data"))
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    floor = sorted(sizes0.values())[len(sizes0) // 2]  # median → some thin
    assert min(sizes0.values()) < floor, "fixture has no thin clusters"

    idx2 = idx.merge_underfull(min_rows=floor)
    sizes1 = {
        r.cluster_id: r.n
        for r in spark.read.parquet(os.path.join(idx2.path, "data"))
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(sizes1.values()) == total, "merge lost or duplicated rows"
    assert set(sizes1) == set(idx2.cluster_ids)
    assert len(idx2.cluster_ids) == len(set(idx2.cluster_ids))
    assert len(idx2.cluster_ids) < len(idx.cluster_ids)
    # thin ids are gone from the meta and from disk
    thin0 = {c for c, n in sizes0.items() if n < floor}
    assert thin0.isdisjoint(set(idx2.cluster_ids))
    for c in thin0:
        assert not os.path.exists(os.path.join(idx2.path, "data", f"cluster_id={c}"))
    # receiving clusters only ever grow; untouched survivors keep their size
    for c, n in sizes0.items():
        if c in sizes1:
            assert sizes1[c] == n  # untouched survivor (not rewritten)
    # exactness invariant: full probe == exact scan through the merged layout
    exact = [
        (r.vec_id, r.dist)
        for r in knn(emb, "embedding", Q, k=12, select=["vec_id"], id_col="vec_id").collect()
    ]
    got = [
        (r.vec_id, r.dist)
        for r in idx2.search(Q, k=12, n_probe=idx2.n_clusters, select=["vec_id"]).collect()
    ]
    assert got == exact
    # idempotent: a second merge at the same floor is a no-op object-wise
    sizes_now = sorted(sizes1.values())
    assert sizes_now[0] >= min(sizes0.values())  # floor can still be undercut only
    # by a receiving cluster? no — receivers grow; survivors were >= floor
    assert min(sizes1.values()) >= floor
    idx3 = idx2.merge_underfull(min_rows=floor)
    assert idx3.cluster_ids == idx2.cluster_ids


def test_merge_underfull_retrains_receiving_centroids(spark, tmp_path):
    """retrain=True recomputes receiving centroids as the exact mean of
    their post-merge rows; retrain=False carries the old centroid. Both
    stay search-exact at full probe."""
    import numpy as np

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = build_or_load_ivf(
        spark, emb, str(tmp_path / "ivf_rt"), "vec_id", "embedding", n_clusters=24
    )
    sizes0 = {
        r.cluster_id: r.n
        for r in spark.read.parquet(os.path.join(idx.path, "data"))
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    floor = sorted(sizes0.values())[len(sizes0) // 2]
    idx2 = idx.merge_underfull(min_rows=floor, retrain=True)
    # every receiving (fresh-id) centroid equals the exact mean of its rows
    fresh = [c for c in idx2.cluster_ids if c not in sizes0]
    assert fresh, "no receiving clusters — fixture did not exercise retrain"
    data = spark.read.parquet(os.path.join(idx2.path, "data"))
    for cid in fresh:
        rows = np.array(
            [r.e for r in data.filter(F.col("cluster_id") == cid)
             .select(F.col("embedding").cast("array<double>").alias("e")).collect()]
        )
        got = idx2.centroids[list(idx2.cluster_ids).index(cid)]
        assert np.allclose(rows.mean(axis=0), got, atol=1e-12)


def test_merge_underfull_crash_orphan_swept(spark, tmp_path):
    """Retry safety: a fresh cluster dir left by a crash BEFORE the meta
    swap is invisible to search and swept by the next maintenance call —
    no double rows ever."""
    import shutil

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    idx = build_or_load_ivf(
        spark, emb, str(tmp_path / "ivf_crash"), "vec_id", "embedding", n_clusters=24
    )
    total = emb.count()
    data_path = os.path.join(idx.path, "data")
    # simulate the crash window: copy a committed dir under an uncommitted id
    src = os.path.join(data_path, f"cluster_id={idx.cluster_ids[0]}")
    shutil.copytree(src, os.path.join(data_path, "cluster_id=99999"))
    sizes0 = {
        r.cluster_id: r.n
        for r in spark.read.parquet(data_path)
        .groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    floor = sorted(n for c, n in sizes0.items() if c != 99999)[len(sizes0) // 2]
    idx2 = idx.merge_underfull(min_rows=floor)
    sizes1 = spark.read.parquet(os.path.join(idx2.path, "data")).count()
    assert sizes1 == total, "orphan rows leaked into the merged layout"
    assert not os.path.exists(os.path.join(data_path, "cluster_id=99999"))
