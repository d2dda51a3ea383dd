"""Dedup-family unit tests beyond the oracle comparisons:
LSH recall vs the exact join, simhash sanity, operator edge cases."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from chatdata_spark.operators.dedup import (
    _split_stop_tokens,
    _stop_set,
    _with_shingle_hashes,
    embedding_near_dup,
    embedding_near_dup_clustered,
    exact_dedup,
    jaccard_similarity_join,
    md5_hash60,
    minhash_lsh_pairs,
    prefix_filter_jaccard_join,
    simhash_pairs,
)
from tests.conftest import SF_ORACLE, SF_SMOKE


def _docs(spark, sf=SF_ORACLE):
    return spark.read.parquet(f"{sf}/documents.parquet")


def test_lsh_recall_equals_exact(spark):
    """At default params the verified LSH pair set must equal the exact
    inverted-index join's — this is what licenses the shared oracle."""
    d = _docs(spark)
    exact = {(r.i, r.j) for r in jaccard_similarity_join(d, "doc_id", threshold=0.4).collect()}
    lsh = {(r.i, r.j) for r in minhash_lsh_pairs(d, "doc_id", threshold=0.4).collect()}
    assert exact, "expected planted near-dup pairs in test data"
    assert lsh == exact


def test_lsh_jaccard_values_match_exact(spark):
    d = _docs(spark)
    exact = {(r.i, r.j): r.jaccard for r in jaccard_similarity_join(d, "doc_id", threshold=0.4).collect()}
    lsh = {(r.i, r.j): r.jaccard for r in minhash_lsh_pairs(d, "doc_id", threshold=0.4).collect()}
    assert lsh == exact


def test_prefix_filter_equals_full_index(spark):
    """Prefix filtering is a pure candidate-pruning rewrite: at the same
    threshold its (pair, jaccard) output must equal the exhaustive
    inverted-index join's (max_df=None ⇒ no recall caveat on either side)."""
    d = _docs(spark)
    full = {
        (r.i, r.j): r.jaccard
        for r in jaccard_similarity_join(d, "doc_id", threshold=0.7, max_df=None).collect()
    }
    pref = {
        (r.i, r.j): r.jaccard
        for r in prefix_filter_jaccard_join(d, "doc_id", threshold=0.7).collect()
    }
    assert full, "expected planted near-dup pairs in test data"
    assert pref == full


def test_prefix_filter_monotone_in_threshold(spark):
    d = _docs(spark)
    p8 = {(r.i, r.j) for r in prefix_filter_jaccard_join(d, "doc_id", threshold=0.8).collect()}
    p6 = {(r.i, r.j) for r in prefix_filter_jaccard_join(d, "doc_id", threshold=0.6).collect()}
    assert p8 <= p6


def test_simhash_finds_exact_copies(spark):
    """Re-ingested copies (identical token sets) have hamming 0 and must all
    surface even at max_hamming=0. (True near-dups of ~20-token docs can
    legitimately land at hamming >3: one changed word flips every bit whose
    ±1 vote sum sat at the tie boundary — SimHash is a long-document tool.)"""
    d = _docs(spark, SF_SMOKE).select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 50).withColumn("doc_id", F.col("doc_id") + 100000)
    u = d.unionByName(copies)
    found = {(r.i, r.j) for r in simhash_pairs(u, "doc_id", max_hamming=0).collect()}
    expected = {(i, i + 100000) for i in range(50)}
    assert expected <= found


def test_simhash_monotonic_in_hamming(spark):
    d = _docs(spark, SF_SMOKE)
    p1 = {(r.i, r.j) for r in simhash_pairs(d, "doc_id", max_hamming=1).collect()}
    p3 = {(r.i, r.j) for r in simhash_pairs(d, "doc_id", max_hamming=3).collect()}
    assert p1 <= p3


def test_exact_dedup_keeps_latest_when_asked(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id int, key string, v int"
    )
    kept_min = exact_dedup(df, ["key"], "id", keep="min").select("id").collect()
    kept_max = exact_dedup(df, ["key"], "id", keep="max").select("id").collect()
    assert {r.id for r in kept_min} == {1, 3}
    assert {r.id for r in kept_max} == {2, 3}


def test_jaccard_join_max_df_pruning_keeps_high_pairs(spark):
    """Doc-frequency pruning may drop low-sim pairs but must keep the
    planted high-sim ones (their rare shingles survive)."""
    d = _docs(spark)
    full = {(r.i, r.j) for r in jaccard_similarity_join(d, "doc_id", threshold=0.9).collect()}
    pruned = {
        (r.i, r.j)
        for r in jaccard_similarity_join(d, "doc_id", threshold=0.9, max_df=50).collect()
    }
    assert full <= pruned | full  # pruning never invents pairs
    assert full == pruned  # high-sim pairs share rare shingles → survive


def _skewed_corpus(spark, n=200):
    """One boilerplate sentence in EVERY doc (the adversarial stop-shingle:
    an f=n shingle makes an n² join bucket) + unique tails; docs 0/1 are a
    planted near-dup pair through their unique content."""
    rows = []
    for i in range(n):
        boiler = "terms of service apply to all users of this site"
        uniq = f"unique{i} payload{i} content{i} token{i}a token{i}b token{i}c"
        if i == 1:
            uniq = "unique0 payload0 content0 token0a token0b token0c extra"
        rows.append((i, f"{boiler} {uniq}"))
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_jaccard_default_skew_guard_bounds_buckets(spark):
    """Default max_df must (a) classify the corpus-wide shingles as stop
    shingles — bounding the inverted-index bucket the hot key would
    otherwise blow up to n² — and (b) still report the planted pair with
    the SAME jaccard as the exhaustive join (verification uses full
    arrays, pruning only gates candidate generation)."""
    d = _skewed_corpus(spark)
    base = _with_shingle_hashes(d, "doc_id", "text", k=3, persist=False)
    tokens = base.select("id", F.explode("shh").alias("shingle"))
    stops = _stop_set(base, 3, 0.01)  # the set jaccard_similarity_join splits on
    assert len(stops) >= 7, "corpus-wide boilerplate shingles must be stop-listed"
    nonstop, _ = _split_stop_tokens(base, tokens, stops)
    surviving_max_df = (
        nonstop.groupBy("shingle")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert surviving_max_df <= 2, f"surviving bucket too large: {surviving_max_df}"

    guarded = {(r.i, r.j): r.jaccard for r in jaccard_similarity_join(d, "doc_id").collect()}
    exhaustive = {
        (r.i, r.j): r.jaccard
        for r in jaccard_similarity_join(d, "doc_id", max_df=None).collect()
    }
    assert (0, 1) in guarded
    assert guarded[(0, 1)] == exhaustive[(0, 1)]


def test_simhash_md5_variant_same_pipeline(spark):
    """The oracle-reproducible md5-60-bit config must keep the pigeonhole
    guarantees: exact copies at hamming 0, monotonicity in max_hamming."""
    d = _docs(spark, SF_SMOKE).select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < 20).withColumn("doc_id", F.col("doc_id") + 100000)
    u = d.unionByName(copies)
    kw = dict(token_hash=md5_hash60, n_bits=60)
    p0 = {(r.i, r.j) for r in simhash_pairs(u, "doc_id", max_hamming=0, **kw).collect()}
    p3 = {(r.i, r.j) for r in simhash_pairs(u, "doc_id", max_hamming=3, **kw).collect()}
    assert {(i, i + 100000) for i in range(20)} <= p0
    assert p0 <= p3


def _ivf(spark, path, k):
    from chatdata_spark.operators.ivf import build_or_load_ivf

    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    return e, build_or_load_ivf(spark, e, path, "vec_id", "embedding", n_clusters=k)


def test_clustered_near_dup_full_probe_is_exact(spark, tmp_path):
    """n_probe = n_clusters must reproduce the all-pairs operator exactly
    (values included) while the plan stays an equi-join on cluster_id."""
    e, idx = _ivf(spark, str(tmp_path / "ivf"), 8)
    exact = {
        (r.i, r.j): r.cos_sim
        for r in embedding_near_dup(e, "vec_id", "embedding", 0.4).collect()
    }
    clustered_df = embedding_near_dup_clustered(idx, 0.4, n_probe=idx.n_clusters)
    clustered = {(r.i, r.j): r.cos_sim for r in clustered_df.collect()}
    assert clustered == exact
    plan = clustered_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_clustered_near_dup_probe_recall_monotonic(spark, tmp_path):
    """More probes → more pairs recovered, never false pairs."""
    e, idx = _ivf(spark, str(tmp_path / "ivf"), 8)
    exact = {(r.i, r.j) for r in embedding_near_dup(e, "vec_id", "embedding", 0.4).collect()}
    p1 = {(r.i, r.j) for r in embedding_near_dup_clustered(idx, 0.4, n_probe=1).collect()}
    p3 = {(r.i, r.j) for r in embedding_near_dup_clustered(idx, 0.4, n_probe=3).collect()}
    assert p1 <= p3 <= exact
    assert len(p3) > len(p1), "multi-probe should recover boundary pairs"


def test_shingle_udf_matches_jvm_mix(spark):
    """The Arrow shingle mix must be bit-identical to the JVM expression
    (the dedup family's join keys and the decontam broadcast set both
    assume interchangeability)."""
    from chatdata_spark.operators.dedup import shingle_hashes_col, shingle_hashes_udf, words_col
    import pyspark.sql.functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    base = d.select(
        "doc_id", F.transform(words_col("text"), lambda t: F.xxhash64(t)).alias("wh")
    ).persist()
    for k in (3, 5):
        rows = base.select(
            "doc_id",
            F.array_sort(shingle_hashes_col("wh", k)).alias("jvm"),
            F.array_sort(shingle_hashes_udf(k)(F.col("wh"))).alias("arrow"),
        ).collect()
        for r in rows:
            assert r["jvm"] == r["arrow"], f"k={k} doc={r['doc_id']}"
    base.unpersist()


def test_semantic_dedup_survivors_partition_and_are_dissimilar(spark):
    """SemDeDup survivor-set invariants (queries/dedup.py::
    semantic_dedup_keep): group sizes over survivors partition the corpus
    (sum == row count), and no two SURVIVORS are near-dups of each other
    at the threshold — two similar survivors would share a component, and
    only its minimum survives."""
    from chatdata_spark.operators.dedup import embedding_near_dup
    from chatdata_spark.registry import queries

    sf = "/root/testdata/sf0.01"
    surv = queries()["semantic_dedup_keep"](spark, sf)
    rows = surv.collect()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    assert sum(r.group_size for r in rows) == emb.count()
    keep_ids = [r.vec_id for r in rows]
    kept = emb.filter(F.col("vec_id").isin(keep_ids))
    assert embedding_near_dup(kept, "vec_id", "embedding", threshold=0.4).count() == 0


def test_containment_join_catches_subdocument_dup(spark):
    """A small doc quoted inside a much larger one: containment = 1.0 in
    the i->container direction while Jaccard stays far below any useful
    threshold — the asymmetric measure's reason to exist."""
    from chatdata_spark.operators.dedup import containment_join, jaccard_similarity_join

    small = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [(1, small), (2, filler + " " + small), (3, "unrelated text entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = containment_join(df, "doc_id", "text", k=3, threshold=0.9, max_df=None).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.i, r.j) == (1, 2) and r.c_ij == 1.0 and r.containment == 1.0
    assert r.c_ji < 0.1  # the big doc is NOT contained in the small one
    jac = jaccard_similarity_join(df, "doc_id", "text", k=3, threshold=0.5, max_df=None).collect()
    assert jac == []  # symmetric Jaccard misses the same pair at any sane threshold


def test_stop_dispatch_paths_equivalent(spark, monkeypatch):
    """r9 verdict item 5: the stop-set split dispatches on |stops| —
    plan-literal InSet below STOP_INSET_MAX, broadcast anti/semi joins
    above. Both arms must produce IDENTICAL pairs for jaccard and
    containment (the dispatch changes physical shape only)."""
    import chatdata_spark.operators.dedup as D
    from chatdata_spark.operators.dedup import containment_join, jaccard_similarity_join

    docs = _skewed_corpus(spark)  # boilerplate in EVERY doc → stop set ≥ 1
    kw = dict(k=3, threshold=0.3)

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    jac_inset = snap(jaccard_similarity_join(docs, "doc_id", "text", **kw))
    con_inset = snap(containment_join(docs, "doc_id", "text", threshold=0.6, k=3))
    # force the broadcast-join arm for ANY non-empty stop set; clear the
    # memo so the statistics pass re-runs under the patched bound
    monkeypatch.setattr(D, "STOP_INSET_MAX", 0)
    D._STOP_SETS.clear()
    jac_bcast = snap(jaccard_similarity_join(docs, "doc_id", "text", **kw))
    con_bcast = snap(containment_join(docs, "doc_id", "text", threshold=0.6, k=3))
    D._STOP_SETS.clear()
    assert jac_inset == jac_bcast and len(jac_inset) > 0
    assert con_inset == con_bcast and len(con_inset) > 0
    # the fixture must actually exercise a non-empty stop set at the
    # default max_df (0.01 of 200 docs → cap 2; boilerplate df = 200)
    base = D._with_shingle_hashes(docs, "doc_id", "text", 3, persist=False)
    n_hot = (
        base.select(F.explode("shh").alias("shingle"))
        .groupBy("shingle").count().filter(F.col("count") > 2).count()
    )
    assert n_hot > 0, "fixture produced no stop shingles"


def test_optimal_lsh_params_properties():
    """The (b, r) optimizer: valid splits, threshold monotonicity (higher
    threshold → steeper curve → more rows per band), weight sensitivity
    (penalizing FPs more never DECREASES r), and agreement with the
    module default's documented regime at t=0.4."""
    from chatdata_spark.operators.dedup import optimal_lsh_params

    import pytest

    for t in (0.2, 0.4, 0.6, 0.8):
        b, r = optimal_lsh_params(t, 126)
        assert 1 <= r <= 126 and b == 126 // r
    rs = [optimal_lsh_params(t, 126)[1] for t in (0.2, 0.4, 0.6, 0.8)]
    assert rs == sorted(rs), f"r must grow with threshold, got {rs}"
    _, r_eq = optimal_lsh_params(0.4, 126, fp_weight=0.5, fn_weight=0.5)
    _, r_fp = optimal_lsh_params(0.4, 126, fp_weight=0.9, fn_weight=0.1)
    assert r_fp >= r_eq, "penalizing FPs harder must not flatten the curve"
    # the hand-picked module default (r=3 at t=0.4, H=126) sits within one
    # step of the equal-weight optimum — the docstring's derivability claim
    assert abs(r_eq - 3) <= 1
    with pytest.raises(ValueError):
        optimal_lsh_params(0.0)


def test_minhash_auto_band_matches_explicit(spark):
    """rows_per_band='auto' must equal passing the optimizer's r
    explicitly — same pairs, same jaccards."""
    from chatdata_spark.operators.dedup import minhash_lsh_pairs, optimal_lsh_params

    d = _docs(spark, SF_SMOKE)
    _, r = optimal_lsh_params(0.4, 126)
    auto = sorted(
        tuple(x) for x in minhash_lsh_pairs(
            d, "doc_id", "text", rows_per_band="auto", threshold=0.4).collect()
    )
    explicit = sorted(
        tuple(x) for x in minhash_lsh_pairs(
            d, "doc_id", "text", rows_per_band=r, threshold=0.4).collect()
    )
    assert auto == explicit and len(auto) > 0
