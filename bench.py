#!/usr/bin/env python
"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE compact JSON line to stdout (bounded well under the
driver's ~2,000-char capture window — the BENCH_r06 lesson):
  {"metric":"suite_seconds","value":<steady-state total>,"unit":"sec",
   "sf":<float>,"n_queries":<N>,"detail":"BENCH_DETAIL.json",
   "queries":{<=15 stable headline entries, 2-decimal>}}
and writes the FULL per-query map (plus the "e2e" map for iterative
operators timed build+execute) to BENCH_DETAIL.json at the repo root —
the canonical artifact PLANS.md cites.

Execution model: each query plan is forced end-to-end into the noop sink
(full computation, no driver-collect skew for large results). Timings are
steady-state: one untimed warm pass per query (JIT/codegen, Python worker
pool, file-listing caches) then min-of-reps timed passes — measuring
engine throughput rather than first-invocation JVM compilation. The IVF
index build runs outside timing (a one-time batch job, like the
reference's ALTER TABLE ADD VECTOR INDEX). The full suite shards across
fresh subprocess JVMs (<=SHARD_SIZE entries each) so late-suite GC/cache
pressure can't inflate mid/late entries — every number is within the
isolated-run methodology's noise. E2E entries (iterative operators whose
work runs at plan-build time) are timed as one wall-clock span from
invocation through the noop sink. X10 entries run a registered query over
the key-disjoint 10x copy of the fixture (tools/gen_sf10x.py), which the
first warm invocation builds once under /tmp.

Other environment options: SPARK_GRAFT_BENCH_REPS (timed passes per
entry, min taken; default 3), SPARK_GRAFT_BENCH_ONLY=a,b (time just these
entries in-process, no BENCH_DETAIL.json write; any registered query name
is accepted and timed as a steady-state entry — the sf1 probe path:
SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_BENCH_ONLY=q18_large_volume_customer
python bench.py) and SPARK_GRAFT_BENCH_CHILD=1 (internal shard flag)."""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from chatdata_spark.registry import queries  # noqa: E402
from chatdata_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",       # scan + partial agg
    "q3_shipping_priority",     # broadcast joins + top-k agg
    "q5_region_revenue",        # star join
    "window_latest_event",      # window dedup (upsert read path)
    "top_orders",               # global top-k
    "knn_topk",                 # exact vector search
    "dedup_minhash_lsh",        # LSH near-dup pipeline
    "dedup_jaccard_exact",      # inverted-index similarity join
    "dedup_jaccard_prefix",     # PPJoin prefix-filtered high-threshold join
    "text_profile",             # scan-stage text analytics
    "dialect_knn",              # Vector SQL dialect end-to-end
    "mutation_upsert_keep_latest",  # upsert convention
    "asof_join_purchase_click",  # as-of join (union+window merge)
    "range_join_click_window",  # interval join (bucketized)
    "sessionize_events",        # gap sessionization
    "text_lang_distribution",   # langid feeding an aggregate
    "embed_documents_batch",    # Arrow batch embedding throughput
    "dedup_embedding",          # clustered (equi-join) embedding near-dup
    "hybrid_rrf_search",        # BM25 + kNN reciprocal-rank fusion
    "q6_forecast_revenue",      # pushdown-heavy scan + scalar agg
    "maxsim_late_interaction",  # multi-vector late-interaction scoring
    "scd2_history_events",      # SCD2 history build (windowed compression)
    "heavy_hitter_tokens",      # Misra-Gries candidates + exact recount
    "weighted_sample_by_length",  # A-ES weighted top-n sample
    "bloom_semi_join_lineitem", # bloom pre-filtered semi-join
    "fuzzy_join_part_names",    # deletion-signature edit-distance join
    "merge_into_orders",        # full MERGE (update/delete/insert) pass
    "funnel_view_click_purchase",  # staged-min funnel chain
    "q7_volume_shipping",       # 6-way join, two broadcast dims
    "q21_waiting_suppliers",    # semi/anti self-join chain over the fact table
    "pii_redaction",            # scan-stage regex scrub throughput
    "decontam_docs",            # broadcast n-gram decontamination
    "chunk_dedup_docs",         # chunk dedup + ordered reassembly
    "dedup_chunk_boilerplate",  # doc-frequency boilerplate removal (C4 policy)
    "curation_pipeline_docs",   # end-to-end: quality→dedup→components→decontam→split
    "phrase_proximity_docs",    # scan-stage phrase + NEAR/n predicates
    "binary_quant_knn",         # popcount-xor Hamming ranking (all-integer codegen)
    "rerank_snippet_search",    # rerank + highlight funnel tail
    "hard_negative_mining",     # knn-join anti-join mine
    "dedup_substring_spans",    # cross-doc duplicated-substring spans (Lee et al. shape)
    "attribution_time_decay",   # bounded range join composed into attribution rollup
    "dsir_resample_docs",       # DSIR hashed-bigram importance resampling
    "semantic_dedup_keep",      # SemDeDup survivor set (pairs→closure→keep)
    "lm_perplexity_buckets",    # corpus-trained bigram-LM quality terciles
    "curation_select_v2",       # LM-quality ∩ DSIR selection, composed reporting
    "gopher_quality_filter",    # published Gopher rules, scan-stage integer flags
    "dedup_winnow_pairs",       # MOSS winnowing sketch near-dup pairs
    "nb_quality_classifier",    # NB curation classifier (vocab-shuffle train + score)
    "decontam_embedding",       # eval-matrix GEMM screen + exact re-score funnel
    "tfidf_top_terms",          # TF-IDF keywords: cached tf, broadcast vocab df
    "cms_user_frequency",       # count-min sketch build + point estimates
    "pmi_phrase_mining",        # PMI collocations over the persisted token frame
    "decontam_docs_bloom",      # bloom-funnel decontamination (scan-stage bitmask)
    "graph_random_walks",       # DeepWalk corpus: per-hop frontier equi-joins
    "source_overlap_kmv",       # KMV sketch overlap matrix (one distinct shuffle)
    "sequence_count_conversion_cycles",  # ordered symbol strings + regex count
    "anomaly_mad_event_values", # median/MAD monitor: two grouped sorts + joins
    "text_ngram_diversity",     # corpus-card repetitiveness: explode + distinct counts
    "text_zipf_slope",          # power-law fit: vocab agg + rank window + decimal moments
    "heavy_hitter_parts_weighted",  # weighted MG candidates + exact decimal recount
    "quantile_sketch_totalprice",  # bottom-k-by-hash quantile sample + pick window
    "drift_ks_event_values",    # KS drift: two k-bounded samples, integer max
    "anomaly_zscore_event_values",  # exact-moment agg + broadcast recount pass
    "hll_distinct_deterministic",   # HLL register agg (256 cells/group) + estimate
    "trend_ols_event_values",   # one-aggregate OLS moments per group
    "drift_embedding_centroid", # two posexplode centroid-sum aggregates
    "corpus_shuffle_interleaved",  # per-source hash rank + top-k interleave head
    "heavy_hitter_tokens_by_lang",  # composite-key MG + recount + per-lang rank
    "pack_sequences_concat",    # concat-and-chunk grid: one window + one explode
    "embedding_norm_anomaly",   # exact norm-squared moments + broadcast recount
    # r9 additions (steady-state plans)
    "dialect_parity_sweep6",    # -If combinators + groupBit* + OrZero renames
    "events_locf_fill",         # fill-forward window (LAST_VALUE IGNORE NULLS)
    "dedup_containment_pairs",  # asymmetric containment index join (stop set memoized)
    "corpus_epoch_upsample",    # fractional repeat-factor explode + audit agg
    "doc_novelty_curve",        # first-occurrence min on one gram shuffle + join-back
    "user_rfm_features",        # one user-keyed aggregate + broadcast scalar
    "dialect_parity_sweep7",    # formatDateTime/ISO-calendar/countMatches renames
    "knn_batch_queries",        # Q-query batched kNN: one scan + salted group top-k
    # r10 additions (steady-state plans)
    "dedup_substring_exact_spans",  # hash-candidate superset + literal-gram verify
    "dialect_parity_sweep8",    # bit/calendar/base64/array-mutation renames
    "semantic_chunk_spans",     # windowed Arrow embed + lag cosine + run-sum chunks
    # r11 additions (steady-state plans)
    "dedup_minhash_autoband",   # optimizer-derived (21,6) banding LSH pipeline
    "semantic_chunk_sentences", # sentence-split drift chunking (prose synthesis)
    "dialect_parity_sweep9",    # trim/interval/bit/null/multi-search renames
    "pack_best_fit_docs",       # per-shard BFD packing (one Arrow pass)
    "gopher_repetition_filter", # A1.2 dup-n-gram char fractions (one Arrow pass)
    "dialect_parity_sweep10",   # arithmetic/round-bucket/float-class renames
    "span_corruption_docs",     # hash-driven denoising span walk (one Arrow pass)
    "fuzzy_name_pairs",         # q-gram count-filtered edit-distance join
]
# ITERATIVE / build-time-collecting operators get their own timing mode:
# their work runs at plan-BUILD time (driver-looped rounds with eager
# checkpoints, or bounded build-time collects), so the warm/timed
# build-vs-execute split above would time an empty tail. E2E entries are
# timed as ONE wall-clock span from fn() invocation through the noop sink,
# so their numbers live in the canonical artifact (BENCH_DETAIL.json "e2e"
# key) and regress visibly instead of only in PLANS.md prose (r6 verdict
# item 5).
E2E = [
    "bpe_learn_merges",             # vocabulary-collapse merge loop
    "graph_pagerank_transactions",  # integer fixed-point power iteration
    "graph_trustrank_suppliers",    # seeded power iteration
    "graph_label_propagation",      # iterative LPA rounds
    "kmeans_embedding_clusters",    # fixed-point Lloyd's rounds
    "pca_embedding_knn",            # build-time exact moment collect
    "mixture_temperature_sample",   # build-time |domains| count collect
    "drift_psi_event_values",       # build-time reference min/max collect
    "streaming_drift_psi",          # availableNow drain at build time
    "streaming_quantile_sketch",    # two availableNow drains at build time
    "ingest_orc_roundtrip",         # ORC write at build time
    "sq8_quant_knn",                # build-time calibration collect (2d scalars)
    "streaming_heavy_hitter_tokens",  # two availableNow drains at build time
    "zorder_events_zvalues",        # build-time [lo,hi] collect (2 scalars)
    "streaming_zscore_anomaly",     # two availableNow drains at build time
    "store_cdc_changes",            # four store versions written at build time
    "streaming_trend_ols",          # two availableNow drains at build time
    "streaming_hll_distinct",       # two availableNow drains at build time
    "hilbert_events_hvalues",       # build-time [lo,hi] collect (2 scalars)
    "streaming_scd2_history",       # two availableNow drains at build time
    # r9 additions (build-time collects / drains)
    "morton3d_events_zvalues",      # build-time [lo,hi] collect (2 scalars)
    "timeseries_gap_fill",          # build-time hour-bounds collect (2 scalars)
    "sq8_rerank_knn",               # build-time calibration collect + funnel
    "streaming_kmv_overlap",        # two availableNow drains at build time
    "token_budget_mixture",         # build-time sum-of-weights collect (1 scalar)
    # r10 additions (build-time collects / index builds)
    "ann_ivf_merge_search",         # KMeans build + merge rewrite at build time
    "bitext_margin_pairs",          # two side-index KMeans builds at build time
    # r11 additions (build-time collects)
    "unigram_vocab_docs",           # hard-EM rounds: Arrow Viterbi pass + bounded collect each
    "unigram_encode_stats",         # training collect + vocab-collapse encode pass
    "graph_hits_entities",          # 6 double half-rounds, max-quantizer normalization
    "graph_harmonic_hyperball",     # 4 register-lattice rounds + HLL estimates
    "kcenter_coreset_embeddings",   # k sequential Arrow argmax rounds
    # r12 moves (measurement fix, guide §1.4 — disclosed in
    # OPTIMIZATION_r12.md): the retrieval funnel's MMR page collect runs
    # at plan-BUILD time (operators/mmr.py::mmr_select), and the r12
    # one-pass fix checkpoints the ≤20-row page there too — after it the
    # steady-state warm/timed split times only the two final page joins.
    # Whole-invocation is the honest span for this shape; the old
    # steady-state numbers stay in BENCH_r11.json/BENCH_DETAIL history.
    "retrieval_funnel_docs",        # build-time page collect + checkpointed page
    "retrieval_funnel_x10",         # the same query over the 10x fixture (X10)
]

# Scale probes: each entry runs its registered query over the 10x fixture
# (x10_fixture), one order of magnitude above the headline runs, catching
# plans that only look fine at the 1x scale. Entries in E2E are timed
# whole-invocation, the rest steady-state.
X10 = {
    "q5_x10_star_join": "q5_region_revenue",
    "decontam_x10": "decontam_docs",
    "dedup_minhash_x10": "dedup_minhash_lsh",
    "dedup_jaccard_x10": "dedup_jaccard_exact",
    "bm25_x10": "bm25_text_search",
    "hybrid_rrf_x10": "hybrid_rrf_search",
    "dedup_substring_x10": "dedup_substring_spans",
    "knn_topk_x10": "knn_topk",
    "binary_quant_x10": "binary_quant_knn",
    "retrieval_funnel_x10": "retrieval_funnel_docs",
}

# Entries per fresh-JVM shard of the full suite (see main).
SHARD_SIZE = 10

# The ≤15 per-query entries repeated on stdout (full map goes to
# BENCH_DETAIL.json): one stable representative per load-bearing family,
# so the driver artifact tracks the suite headline without outgrowing its
# ~2,000-char capture window (the BENCH_r06 "parsed": null failure).
STDOUT_HEADLINE = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "knn_topk",
    "dedup_minhash_lsh",
    "dedup_jaccard_exact",
    "text_profile",
    "dialect_knn",
    "sessionize_events",
    "retrieval_funnel_docs",
    "pii_redaction",
    "decontam_docs",
    "funnel_view_click_purchase",
    "ann_ivf_pruned",
    "dedup_substring_x10_heldrate",
    "graph_pagerank_transactions",
]


def e2e_guard_firings(e2e: dict, prev_e2e: dict) -> list[str]:
    """Median-normalized e2e regression guard (r9 verdict item 3): this
    box's full-suite numbers swing ±15-30% UNIFORMLY run-to-run, and the
    driver box inflates e2e entries ~1.5-1.9x vs the idle-box artifact —
    a raw per-entry 1.5x line fired on ambient drift every driver run
    (r8 and r9 finals, every firing dissolving under isolated REPS=10).
    Each entry's ratio is divided by the run's MEDIAN e2e ratio first:
    uniform box drift cancels, only RELATIVE movement (one entry moving
    against its ~26 peers) can fire. An absolute 3x backstop catches the
    everything-regressed-together case the normalization would hide;
    with fewer than 5 shared entries the median is unreliable, so the
    raw ratio is used (med = 1). Returns the warning lines (empty =
    no firings) — unit-tested in tests/test_bench_meta.py."""
    ratios = {
        n: s / prev_e2e[n]
        for n, s in e2e.items()
        if prev_e2e.get(n) and prev_e2e[n] > 0 and s > 0
    }
    med = sorted(ratios.values())[len(ratios) // 2] if len(ratios) >= 5 else 1.0
    out = []
    for name, ratio in sorted(ratios.items()):
        rel = ratio / med
        if rel > 1.5 or rel < 1 / 1.5 or ratio > 3.0:
            out.append(
                f"bench: E2E REGRESSION GUARD: {name} "
                f"{prev_e2e[name]:.2f}s -> {e2e[name]:.2f}s ({ratio:.2f}x raw, "
                f"{rel:.2f}x vs run median {med:.2f}x)"
            )
    return out


def guard_context_lines(per_query: dict, shard_ctx: list) -> list[str]:
    """Ambient-vs-real evidence attached to every guard firing (r10
    verdict item 4): two rounds running, every driver-final firing was
    shard-composition warmth or box load, but the firing line alone
    could not show that — r11+ firings carry (a) the knn_topk sentinel
    time (idle-box ~0.08 s; a loaded box inflates it proportionally)
    and (b) each shard's median ratio vs the committed artifact (a
    shard whose WHOLE median is high ran in an ambient window; a flat
    shard median with one hot entry is a real mover). stderr only —
    the stdout line stays one-line."""
    sent = per_query.get("knn_topk")
    out = [
        "bench: guard context: knn_topk sentinel="
        + (f"{sent:.3f}s" if sent else "n/a")
        + " (idle-box ~0.08s; proportional inflation => ambient box load)"
    ]
    for label, med, e2e_names in shard_ctx:
        out.append(
            f"bench: guard context: shard[{label}] median-vs-committed="
            f"{med if med is not None else 'n/a'} e2e={e2e_names}"
        )
    return out


def x10_fixture(spark, sf_dir: str) -> str:
    """The key-disjoint 10x copy of ``sf_dir`` that tools/gen_sf10x.py
    writes, built once under /tmp. The path keys on the source fixture,
    the operator sources and the recipe's bytes; the first (untimed warm)
    invocation of an entry that reads it pays the build."""
    import hashlib

    from chatdata_spark.catalog import shared_cache_path
    from tools import gen_sf10x

    with open(gen_sf10x.__file__, "rb") as f:
        recipe = hashlib.md5(f.read()).hexdigest()[:8]
    path = shared_cache_path("sf10x", sf_dir, recipe, source="documents.parquet")
    if not os.path.isdir(path):
        gen_sf10x.build(spark, sf_dir, path)
    return path


def bench_ann_ivf_pruned(spark, sf_dir):
    """Raw partition-pruned IVF search (n_probe=4 of 8) — the registered
    `ann_ivf_pruned` query now wraps the search in its soundness oracle
    (full-scan semi-join), so the bench times the pruned scan itself here."""
    from chatdata_spark.queries.vector import Q2, _ivf_index

    idx = _ivf_index(spark, sf_dir)
    return idx.search(Q2, k=15, n_probe=4, select=["vec_id", "label"])


def bench_embedding_dedup_x10(spark, sf_dir):
    """Embedding near-dup over the 10x fixture with cluster count scaled
    ~sqrt(N) (8 → 80) — the documented IVF posture. The fixture's
    sign-flipped replicas keep every intra-replica cosine exactly while
    scrambling cross-replica similarity — the embedding analog of the
    word perturbation. Measured r4: 1.7x wall-clock for 10x rows (and 37x
    the emitted pairs) at n_probe=1 — the per-cluster GEMM stays
    sub-linear per pair when clusters scale."""
    from chatdata_spark.catalog import shared_cache_path
    from chatdata_spark.operators.dedup import embedding_near_dup_clustered
    from chatdata_spark.operators.ivf import build_or_load_ivf

    x10 = x10_fixture(spark, sf_dir)
    emb = spark.read.parquet(f"{x10}/embeddings.parquet").select("vec_id", "embedding")
    idx = build_or_load_ivf(
        spark, emb, shared_cache_path("ivf", x10, "k80"), "vec_id", "embedding", 80
    )
    return embedding_near_dup_clustered(idx, threshold=0.4, n_probe=1)


# NOTE: no dedup_simhash_x10 entry, deliberately. Measured once (r4): the
# perturbed 10x corpus inflates simhash's TRUE hamming<=3 pair count 33x
# (98k -> 3.3M — the synthetic docs are vocabulary-correlated, and simhash
# similarity tracks vocabulary overlap, not shingle identity like
# minhash/jaccard), and the run takes ~78 s — 7x the 1x time for 33x the
# output, i.e. sub-linear per pair but output-bound. Keeping it out
# preserves the suite as a fast feedback loop; to re-probe after an
# operator change, run dedup_simhash over the tools/gen_sf10x.py fixture
# (the README's sf1 probe line). (The measurement also motivated moving the
# hamming verify BEFORE the distinct in operators/dedup.py:simhash_pairs.)


def bench_substring_x10_heldrate(spark, sf_dir):
    """10x rows at HELD duplicated-position volume (r5 verdict item 2 —
    the counterfactual dedup_substring_x10 lacked): replica 0 is the
    original corpus verbatim; replicas 1-9 suffix EVERY token with a
    globally-unique digit id (rep/doc/position encoded), so after
    tokenization every one of their n-grams contains a corpus-unique
    token and can never reach min_count — they add ~18x input tokens
    (suffix ids tokenize as separate digit tokens, same 2x inflation as
    the '#<rep>' perturbation in dedup_substring_x10) but EXACTLY ZERO
    new duplicated positions. Output stays 1x-sized while input scales
    like the x10 entry, so (x10 - heldrate) isolates the output-volume
    cost and (heldrate / 1x) isolates per-token scan+shuffle+count
    scaling."""
    import pyspark.sql.functions as F

    from chatdata_spark.operators.substrdedup import duplicated_ngram_spans

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    rep = F.explode(F.array(*[F.lit(i) for i in range(10)])).alias("__rep")
    base = d.select("*", rep)
    uid_base = (F.col("__rep").cast("long") * F.lit(10**7) + F.col("doc_id")) * F.lit(10**5)
    unique_text = F.concat_ws(
        " ",
        F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda w, i: F.concat(w, F.lit("#"), (uid_base + i).cast("string")),
        ),
    )
    d10 = base.select(
        (F.col("doc_id") + F.col("__rep").cast("long") * F.lit(2**33)).alias("doc_id"),
        F.when(F.col("__rep") == 0, F.col("text")).otherwise(unique_text).alias("text"),
    )
    return duplicated_ngram_spans(d10, "doc_id", "text", n=10, min_count=2)


def bench_profile_approx(spark, sf_dir):
    """Table profiling in its 100 TB configuration: approx distinct counts
    fold into plain partial aggregation (no Expand row-multiply) — the
    registered exact-mode query keeps the oracle; this entry times the
    scale path."""
    from chatdata_spark.operators.profile import profile_table

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return profile_table(
        o,
        ["o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice"],
        distinct="approx",
    )


def bench_knn_join_pruned(spark, sf_dir):
    """Raw pruned batch kNN join (n_probe=2 of 8) — the registered
    `knn_join_pruned` query now wraps the join in its soundness oracle
    (full-probe comparison), so the bench times the pruned join itself."""
    import pyspark.sql.functions as F

    from chatdata_spark.operators.knnjoin import knn_join
    from chatdata_spark.queries.vector import _ivf_index

    idx = _ivf_index(spark, sf_dir)
    queries_df = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 10 == 0)
    )
    return knn_join(queries_df, idx, "vec_id", "embedding", k=5, n_probe=2)


def bench_ann_pq_adc(spark, sf_dir):
    """Raw PQ/ADC compressed scan + exact rerank — the registered
    `ann_pq_adc` query now wraps the search in its soundness oracle, so
    the bench times the codes-only scan itself."""
    from chatdata_spark.queries.vector import Q1, _pq_index

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _pq_index(spark, sf_dir).search(e, Q1, k=10, refine=4, select=["vec_id", "label"])


def bench_ann_opq_adc(spark, sf_dir):
    """Raw OPQ/ADC compressed scan + exact rerank — identical scan shape
    to bench_ann_pq_adc (the rotation is baked into the stored codes and
    the driver-side query table), so any delta vs ann_pq_adc is noise,
    not the rotation; the bench pins that the rotated path keeps the
    codes-only scan cost."""
    from chatdata_spark.queries.vector import Q1, _pq_index

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = _pq_index(spark, sf_dir, opq_iters=6)
    return idx.search(e, Q1, k=10, refine=4, select=["vec_id", "label"])


def bench_ann_ivfpq_residual_search(spark, sf_dir):
    """Raw residual+OPQ IVF-PQ routed search — same partition-pruned
    scan as bench_ann_ivfpq_search; the per-probed-cluster ADC tables
    are driver-side constants, so any delta vs the plain entry is the
    (B, m, 256) gather vs the (m, 256) lookup inside the Arrow pass."""
    from chatdata_spark.queries.vector import Q2, _ivfpq_index

    idx = _ivfpq_index(spark, sf_dir, residual=True, opq_iters=6)
    return idx.search(Q2, k=15, n_probe=4, refine=4, select=["vec_id"])


def bench_ann_ivfpq_search(spark, sf_dir):
    """Raw IVF-PQ routed compressed search (n_probe=4 of 8, ADC over the
    probed clusters' code partitions only, exact rerank of the top k·4) —
    the registered `ann_ivfpq_search` query wraps this in its soundness
    oracle (full-scan kNN semi-join), so the bench times the routed
    compressed funnel itself. Compare against `ann_ivf_pruned` (same
    routing, raw-vector scan) and `ann_pq_adc` (same compression, no
    routing): IVF-PQ should sit at or below both."""
    from chatdata_spark.queries.vector import Q2, _ivfpq_index

    idx = _ivfpq_index(spark, sf_dir)
    return idx.search(Q2, k=15, n_probe=4, refine=4, select=["vec_id", "label"])


def _hot_user_events(spark, sf_dir):
    """The adversarial-skew fixture the four hot-key entries share: events
    with half of all rows (even event_id) remapped to ONE user (user 0)."""
    import pyspark.sql.functions as F

    from chatdata_spark.catalog import load_events

    return load_events(spark, sf_dir).withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    )


def bench_sessionize_hotkey(spark, sf_dir):
    """Sessionization under adversarial skew: half of all events remapped to
    ONE user. The plain per-user window would serialize that user onto a
    single task; slice_width='auto' spreads it over span/(4 x parallelism)
    time slices with an exact boundary merge. Compare against
    `sessionize_events` (uniform keys, unsliced) — this entry staying within
    a small factor of it IS the escape-hatch proof at bench scale."""
    import pyspark.sql.functions as F

    from chatdata_spark.operators.timeseries import sessionize

    e = _hot_user_events(spark, sf_dir)
    s = sessionize(e, "user_id", "ts", gap_minutes=30.0, order_tiebreak="event_id",
                   slice_width="auto")
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _fact_join_inputs(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "orderkey"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumnRenamed(
        "o_orderkey", "orderkey"
    )
    return li.select("orderkey", "l_extendedprice"), o.select("orderkey", "o_orderpriority")


def bench_fact_join_shuffle(spark, sf_dir):
    """Fact-to-fact lineitem⋈orders as a sort-merge join over plain
    parquet (merge hint models the at-scale case where neither side
    broadcasts): BOTH sides shuffle on the key, every query, forever."""
    import pyspark.sql.functions as F

    li, o = _fact_join_inputs(spark, sf_dir)
    return (
        li.hint("merge").join(o.hint("merge"), "orderkey")
        .groupBy("o_orderpriority")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )


def bench_fact_join_bucketed(spark, sf_dir):
    """The same join over tables bucketed on the key at write time
    (operators/bucketing.py — the one-time shuffle, paid at ingest):
    the per-query plan has ZERO exchanges on the join
    (tests/test_bucketing.py pins it). The delta vs
    `fact_join_shuffle` is the recurring cost bucketing amortizes away —
    at 100 TB the single most expensive stage of a repeated fact join."""
    import pyspark.sql.functions as F

    from chatdata_spark.operators.bucketing import bucketed_join, write_bucketed

    safe = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    lt, ot = f"bench_bkt_li_{safe}", f"bench_bkt_o_{safe}"
    li, o = _fact_join_inputs(spark, sf_dir)

    def ensure(name, df):
        # catalog metadata dies with the session but the warehouse dir
        # survives — a fresh session must clear the stale location before
        # re-creating the managed bucketed table (one-time, outside timing)
        if spark.catalog.tableExists(name):
            return
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(wh, name.lower())
        if os.path.exists(loc):
            shutil.rmtree(loc)
        write_bucketed(df, name, ["orderkey"], 32)

    ensure(lt, li)
    ensure(ot, o)
    return (
        spark.table(lt).hint("merge").join(spark.table(ot).hint("merge"), "orderkey")
        .groupBy("o_orderpriority")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )


def bench_quantile_sketch_x10(spark, sf_dir):
    """Bottom-256-by-hash quantile sketch over the 10x fixture's orders
    (~1.5M rows at sf0.1): the sample stays k-bounded per group, so cost
    must track the SCAN (hash + window input), not the output — compare
    with `quantile_sketch_totalprice` (1x). The replicated keys stay
    unique (disjoint per replica), preserving the sample-identity
    contract."""
    from chatdata_spark.operators.quantsketch import quantile_sketch

    o10 = spark.read.parquet(f"{x10_fixture(spark, sf_dir)}/orders.parquet").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    # the documented scale path: scan-stage prefilter sized >=4k/n_min
    # (n/group ~300k here; 0.02*2^32 keeps ~6k/group, 23x the k=256 the
    # window must retain — Chernoff-safe) cuts the window shuffle ~50x
    return quantile_sketch(
        o10, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=256,
        salt="qsk", prefilter_buckets=int(0.02 * (1 << 32)),
    ).orderBy("o_orderpriority")


def bench_asof_hotkey_sliced(spark, sf_dir):
    """As-of join under adversarial skew (half of all events remapped to
    ONE user), using slice_width='auto' — the hot user's history spreads
    over (user, time-slice) windows instead of serializing on one task.
    Staying within a small factor of `asof_join_purchase_click` is the
    escape-hatch proof at bench scale (the sliced≡unsliced oracle is
    `asof_join_purchase_click_sliced`)."""
    import pyspark.sql.functions as F

    from chatdata_spark.operators.timeseries import asof_join

    e = _hot_user_events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id", "value")
    return asof_join(
        purchases, clicks, on="user_id", ts_col="ts",
        payload_cols=["event_id", "value"], tie_break="event_id",
        slice_width="auto",
    )


def bench_range_join_hotkey(spark, sf_dir):
    """Interval join under the same one-hot-user skew: the bucketized
    equi-join keys on (user, time-bucket), so even a user owning half the
    events spreads across its time buckets — no slicing knob needed, the
    bucket IS the slice. NB when comparing against
    `range_join_click_window`: this skew inflates the TRUE match count
    ~150x at sf0.1 (one user on both sides of a window join is
    inherently quadratic — 21.7k → 3.27M pairs), so wall-clock growing
    only ~4x means per-pair throughput IMPROVES ~37x under skew; the
    plan is sub-linear in its output, which is the scale claim."""
    import pyspark.sql.functions as F

    from chatdata_spark.operators.timeseries import range_join_left

    e = _hot_user_events(spark, sf_dir)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.unix_timestamp("ts").alias("p_ts"))
        .withColumn("lo", F.col("p_ts") - 86400)
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_timestamp("ts").alias("c_ts"), "value"
    )
    joined = range_join_left(
        purchases, clicks, left_id="event_id", lo_col="lo", hi_col="p_ts",
        right_val_col="c_ts", equi_keys=["user_id"], bucket_width=86400.0,
    )
    return joined.groupBy("event_id").agg(
        F.count("c_ts").alias("n_clicks"),
        F.sum(F.col("value").cast("decimal(27,6)")).alias("click_value"),
    )


def bench_range_join_hotkey_bounded(spark, sf_dir):
    """The bounded variant on the SAME one-hot-user fixture as
    range_join_hotkey: max_matches_per_left=3 caps each purchase at its 3
    most-recent window clicks, so the hot user's inherently-quadratic true
    match set (3.27M pairs at sf0.1) shrinks to ≤3 per purchase BEFORE the
    aggregate — the scale-safe product answer to hot-key output growth.
    Target: wall-clock near the unskewed range_join_click_window (the
    remaining gap is the two top-N windows over the joined-then-pruned
    pairs; the per-(left,bucket) stage keeps the hot key spread)."""
    import pyspark.sql.functions as F

    from chatdata_spark.operators.timeseries import range_join_left

    e = _hot_user_events(spark, sf_dir)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.unix_timestamp("ts").alias("p_ts"))
        .withColumn("lo", F.col("p_ts") - 86400)
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_timestamp("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"), "value",
    )
    joined = range_join_left(
        purchases, clicks, left_id="event_id", lo_col="lo", hi_col="p_ts",
        right_val_col="c_ts", equi_keys=["user_id"], bucket_width=86400.0,
        max_matches_per_left=3, right_tiebreak="click_id", keep="last",
    )
    return joined.groupBy("event_id").agg(
        F.count("c_ts").alias("n_clicks"),
        F.sum(F.col("value").cast("decimal(27,6)")).alias("click_value"),
    )


def _inc_store(spark, sf_dir, reps: int):
    """Idempotent one-time store build (like the IVF index): corpus =
    originals (+ the 10x fixture's perturbed replicas 1-9 for reps=10 —
    extra stored volume that shares no shingles with the batch), so the 1x
    and 10x stores relate to the probe batch IDENTICALLY and the only
    variable is corpus size."""
    from chatdata_spark.operators.incdedup import IncrementalMinHashStore

    from chatdata_spark.catalog import shared_cache_path

    store = IncrementalMinHashStore(
        spark, shared_cache_path("incstore", sf_dir, f"{reps}x", source="documents.parquet")
    )
    if not store.batches():
        import pyspark.sql.functions as F

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        if reps > 1:
            extra = (
                spark.read.parquet(f"{x10_fixture(spark, sf_dir)}/documents.parquet")
                .select("doc_id", "text")
                .filter(F.col("doc_id") >= 2**33)  # replicas 1..9; rep 0 stays original
            )
            d = d.unionByName(extra)
        store.add_batch(d, "doc_id").write.format("noop").mode("overwrite").save()
    return store


def _bench_dedup_incremental(reps: int):
    """Time ONLY a new small batch's near-dup pass against a stored corpus
    (stage_batch: never committed, so every rep sees identical state).
    The operator's core claim (operators/incdedup.py): per-batch cost is
    O(batch + matching buckets), never O(corpus) — the 10x entry staying
    close to the 1x entry IS that claim at bench scale. The batch is the
    originals' every-10th doc under fresh ids: a re-crawl shape where each
    batch doc near-dups its corpus twin."""

    def fn(spark, sf_dir):
        import pyspark.sql.functions as F

        store = _inc_store(spark, sf_dir, reps)
        batch = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + F.lit(2**40)).alias("doc_id"), "text")
        )
        _, pairs = store.stage_batch(batch, "doc_id")
        return pairs

    return fn


_SQ8_CAL: dict[str, tuple] = {}


def bench_sq8_knn_frozen(spark, sf_dir):
    """Frozen-calibration SQ8 search — the production posture (grid
    calibrated once at index build, `calibration=` param). The E2E
    `sq8_quant_knn` entry keeps the build+scan shape; this steady-state
    entry isolates the scan so the build-time calibration collect's
    JIT/GC noise (r8 guard firing: 2.14→3.58 s driver-run vs 2.04 s
    isolated REPS=10 confirm) stops polluting the family's signal."""
    from chatdata_spark.operators.sq8 import sq8_calibrate, sq8_knn
    from chatdata_spark.queries.vector import DIM, Q1

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cal = _SQ8_CAL.get(sf_dir)
    if cal is None:
        cal = _SQ8_CAL[sf_dir] = sq8_calibrate(emb, "embedding", DIM)
    return sq8_knn(emb, "embedding", Q1, dim=DIM, k=12, id_col="vec_id",
                   select=["vec_id", "label"], calibration=cal)


def bench_containment_x10(spark, sf_dir):
    """containment_join over the 10x fixture's word-perturbed documents
    (the honest dedup scale-up shape — per-replica shingle structure
    preserved EXACTLY, and containment is a shingle-identity measure, so
    unlike simhash the true pair count scales linearly). Same
    count-from-the-index plan as dedup_jaccard_exact; super-linear time
    here means the stop-set split stopped bounding the bucket expansion."""
    from chatdata_spark.operators.dedup import containment_join

    d10 = spark.read.parquet(f"{x10_fixture(spark, sf_dir)}/documents.parquet")
    return containment_join(d10.select("doc_id", "text"), "doc_id", "text", k=3, threshold=0.8)


EXTRA = {
    "sq8_knn_frozen": bench_sq8_knn_frozen,
    "dedup_containment_x10": bench_containment_x10,
    "ann_ivf_pruned": bench_ann_ivf_pruned,
    "knn_join_pruned": bench_knn_join_pruned,
    "ann_pq_adc": bench_ann_pq_adc,
    "ann_opq_adc": bench_ann_opq_adc,
    "ann_ivfpq_search": bench_ann_ivfpq_search,
    "ann_ivfpq_residual_search": bench_ann_ivfpq_residual_search,
    "fact_join_shuffle": bench_fact_join_shuffle,
    "fact_join_bucketed": bench_fact_join_bucketed,
    "quantile_sketch_x10": bench_quantile_sketch_x10,
    "asof_join_hotkey_sliced": bench_asof_hotkey_sliced,
    "range_join_hotkey": bench_range_join_hotkey,
    "range_join_hotkey_bounded": bench_range_join_hotkey_bounded,
    "dedup_incremental_batch_1x": _bench_dedup_incremental(1),
    "dedup_incremental_batch_x10": _bench_dedup_incremental(10),
    "dedup_embedding_x10": bench_embedding_dedup_x10,
    "dedup_substring_x10_heldrate": bench_substring_x10_heldrate,
    "profile_orders_approx": bench_profile_approx,
    "sessionize_hotkey_sliced": bench_sessionize_hotkey,
}


def _isolate(spark) -> None:
    """Per-entry isolation: drop persisted tables and nudge a full GC so
    later entries aren't taxed by earlier entries' cache residency (the
    uniform r01→r02 drift)."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def _run_shard(
    spark, sf_dir: str, names: list[str], reps: int
) -> tuple[dict[str, float], dict[str, float]]:
    """Time one shard's entries in THIS process. Steady-state entries get
    warm pass + min-of-reps execute-only timing; E2E entries get
    whole-invocation wall-clock (build+execute), min over reps after
    one untimed warm invocation. Entries run in suite order; a registered
    query outside HEADLINE/EXTRA/X10/E2E is timed as a steady-state entry
    after the suite's own (the sf1 probe path). JVM/codegen warmup and
    the IVF index build run first, outside timing; the warm invocations
    build the 10x fixture and its indexes."""
    qs = queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    bench_ann_ivf_pruned(spark, sf_dir).count()

    def entry(name):
        if name in X10:
            q = qs[X10[name]]
            return lambda spark, sf_dir: q(spark, x10_fixture(spark, sf_dir))
        return EXTRA.get(name) or qs[name]

    keep = set(names)
    suite = {*HEADLINE, *EXTRA, *X10, *E2E}
    steady = HEADLINE + list(EXTRA) + [n for n in X10 if n not in E2E]
    steady += [n for n in names if n not in suite and n in qs]
    per_query: dict[str, float] = {}
    for name in [n for n in steady if n in keep]:
        fn = entry(name)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        # min over `reps` timed passes: robust to ambient machine load and GC
        # pauses (the r02 drift — see PLANS.md "bench drift"), which only ever
        # ADD time to a steady-state measurement, never subtract.
        best = float("inf")
        for _ in range(reps):
            df = fn(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        per_query[name] = round(best, 3)
        print(f"bench: {name} {best:.3f}s", file=sys.stderr)
        # AFTER the timed passes, so each entry still measures its own
        # steady state (warm pass builds/persists, timed passes reuse)
        _isolate(spark)
    e2e: dict[str, float] = {}
    for name in [n for n in E2E if n in keep]:
        fn = entry(name)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        # same min-of-reps as the steady-state entries: min-of-2 left the
        # whole-invocation entries exposed to single-GC-pause outliers
        # (four ambient guard firings in r8, all dissolving under REPS=10)
        best = float("inf")
        for _ in range(reps):
            _isolate(spark)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        e2e[name] = round(best, 3)
        print(f"bench: {name} {best:.3f}s (e2e)", file=sys.stderr)
        _isolate(spark)
    return per_query, e2e


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") == "1":
        # shard subprocess: time the named entries in a FRESH JVM and print
        # the partial result as one JSON line (captured by the orchestrator)
        spark = get_spark(app_name="chatdata_spark_bench_shard")
        spark.sparkContext.setLogLevel("ERROR")
        per_query, e2e = _run_shard(spark, sf_dir, (only or "").split(","), reps)
        print(json.dumps({"queries": per_query, "e2e": e2e}))
        spark.stop()
        return

    all_names = HEADLINE + list(EXTRA) + [n for n in X10 if n not in E2E] + E2E
    if only:
        wanted = [s.strip() for s in only.split(",")]
        unknown = [n for n in wanted if n not in all_names and n not in queries()]
        if unknown:
            print(f"bench: unknown entries skipped: {unknown}", file=sys.stderr)
        all_names = [n for n in wanted if n not in unknown]

    # Guard baseline = the COMMITTED artifact (r11 verdict item 8): the
    # driver's post-close lower-core-count bench run overwrites the
    # working-tree BENCH_DETAIL.json every round, so reading the file
    # compared the next run against whatever the last driver run left
    # behind (8-core numbers in r10/r11). git-show pins the baseline to
    # the deliberately committed artifact; the working-tree file is the
    # fallback when git is unavailable (a copied tree).
    _prev_detail = {}
    try:
        import subprocess

        _git = subprocess.run(
            ["git", "-C", REPO, "show", "HEAD:BENCH_DETAIL.json"],
            capture_output=True, text=True, timeout=10,
        )
        if _git.returncode == 0 and _git.stdout.strip():
            _prev_detail = json.loads(_git.stdout)
    except (OSError, subprocess.SubprocessError, json.JSONDecodeError):
        _prev_detail = {}
    if not _prev_detail:
        try:
            with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
                _prev_detail = json.load(f)
        except (OSError, json.JSONDecodeError):
            _prev_detail = {}
    prev_e2e = _prev_detail.get("e2e", {})
    prev_all = {**_prev_detail.get("queries", {}), **prev_e2e}

    per_query: dict[str, float] = {}
    e2e: dict[str, float] = {}
    shard_ctx: list = []  # (label, median ratio vs committed, e2e names)
    if only or len(all_names) <= SHARD_SIZE:
        # in-process (iteration loop / tiny suites): one JVM, no sharding
        spark = get_spark(app_name="chatdata_spark_bench")
        spark.sparkContext.setLogLevel("ERROR")
        per_query, e2e = _run_shard(spark, sf_dir, all_names, reps)
        spark.stop()
    else:
        # Fresh-JVM sharding (r6 verdict item 2): at 90+ entries one JVM's
        # late-suite GC/cache pressure inflated mid/late timings 2-3x over
        # isolated runs. Each shard of ≤SHARD_SIZE entries runs in its own
        # subprocess JVM, so every entry measures within a short-lived,
        # freshly-warmed session — the isolated-min-of-3 methodology, paid
        # for with ~15 s JVM startup per shard.
        import subprocess

        shards = [
            all_names[i : i + SHARD_SIZE] for i in range(0, len(all_names), SHARD_SIZE)
        ]
        failed_shards = []
        for shard in shards:
            env = dict(os.environ)
            env["SPARK_GRAFT_BENCH_CHILD"] = "1"
            env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(shard)
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env,
                stdout=subprocess.PIPE,
                stderr=sys.stderr,
                text=True,
            )
            try:
                if proc.returncode != 0:
                    raise ValueError(f"shard exit {proc.returncode}")
                part = json.loads(proc.stdout.strip().splitlines()[-1])
            except (ValueError, IndexError, json.JSONDecodeError) as exc:
                # one bad shard must not zero out the whole artifact —
                # record the gap loudly (stderr) and keep the rest
                print(f"bench shard FAILED ({shard}): {exc}", file=sys.stderr)
                failed_shards.append(shard)
                continue
            per_query.update(part["queries"])
            e2e.update(part["e2e"])
            cur = {**part["queries"], **part["e2e"]}
            rs = sorted(
                cur[n] / prev_all[n]
                for n in cur
                if prev_all.get(n, 0) > 0 and cur[n] > 0
            )
            shard_ctx.append(
                (
                    f"{shard[0]}+{len(shard) - 1}",
                    round(rs[len(rs) // 2], 2) if rs else None,
                    sorted(part["e2e"]),
                )
            )
        if failed_shards:
            print(f"bench: {len(failed_shards)} shard(s) missing from artifact", file=sys.stderr)

    total = round(sum(per_query.values()), 3)
    detail = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "reps": reps,
        "e2e_reps": reps,
        "shard_size": SHARD_SIZE,
        # provenance tag (r11 verdict item 8): identifies a stray
        # lower-core-count driver overwrite at a glance
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "queries": per_query,
        "e2e": e2e,
    }
    if not only:
        # e2e regression guard (r7 verdict item 7): the iterative-operator
        # e2e entries (pagerank ~9.5 s etc.) live only in BENCH_DETAIL.json,
        # so nothing diffed them round-over-round. Compare against the
        # committed artifact BEFORE overwriting it and warn loudly (stderr;
        # the stdout JSON line stays one-line) when an entry moves >1.5x in
        # either direction. PLANS.md cites this check.
        firings = e2e_guard_firings(e2e, prev_e2e)
        if firings:
            for line in guard_context_lines(per_query, shard_ctx):
                print(line, file=sys.stderr)
        for line in firings:
            print(line, file=sys.stderr)
        # ONLY= iteration runs must not clobber the canonical full-suite
        # artifact with a partial map
        with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    # Compact driver line (r6 verdict item 1): the full 90+-entry map blew
    # past the driver's ~2,000-char stdout capture ("parsed": null). Keep
    # the line bounded: suite total + a stable ≤15-entry headline subset,
    # 2-decimal rounding, no separators whitespace; BENCH_DETAIL.json
    # carries the full map.
    headline = {
        n: round(per_query.get(n, e2e.get(n, -1.0)), 2)
        for n in STDOUT_HEADLINE
        if n in per_query or n in e2e
    }
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": round(total, 2),
                "unit": "sec",
                "sf": sf,
                "n_queries": len(per_query) + len(e2e),
                "detail": "BENCH_DETAIL.json",
                "queries": headline,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
