"""Driver-contract budget: the driver's correctness harness checks exactly
the first 50 names queries() yields, so the window composition is itself a
contract — pin it here so an innocent import reorder can't silently evict
a flagship operator from driver verification (round-1 failure mode)."""

from __future__ import annotations

from chatdata_spark.registry import DRIVER_WINDOW, oracle_sql, queries

DRIVER_CAP = 50

MUST_BE_DRIVER_CHECKED = {
    # Flagships that have NOT yet banked two green driver rounds, plus one
    # kept sentinel per core family. r12 executes the r11 verdict's plan
    # (item 2): the never-checked tail addition checks first, then the
    # r11-REWRITTEN cores re-verify ahead of backlog second-greens (their
    # implementations changed while rotated out of the r11 window), then
    # second greens for the 15 r11 first-timers.
    # first driver check — the only never-checked name
    "fuzzy_name_pairs",
    # kept sentinels
    "knn_topk", "dialect_knn", "dedup_minhash_lsh", "text_profile",
    # r11-rewritten cores (verdict item 2)
    "graph_pagerank_transactions", "graph_trustrank_suppliers",
    "kmeans_embedding_clusters", "sq8_rerank_knn",
    "dedup_substring_spans", "dedup_substring_removal",
    "lm_perplexity_buckets", "curation_pipeline_docs",
    "retrieval_funnel_docs",
    # second greens for the 15 r11 first-timers
    "semantic_chunk_spans",
    "dedup_minhash_autoband", "ann_opq_adc", "semantic_chunk_sentences",
    "dialect_parity_sweep9", "ann_ivfpq_residual_search",
    "pack_best_fit_docs", "unigram_vocab_docs", "gopher_repetition_filter",
    "unigram_encode_stats", "graph_hits_entities",
    "graph_harmonic_hyperball", "kcenter_coreset_embeddings",
    "dialect_parity_sweep10", "span_corruption_docs",
}


def test_window_is_exactly_the_first_cap_names():
    names = list(queries())
    assert len(DRIVER_WINDOW) == DRIVER_CAP
    assert len(set(DRIVER_WINDOW)) == DRIVER_CAP, "duplicate window entries"
    assert names[:DRIVER_CAP] == list(DRIVER_WINDOW)


def test_flagships_inside_window():
    assert MUST_BE_DRIVER_CHECKED <= set(DRIVER_WINDOW)


def test_window_queries_are_oracle_backed():
    # rows-only entries waste a driver-verified slot; every windowed query
    # must carry a DuckDB oracle (the strongest check the driver runs).
    oracles = oracle_sql()
    missing = [n for n in DRIVER_WINDOW if n not in oracles]
    assert not missing, f"window queries without oracle: {missing}"


def test_tail_is_deliberate():
    # everything past the cap is either redundant-with-windowed coverage or
    # rows-only by design; keep the total bounded so the registry stays
    # auditable (VERDICT r01 item 10). Raised 168→178 in r6 for the round's
    # ten additions (attribution, DSIR, SemDeDup, BPE pair, LM buckets,
    # curation v2, Gopher rules, NB classifier, winnowing pairs), then
    # 178→180 for the late-r6 decontam_embedding + tfidf_top_terms, then
    # 180→187 for graph_pagerank_transactions + cms_user_frequency +
    # pmi_phrase_mining + streaming_cms_user_frequency +
    # decontam_docs_bloom + graph_trustrank_suppliers +
    # graph_random_walks + graph_skipgram_pairs, then 188→190 for
    # dedup_jaccard_prefix (PPJoin prefix filtering) + ann_ivfpq_search
    # (IVF-PQ composed index), then 190→194 for kmeans_embedding_clusters
    # (fixed-point Lloyd's) + dedup_chunk_boilerplate (document-frequency
    # boilerplate removal) + cluster_balanced_sample (per-cluster quota
    # diversity sampling) + source_overlap_kmv (KMV overlap matrix) +
    # ingest_csv_typed (CSV typed parse + quarantine), then 195→212 for
    # sequence_match/sequence_count (ClickHouse event-pattern parity) +
    # anomaly_mad_event_values (median/MAD outlier monitor) +
    # pca_embedding_knn (exact-moment distributed PCA) +
    # mixture_temperature_sample (n^alpha rebalancing) +
    # graph_label_propagation (LPA communities) +
    # drift_psi_event_values (PSI drift monitor: batch, streaming, categorical) +
    # ingest_orc_roundtrip (ORC source/sink) +
    # corpus_health_report (monitors composed) +
    # funnel_tight_window (per-step-gap windowFunnel mode) +
    # text_ngram_diversity (corpus repetitiveness report) +
    # heavy_hitter_parts_weighted (exact topKWeighted) +
    # text_zipf_slope (power-law corpus card) +
    # dialect_argmax_argmin (argMax/argMin parity) +
    # dialect_uniq_upto (capped exact distinct) — a new addition
    # raises this deliberately, in the same commit that registers the
    # query. 212→213 in r7 for store_kb_tool_lifecycle (J1/P10/M2/M3
    # private-KB tool lifecycle composed, VALUES end-state oracle), then
    # 213→214 for quantile_sketch_totalprice (deterministic mergeable
    # bottom-k-by-hash quantile sketch, exact-replay oracle), then
    # 214→215 for streaming_quantile_sketch (the incremental twin —
    # idempotent lattice merge, batch-parity oracle), then 215→216 for
    # sq8_quant_knn (codebook-free 8-bit scalar quantization, all-integer
    # symmetric distance, exact-replay oracle), then 216→217 for
    # dialect_retention (CH retention() aggregate, day-over-day form),
    # then 217→218 for dialect_parity_datetime_bits (§2.9 sweep #4:
    # datetime/bit/pad/match/splitByString renames), then 218→219 for
    # drift_ks_event_values (binning-free two-sample KS drift over
    # deterministic samples, integer-exact oracle), then 219→220 for
    # streaming_heavy_hitter_tokens (incremental Misra-Gries merge,
    # exact-recount batch-parity oracle), then 220→221 for
    # zorder_events_zvalues (Morton z-order clustering key — landed past
    # the cap; r8 windows it first), then 221→222 for
    # streaming_heavy_hitter_revenue (weighted streaming MG, topKWeighted
    # posture — also past the cap, r8-windowed). 222→223 in r8 for
    # drift_ks_by_source (per-group two-sample KS — "which source
    # drifted?", the r7 verdict's windowed-CDF generalization), then
    # 223→224 for store_kb_scoped_knn (the private-KB vector leg:
    # J1+P10 composed with V3, lazy float-fold-replay oracle). 224→230
    # in r8 for anomaly_zscore_event_values (exact-integer-moment
    # 3-sigma monitor with the all-integer boundary predicate) +
    # streaming_zscore_anomaly (its incremental twin: additive
    # 3-integer state, batch-parity oracle) + hll_distinct_deterministic
    # (deterministic HyperLogLog — register state via MIN-tail collapse,
    # rho via bin()-length, exact cross-engine estimate replay) +
    # trend_ols_event_values (exact closed-form per-group OLS slope —
    # the direction-and-rate drift monitor) + drift_embedding_centroid
    # (embedding-space drift: cosine of exact integer centroid-sum
    # vectors — scale-invariance cancels the 1/n divisions) +
    # store_cdc_changes (time travel + change data feed driver-visible).
    # 230→233 in r8 wave 2 for streaming_trend_ols (additive 5-number OLS
    # state, batch-parity oracle) + corpus_shuffle_interleaved
    # (deterministic source-interleaved training order as a sort key) +
    # heavy_hitter_tokens_by_lang (grouped MG via composite keys — one
    # summary covers every group, exact recount, per-lang rank), then
    # 233→234 for streaming_hll_distinct (register MIN-lattice merge —
    # idempotent, no replay guard; bit-identical to the batch estimate).
    # 234→235 for hilbert_events_hvalues (Hilbert space-filling-curve
    # clustering key — unit-step locality upgrade over Morton, 16-round
    # rotate-reflect recurrence as chained BIGINT layers, bit-exact
    # chained-CTE oracle).
    # 235→236 for dialect_parity_sweep5 (§2.9: toYYYYMM/toYYYYMMDD/
    # toUnixTimestamp/toMonday/addDays/subtractHours/extractAll/
    # JSONExtract*/bitShift*/multiIf renames over real event rows).
    # 236→237 for pack_sequences_concat (concat-and-chunk LLM-pretraining
    # packing: boundary-splitting sequence grid via integer-division
    # explode, all-integer oracle).
    # 237→238 for streaming_scd2_history (SCD2 folded incrementally via
    # scd2_merge under event-time-ordered drains; replay-idempotent, no
    # batch guard; shares the batch oracle).
    # 238→239 for scd2_asof_events (point-in-time AS OF read — the
    # query-side payoff of SCD2, a pure filter over history).
    # 239→240 for embedding_norm_anomaly (per-label exact-integer norm²
    # z-score monitor — degenerate-vector detection composed from the r8
    # moments primitives).
    # 240→241 in r9 for morton3d_events_zvalues (N-dim Morton clustering
    # key — morton_nd bits×n shift-OR interleave, bit-exact oracle,
    # 3-D file-pruning pinned; r8 verdict item 7). 241→242 for
    # dialect_parity_sweep6 (§2.9: -If aggregate combinators, groupBit*
    # aggregates, OrZero division scalars, roundBankers half-even).
    # 242→244 for timeseries_gap_fill (WITH FILL densification: 1-row
    # sequence grid + broadcast dims + left join) and events_locf_fill
    # (fill-forward window, LAST_VALUE IGNORE NULLS parity).
    # 244→245 for sq8_rerank_knn (the SQ8 production funnel: integer
    # screen top-50 → exact cosine rerank, both stages oracle-replayed).
    # 245→246 for dedup_containment_pairs (asymmetric containment — the
    # sub-document-dup measure; count-from-the-index plan shared with
    # jaccard, containment-specific prune, all-pairs exact oracle).
    # 246→247 for streaming_kmv_overlap (incremental bottom-k KMV lattice
    # + monotone saturation flag; batch-parity SQL-replay oracle).
    # 247→249 for token_budget_mixture (budget-capped greedy prefix per
    # source, exact-integer quotas) and corpus_epoch_upsample (fractional
    # repeat factors via hash-Bernoulli extra copies, inline thresholds).
    # 249→251 for the r9 TAIL additions doc_novelty_curve (exact per-doc
    # n-gram first-occurrence novelty — the crawl-saturation curve) and
    # user_rfm_features (recency/frequency/monetary feature table) —
    # landed past the 50-slot cap; r10 windows them first (the r7-tail
    # precedent).
    # 251→252 for dialect_parity_sweep7 (formatDateTime compile-to-Java-
    # pattern, ISO week/year, relative hour/day nums, countMatches,
    # concatWithSeparator) — tail addition, r10-windowed.
    # 252→253 for knn_batch_queries (Q-query batched kNN: one corpus
    # scan, one Generate, salted two-phase grouped_topk per query) —
    # tail addition, r10-windowed.
    # 253→254 in r10 for ann_ivf_merge_search (IVF re-balance lifecycle:
    # merge_underfull thin-cluster reassignment + exact-mean centroid
    # retrain, full-probe-equals-exact oracle — the merge/re-train half
    # of the skew-maintenance pair, r9 verdict item 8).
    # 254→255 for dedup_substring_exact_spans (literal-gram verify pass
    # over the hash-candidate superset — exact substring-dedup semantics
    # at any corpus, retiring the hash-class caveat; r9 verdict item 8).
    # 255→256 for dialect_parity_sweep8 (§2.9: bitCount, last-day /
    # 15-and-5-minute bucketing, UTF8 string scalars, base64 round trip,
    # countSubstrings, arrayPush/Pop/Resize/CumSum/Compact — ~14 more
    # renames, array outputs serialized per the sweep5 rule).
    # 256→257 for bitext_margin_pairs (Artetxe & Schwenk margin-based
    # parallel-pair mining: two directional IVF kNN joins, exact-decimal
    # neighborhood sums, mutual argmax; full all-pairs SQL-replay oracle).
    # 257→258 for semantic_chunk_spans (embedding-drift semantic chunking
    # — tail addition, r11 windows it first; full sequential-replay
    # oracle over the float32-embed/float64-fold/round-6 pipeline).
    # 258→259 in r11 for dedup_minhash_autoband (optimizer-derived LSH
    # banding driver-pinned end-to-end: optimal_lsh_params at 0.5 →
    # (21, 6); exact-join oracle at 0.5, verified-LSH ≡ exact probed at
    # all three SFs).
    # 259→260 for ann_opq_adc (OPQ rotation — Ge et al. CVPR'13
    # Procrustes alternation — in front of the PQ codebooks at the same
    # 32x code budget; replay-derived oracle reproduces the rotated ADC
    # survivor set exactly).
    # 260→261 for semantic_chunk_sentences (the documented splitter swap
    # exercised end-to-end: deterministic punctuation synthesis →
    # lookbehind sentence split → 2-sentence drift windows; sequential
    # replay oracle).
    # 261→262 for dialect_parity_sweep9 (§2.9: trim/substringIndex/
    # positionCaseInsensitive/replaceRegexpAll scalars, the add-interval
    # calendar family + dateTrunc/timeSlot/quarter/minute starts,
    # bitTest/bitNot, isNull fns, multiSearchAllPositions,
    # arrayIntersect, splitByWhitespace — ~21 more renames).
    # 262→263 for ann_ivfpq_residual_search (the full FAISS IVFPQ
    # training recipe: residual codes + OPQ rotation over the routed
    # partition-pruned layout; same soundness-invariant oracle as
    # ann_ivfpq_search).
    # 263→264 for pack_best_fit_docs (best-fit-decreasing sequence
    # packing per hash shard — Ding et al. 2024; 3.5% padding waste vs
    # greedy's 20.3% at the same budget; shard-hash + bfd_pack replay
    # oracle).
    # 264→265 for unigram_vocab_docs (unigram-LM tokenizer training —
    # Kudo 2018, the SentencePiece algorithm, deterministic hard-EM
    # variant; the OTHER mainstream subword tokenizer next to BPE;
    # sequential pure-Python replay oracle over shared integer counts).
    # 265→266 for gopher_repetition_filter (the A1.2 duplicated-n-gram
    # char-fraction rules — top-{2,3,4} and dup-{5..10} with
    # union-of-spans semantics; all-integer numerators, sequential
    # replay oracle; completes the Gopher family next to A1.1).
    # 266→267 for unigram_encode_stats (the trained unigram vocab applied
    # at corpus scale — per-lang token-budget report; vocab-collapse Arrow
    # Viterbi over distinct (lang, word) rows only; pairs with
    # unigram_vocab_docs the way bpe_encode pairs with bpe_learn).
    # 267→268 for graph_hits_entities (Kleinberg HITS over the directed
    # customer→supplier graph — the second iterative fixed-point template:
    # integer max-quantizer normalization; unrolled MATERIALIZED-CTE
    # DuckDB oracle).
    # 268→269 for graph_harmonic_hyperball (Boldi-Vigna HyperBall on the
    # deterministic HLL: radius-capped harmonic centrality — register
    # lattice merges are exact integer MINs, estimator doubles replayed
    # operand-for-operand; distance-based centrality next to
    # pagerank/hits).
    # 269→270 for kcenter_coreset_embeddings (Gonzalez farthest-first
    # coreset selection — exact 4-decimal fixed-point integer distances,
    # total-ordered argmax per round, k bounded 1-row collects;
    # sequential replay oracle).
    # 270→271 for dialect_parity_sweep10 (§2.9: functional arithmetic,
    # intExp2/exp2/exp10, roundToExp2/roundDown/roundAge/roundDuration,
    # float-classification predicates via NaN-literal equality (the
    # case-insensitive replace_calls self-match lesson), arrayFirst/Last/
    # FirstIndex, range, the remaining add/subtract calendar family —
    # ~26 more renames).
    # 271→272 for span_corruption_docs (T5/UL2 denoising span planning —
    # hash-driven instead of RNG-driven so the sampled plan replays
    # bit-exactly across engines; one scan-stage Arrow walk).
    # 272→273 for fuzzy_name_pairs (Gravano q-gram-filtered edit-distance
    # self-join — exact vs the brute-force oracle, zero false negatives
    # by the count-filter theorem + short-string band; registered past
    # the cap, r12 windows it — the semantic_chunk_spans precedent).
    names = list(queries())
    assert len(names) <= 273


def test_coverage_window_column_consistent():
    """COVERAGE.md's driver-window audit column must agree with the live
    registry: every registered query has a row, window membership matches
    DRIVER_WINDOW, and oracle/rows-only status matches the registration."""
    import re

    from chatdata_spark.registry import _REGISTRY, _load_all

    _load_all()
    text = open("/root/repo/COVERAGE.md").read()
    rows = dict()
    for name, window, greens, check in re.findall(
        r"^\| `([a-z0-9_]+)` \| (in \(r\d+\)|out) \| (\d+(?: \([r0-9,]+\))?) "
        r"\| (oracle|rows-only) \|$",
        text,
        re.M,
    ):
        rows[name] = (window.startswith("in"), greens, check)
    assert set(rows) == set(_REGISTRY), (
        f"missing: {set(_REGISTRY) - set(rows)}; stale: {set(rows) - set(_REGISTRY)}"
    )
    # green counts are MECHANICAL (r9 verdict item 6): re-derive from the
    # CORRECTNESS history and pin the table against it, so rotation
    # priority is auditable and the column can never drift by hand-editing
    import sys as _sys

    _sys.path.insert(0, "/root/repo/tools")
    from gen_window_audit import green_rounds

    gr = green_rounds()
    for name, (in_window, greens, check) in rows.items():
        assert in_window == (name in DRIVER_WINDOW), f"{name} window flag stale"
        assert check == ("oracle" if _REGISTRY[name].oracle is not None else "rows-only"), (
            f"{name} check column stale"
        )
        expect = (
            f"{len(gr[name])} ({','.join(f'r{r}' for r in gr[name])})"
            if name in gr
            else "0"
        )
        assert greens == expect, f"{name} greens column stale: {greens!r} != {expect!r}"
    # the prose "N/N registered queries" count drifts when queries are
    # added (r5 postmortem item 8) — pin it to the live registry size
    m = re.search(r"(\d+)/(\d+)\s*\nregistered queries", text)
    assert m, "COVERAGE.md prose count sentence missing"
    assert int(m.group(1)) == int(m.group(2)) == len(_REGISTRY), (
        f"COVERAGE.md prose says {m.group(0)!r}, registry has {len(_REGISTRY)}"
    )


def test_bench_suite_names_resolve():
    """bench.py is driver-run per round: every HEADLINE name and every X10
    target must resolve in the registry, every E2E name must be a
    registered query or an X10 entry, and every EXTRA entry must be
    callable — a renamed query must fail HERE, not in the driver's bench
    pass."""
    import importlib.util
    import os
    import sys

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod"] = bench
    spec.loader.exec_module(bench)
    qs = queries()
    missing = [n for n in [*bench.HEADLINE, *bench.X10.values()] if n not in qs]
    assert not missing, f"HEADLINE names / X10 targets not in registry: {missing}"
    missing_e2e = [n for n in bench.E2E if n not in qs and n not in bench.X10]
    assert not missing_e2e, f"E2E names not in registry or X10: {missing_e2e}"
    assert all(callable(f) for f in bench.EXTRA.values())
    steady = [*bench.HEADLINE, *bench.EXTRA, *(n for n in bench.X10 if n not in bench.E2E)]
    names = [*steady, *bench.E2E]
    assert len(names) == len(set(names)), "duplicate bench keys"
    # stdout headline subset must resolve and stay bounded (driver capture)
    pool = set(names)
    assert set(bench.STDOUT_HEADLINE) <= pool
    assert len(bench.STDOUT_HEADLINE) <= 15


def test_array_output_guard_fires(spark):
    """r8 regression class: a registered query returning a top-level
    array column passed pytest + the tuple-sorting replay but errored in
    the REAL driver (pandas sort_values → unhashable 'list',
    dialect_parity_sweep5). The guard must fail such schemas locally."""
    import pytest as _pytest

    from tests.conftest import assert_driver_hashable_schema

    bad = spark.sql("SELECT 1 AS id, array('a','b') AS xs")
    with _pytest.raises(AssertionError, match="complex-typed"):
        assert_driver_hashable_schema(bad, name="synthetic_array")
    bad_map = spark.sql("SELECT map('k', 1) AS m")
    with _pytest.raises(AssertionError, match="complex-typed"):
        assert_driver_hashable_schema(bad_map, name="synthetic_map")
    assert_driver_hashable_schema(
        spark.sql("SELECT 1 AS id, 'a,b' AS xs"), name="scalar_ok"
    )


def test_lazy_oracles_resolve_once():
    """Callable oracles (DuckDB+numpy replays) must resolve exactly once
    per QueryDef — repeated oracle_sql() calls (tests, driver, replay
    tools in one process) reuse the resolved string."""
    from chatdata_spark.registry import QueryDef, _REGISTRY, oracle_sql

    calls = {"n": 0}

    def lazy():
        calls["n"] += 1
        return "SELECT 1 AS x"

    _REGISTRY["__lazy_probe__"] = QueryDef(fn=lambda s, d: None, oracle=lazy)
    try:
        a = oracle_sql()["__lazy_probe__"]
        b = oracle_sql()["__lazy_probe__"]
        assert a == b == "SELECT 1 AS x"
        assert calls["n"] == 1
    finally:
        _REGISTRY.pop("__lazy_probe__", None)
