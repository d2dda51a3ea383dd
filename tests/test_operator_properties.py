"""Property-based invariants for the timeseries and mutation operator
families (SURVEY §5.3 model): randomized inputs compared against
straight-line Python reference implementations — the complement of the
fixed-fixture oracle comparisons in tests/test_correctness.py."""

from __future__ import annotations

from datetime import datetime, timedelta

import pyspark.sql.functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

T0 = datetime(2024, 1, 1)

_events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 5000)),  # (user, minute offset)
    min_size=1,
    max_size=40,
)


def _py_sessionize(rows, gap_min):
    """Reference gap sessionization: per user, sorted event times split
    wherever the gap exceeds ``gap_min`` minutes."""
    out = {}
    by_user = {}
    for u, m in rows:
        by_user.setdefault(u, []).append(m)
    for u, ms in by_user.items():
        ms = sorted(ms)
        sessions = [[ms[0]]]
        for m in ms[1:]:
            if m - sessions[-1][-1] <= gap_min:
                sessions[-1].append(m)
            else:
                sessions.append([m])
        out[u] = [(s[0], s[-1], len(s)) for s in sessions]
    return {
        (u, T0 + timedelta(minutes=s), T0 + timedelta(minutes=e), n)
        for u, ss in out.items()
        for s, e, n in ss
    }


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_events)
def test_sessionize_matches_python_reference(spark, rows):
    from chatdata_spark.operators.timeseries import sessionize

    df = spark.createDataFrame(
        [(u, T0 + timedelta(minutes=m), i) for i, (u, m) in enumerate(rows)],
        "user_id long, ts timestamp, event_id long",
    )
    want = _py_sessionize(rows, 30)
    for slice_width in (None, 3600.0):  # plain AND hot-key-sliced paths
        s = sessionize(df, "user_id", "ts", gap_minutes=30.0,
                       order_tiebreak="event_id", slice_width=slice_width)
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in s.groupBy("user_id", "session_idx").agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
            ).collect()
        }
        assert got == want, f"slice_width={slice_width}"


_intervals = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500), st.integers(0, 100)),
    min_size=1, max_size=25,
)  # left: (key, lo, width)
_points = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 700)), min_size=0, max_size=25
)  # right: (key, val)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lefts=_intervals, rights=_points)
def test_range_join_matches_nested_loop(spark, lefts, rights):
    """Bucketized interval join ≡ brute-force nested loop: every
    qualifying (interval, point) pair exactly once, bucket width chosen
    smaller than typical interval width so intervals span buckets."""
    from chatdata_spark.operators.timeseries import range_join

    ldf = spark.createDataFrame(
        [(i, k, float(lo), float(lo + w)) for i, (k, lo, w) in enumerate(lefts)],
        "left_id long, k long, lo double, hi double",
    )
    rdf = spark.createDataFrame(
        [(k, float(v), float(v)) for k, v in rights], "k long, val double, payload double"
    )
    got = sorted(
        (r.left_id, r.val)
        for r in range_join(
            ldf, rdf, lo_col="lo", hi_col="hi", right_val_col="val",
            equi_keys=["k"], bucket_width=37.0,
        ).collect()
    )
    want = sorted(
        (i, float(v))
        for i, (k, lo, w) in enumerate(lefts)
        for k2, v in rights
        if k2 == k and lo <= v <= lo + w
    )
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lefts=_intervals, rights=_points, n=st.integers(1, 4))
def test_range_join_bounded_keeps_nearest_n(spark, lefts, rights, n):
    """The hot-key output bound: max_matches_per_left=N keeps exactly each
    left row's N nearest matches — keep='last' = largest right_val
    (tie-break on a unique right id, descending), keep='first' = smallest
    (tie-break ascending) — and a bound ≥ the max true match count is
    IDENTICAL to the unbounded join (parity)."""
    from chatdata_spark.operators.timeseries import range_join

    ldf = spark.createDataFrame(
        [(i, k, float(lo), float(lo + w)) for i, (k, lo, w) in enumerate(lefts)],
        "left_id long, k long, lo double, hi double",
    )
    rdf = spark.createDataFrame(
        [(j, k, float(v)) for j, (k, v) in enumerate(rights)],
        "rid long, k long, val double",
    )
    matches: dict[int, list[tuple[float, int]]] = {}
    for i, (k, lo, w) in enumerate(lefts):
        matches[i] = [
            (float(v), j) for j, (k2, v) in enumerate(rights)
            if k2 == k and lo <= v <= lo + w
        ]
    for keep in ("last", "first"):
        want = sorted(
            (i, v, j)
            for i, ms in matches.items()
            for v, j in sorted(ms, reverse=(keep == "last"))[:n]
        )
        # slice_width=53 exercises the hot-key-sliced numbering + sliced
        # as-of (incl. negative value-slices for keep='first'); output must
        # be identical to the unsliced path
        for sw in (None, 53.0):
            got = sorted(
                (r.left_id, r.val, r.rid)
                for r in range_join(
                    ldf, rdf, lo_col="lo", hi_col="hi", right_val_col="val",
                    equi_keys=["k"], bucket_width=37.0,
                    max_matches_per_left=n, left_id="left_id", right_tiebreak="rid",
                    keep=keep, slice_width=sw,
                ).collect()
            )
            assert got == want, f"keep={keep} n={n} slice_width={sw}"
    # parity: a bound no true match count reaches == the unbounded join
    big = max((len(ms) for ms in matches.values()), default=0) + 1
    unbounded = sorted(
        (r.left_id, r.val, r.rid)
        for r in range_join(
            ldf, rdf, lo_col="lo", hi_col="hi", right_val_col="val",
            equi_keys=["k"], bucket_width=37.0,
        ).collect()
    )
    bounded = sorted(
        (r.left_id, r.val, r.rid)
        for r in range_join(
            ldf, rdf, lo_col="lo", hi_col="hi", right_val_col="val",
            equi_keys=["k"], bucket_width=37.0,
            max_matches_per_left=big, left_id="left_id", right_tiebreak="rid",
        ).collect()
    )
    assert bounded == unbounded


_versions = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 999)),
    min_size=1, max_size=30,
)  # (key, version, payload)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_versions)
def test_keep_latest_matches_python_reference(spark, rows):
    """ReplacingMergeTree keep-latest: max version per key wins; ties on
    version resolve identically to the operator's documented tie-break
    (restrict generated versions to be unique per key to pin semantics,
    then verify EXACT winner, not just any max)."""
    from chatdata_spark.operators.upsert import keep_latest

    seen = set()
    uniq = []
    for k, v, p in rows:
        if (k, v) not in seen:
            seen.add((k, v))
            uniq.append((k, v, p))
    df = spark.createDataFrame(uniq, "k long, ver long, payload long")
    got = {(r.k, r.ver, r.payload) for r in keep_latest(df, ["k"], "ver").collect()}
    best = {}
    for k, v, p in uniq:
        if k not in best or v > best[k][0]:
            best[k] = (v, p)
    want = {(k, v, p) for k, (v, p) in best.items()}
    assert got == want


_docs = st.lists(
    st.tuples(
        st.integers(0, 99),
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6),
    ),
    min_size=1, max_size=12, unique_by=lambda t: t[0],
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_docs, budget=st.integers(0, 30))
def test_stuff_context_matches_python_prefix_fold(spark, docs, budget):
    """Random pages and budgets vs a straight-line reference: the stuffed
    context is exactly the maximal id-ordered prefix whose cumulative
    whitespace-token count fits the budget, joined in order."""
    from chatdata_spark.operators.textsearch import stuff_context

    rows = [(i, " ".join(ws)) for i, ws in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = stuff_context(
        df, "text", [F.asc("doc_id")], max_tokens=budget
    ).collect()[0]

    kept, total = [], 0
    for i, ws in sorted(docs):
        if total + len(ws) > budget:
            break
        kept.append(" ".join(ws))
        total += len(ws)
    assert out.n_docs == len(kept)
    assert out.n_tokens == total
    assert out.context == "\n\n".join(kept)


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 10_000), dup=st.booleans())
def test_mmr_paths_agree_on_random_vectors(spark, seed, dup):
    """Driver greedy ≡ executor-side greedy ≡ direct mmr_greedy on random
    candidate sets — including adversarial DUPLICATE vectors, where every
    score ties and only the id tie-break decides."""
    import numpy as np

    from chatdata_spark.operators.mmr import mmr_greedy, mmr_select, mmr_select_distributed

    rng = np.random.default_rng(seed)
    n = 17
    vecs = rng.standard_normal((n, 8))
    if dup:
        vecs[5] = vecs[3]  # exact duplicates force score ties
        vecs[11] = vecs[3]
    ids = list(rng.permutation(1000)[:n])
    q = list(rng.standard_normal(8))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vid long, v array<double>",
    )
    a = [(r.vid, r.mmr_rank, r.mmr_score)
         for r in mmr_select(df, "v", q, k=6, id_col="vid", fetch_n=n).collect()]
    b = [(r.vid, r.mmr_rank, r.mmr_score)
         for r in mmr_select_distributed(df, "v", q, k=6, id_col="vid", fetch_n=n).collect()]
    c = [(int(i), rank, s) for rank, (i, s) in
         enumerate(mmr_greedy([int(i) for i in ids], vecs, q, k=6, lam=0.5))]
    assert a == b == c


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 100_000), lam=st.sampled_from([0.3, 0.5, 0.7]))
def test_mmr_greedy_matches_naive_reference_anti_correlated(seed, lam):
    """mmr_greedy vs an independent literal-formula reference
    (score_i = lam*cos(q,v_i) - (1-lam)*max_{s in S} cos(v_i,v_s), max over
    the ACTUAL selected set each round) on candidate sets that include exact
    negations of other candidates — the anti-correlated case where a
    clamped-at-zero penalty would pass the negative max through as 0 and
    reorder selections (the round-4 advisory bug)."""
    import numpy as np

    from chatdata_spark.operators.mmr import mmr_greedy

    rng = np.random.default_rng(seed)
    n = 12
    base = rng.standard_normal((n, 6))
    base[6] = -base[0]  # exact negations: cos = -1 to their twin
    base[7] = -base[1]
    base[8] = -rng.standard_normal(6) * 0.01 - base[2]  # near-negation
    ids = [int(i) for i in rng.permutation(500)[:n]]
    q = rng.standard_normal(6)

    v = base / np.linalg.norm(base, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    order = np.argsort(np.asarray(ids), kind="stable")
    sv, sids = v[order], [ids[int(i)] for i in order]
    rel = sv @ qn
    selected: list[int] = []
    expected = []
    for _ in range(7):
        best_i, best_score = None, None
        for i in range(n):
            if i in selected:
                continue
            pen = max(float(sv[i] @ sv[j]) for j in selected) if selected else 0.0
            score = lam * float(rel[i]) - (1.0 - lam) * pen if selected else lam * float(rel[i])
            if best_score is None or score > best_score:
                best_i, best_score = i, score
        selected.append(best_i)
        expected.append((sids[best_i], round(best_score, 6)))

    got = mmr_greedy(ids, base, list(q), k=7, lam=lam)
    assert [(i, s) for i, s in got] == expected


_edges = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 20)).filter(lambda t: t[0] != t[1]),
    min_size=1, max_size=20,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edges)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label propagation ≡ union-find on random graphs —
    including chains near the iteration bound (diameter ≤ edge count)."""
    from chatdata_spark.operators.components import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, "i long, j long")
    got = {r.v: r.c for r in connected_components(df).collect()}
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edges)
def test_star_components_match_union_find(spark, edges):
    """Large-star/small-star contraction ≡ union-find on random graphs —
    the same contract as min-label (every vertex → component minimum),
    via a completely different fixpoint."""
    from chatdata_spark.operators.components import connected_components_star

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}

    df = spark.createDataFrame(edges, "i long, j long")
    got = {r.v: r.c for r in connected_components_star(df).collect()}
    assert got == want


_items = st.lists(st.sampled_from(list("abcdefgh")), min_size=1, max_size=60)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(items=_items, min_count=st.integers(2, 10))
def test_heavy_hitters_matches_counter(spark, items, min_count):
    """Misra-Gries candidates + exact recount ≡ Counter, whenever the
    exactness precondition (min_count > n/(k+1)) holds — with k=4096 and
    n ≤ 60 it always does here, so the result must be exactly every item
    at or above the threshold."""
    from collections import Counter

    from chatdata_spark.operators.heavyhitters import heavy_hitters

    df = spark.createDataFrame([(x,) for x in items], "item string")
    got = {(r.item, r.n) for r in heavy_hitters(df, "item", min_count=min_count).collect()}
    want = {(x, c) for x, c in Counter(items).items() if c >= min_count}
    assert got == want


_corpus = st.lists(
    st.lists(st.sampled_from(list("pqrstuv")), min_size=0, max_size=8),
    min_size=1, max_size=10,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(corpus=_corpus, t=st.sampled_from([0.3, 0.5, 0.8]))
def test_prefix_filter_jaccard_matches_bruteforce(spark, corpus, t):
    """Prefix-filtered Jaccard self-join ≡ an all-pairs Python reference
    over the engine's shingle conventions (distinct word-3-grams, short
    docs padded to one whole-text shingle): prefix filtering must prune
    candidates, never answers, at ANY threshold."""
    from chatdata_spark.operators.dedup import prefix_filter_jaccard_join

    cdf = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)], "doc_id long, text string"
    )

    def sh(ws, k=3):
        ws = ws if ws else [""]
        return {
            tuple(ws[i:i + k]) + ("<pad>",) * max(k - len(ws[i:i + k]), 0)
            for i in range(max(len(ws) - k + 1, 1))
        }

    sets = [sh(ws) for ws in corpus]
    want = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            c = len(sets[i] & sets[j])
            jac = round(c / (len(sets[i]) + len(sets[j]) - c), 6)
            if jac >= t:
                want.add((i, j, jac))
    got = {
        (r.i, r.j, r.jaccard)
        for r in prefix_filter_jaccard_join(cdf, "doc_id", threshold=t).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.sets(st.tuples(st.integers(0, 3), st.none() | st.integers(0, 6)), max_size=16))
@example(rows=set())
@example(rows={(0, None), (0, 1), (0, 2), (1, None), (1, 2)})
@example(rows={(5, m) for m in range(7)})
def test_shared_counts_matches_combinations(spark, rows):
    """The one bucket-pair count every set-similarity join uses equals a
    per-key ``itertools.combinations`` reference over distinct (key,
    member) rows: empty input, NULL members (never paired) and one key
    holding every member included."""
    import itertools
    from collections import Counter

    from chatdata_spark.operators.dedup import _shared_counts

    by_key: dict = {}
    for k, m in rows:
        if m is not None:
            by_key.setdefault(k, set()).add(m)
    want = Counter(
        pair for ms in by_key.values() for pair in itertools.combinations(sorted(ms), 2)
    )
    df = spark.createDataFrame(sorted(rows, key=str), "key long, member long")
    got = {(r.i, r.j): r.n for r in _shared_counts(df, "key", "member").collect()}
    assert got == dict(want)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(corpus=_corpus, bench=_corpus, n=st.integers(2, 3))
def test_decontaminate_matches_python_ngram_overlap(spark, corpus, bench, n):
    """Broadcast n-gram decontamination ≡ a Python set-overlap reference:
    per doc, the count of DISTINCT word n-grams appearing anywhere in the
    benchmark set, and the contamination flag at min_hits=1."""
    from chatdata_spark.operators.decontam import decontaminate

    cdf = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)], "doc_id long, text string"
    )
    bdf = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(bench)], "doc_id long, text string"
    )

    def grams(ws):
        # mirror the engine's split + short-doc conventions: splitting an
        # empty text yields one empty token, and a doc with fewer than n
        # words gets ONE whole-text shingle zero-padded to n (so short
        # docs decontaminate on exact content match — dedup.py:
        # shingle_hashes_col pads with hash 0, sequence floor 1)
        ws = ws if ws else [""]
        out = set()
        for i in range(max(len(ws) - n + 1, 1)):
            g = tuple(ws[i:i + n]) + ("<pad>",) * max(n - len(ws[i:i + n]), 0)
            out.add(g)
        return out

    bench_grams = set().union(*(grams(ws) for ws in bench)) if bench else set()
    got = {
        (r.doc_id, r.n_hits, r.contaminated)
        for r in decontaminate(cdf, bdf, n=n).collect()
    }
    want = {
        (i, len(grams(ws) & bench_grams), len(grams(ws) & bench_grams) >= 1)
        for i, ws in enumerate(corpus)
    }
    assert got == want


def test_decontaminate_degenerate_text_keeps_floor_one_shingle(spark):
    """Pins the invariant decontaminate's explode_outer relies on (r11
    ADVICE): EVERY corpus row — empty, whitespace-only, punctuation-only
    — yields n_shingles >= 1 and a non-NULL overlap_frac. That holds
    because words_col splits on \\s+ (empty text → ['']) and
    shingle_hashes_col pads to one whole-text shingle; a future
    tokenizer swap that returns [] for punctuation-only text would emit
    NULL-sh rows with sz=0 and NULL overlap_frac — this test is the
    tripwire."""
    from chatdata_spark.operators.decontam import decontaminate

    cdf = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "?!, ..."), (4, "one"), (5, "a b c d e")],
        "doc_id long, text string",
    )
    bdf = spark.createDataFrame([(1, "zz qq")], "doc_id long, text string")
    rows = decontaminate(cdf, bdf, n=3).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_shingles >= 1, f"doc {r.doc_id}: sz={r.n_shingles}"
        assert r.overlap_frac is not None, f"doc {r.doc_id}: NULL overlap_frac"
        assert r.n_hits == 0 and r.contaminated is False


_words = st.lists(
    st.text(alphabet="xyz", min_size=0, max_size=4), min_size=1, max_size=12
)


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(words=_words)
def test_fuzzy_self_join_matches_levenshtein(spark, words):
    """Deletion-neighborhood signature join ≡ exhaustive levenshtein ≤ 1
    over random short strings (substitutions, inserts, deletes, empties,
    repeated values)."""
    from chatdata_spark.operators.fuzzyjoin import fuzzy_self_join

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = sorted(
        (r.left_w, r.right_w, r.dist)
        for r in fuzzy_self_join(df, "w", max_dist=1).collect()
    )
    uniq = sorted(set(words))
    want = sorted(
        (a, b, _lev(a, b))
        for i, a in enumerate(uniq)
        for b in uniq[i + 1:]
        if _lev(a, b) <= 1
    )
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    big=st.lists(st.integers(0, 40), min_size=1, max_size=30),
    small=st.lists(st.integers(0, 40), min_size=0, max_size=8),
)
def test_bloom_semi_join_exact(spark, big, small):
    """Bloom pre-filter + exact join ≡ plain semi-join: false positives
    must be eliminated by the verification join, never surfacing."""
    from chatdata_spark.operators.bloomjoin import bloom_semi_join

    bdf = spark.createDataFrame([(i, x) for i, x in enumerate(big)], "rid long, k long")
    sdf = spark.createDataFrame([(x,) for x in small], "k long")
    got = sorted((r.rid, r.k) for r in bloom_semi_join(bdf, sdf, "k", n_bits=1 << 10).collect())
    want = sorted((i, x) for i, x in enumerate(big) if x in set(small))
    assert got == want


_asof_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 400)), min_size=1, max_size=25
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lefts=_asof_rows, rights=_asof_rows)
def test_asof_join_matches_python_reference(spark, lefts, rights):
    """As-of join (plain AND time-sliced) ≡ per-row latest right event at
    or before the left timestamp, ties on timestamp resolved by the
    documented id tie-break (highest event_id wins among equal ts)."""
    from chatdata_spark.operators.timeseries import asof_join

    ldf = spark.createDataFrame(
        [(100 + i, k, T0 + timedelta(minutes=m)) for i, (k, m) in enumerate(lefts)],
        "event_id long, user_id long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, T0 + timedelta(minutes=m), 1000 + i, float(i)) for i, (k, m) in enumerate(rights)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    want = {}
    for i, (k, m) in enumerate(lefts):
        best = None
        for j, (k2, m2) in enumerate(rights):
            if k2 == k and m2 <= m:
                cand = (m2, 1000 + j, float(j))
                if best is None or cand > best:
                    best = cand
        want[100 + i] = (best[1], best[2]) if best else (None, None)

    for slice_width in (None, 3600.0):
        got = {
            r.event_id: (r.asof_event_id, r.asof_value)
            for r in asof_join(
                ldf, rdf, on="user_id", ts_col="ts",
                payload_cols=["event_id", "value"], tie_break="event_id",
                slice_width=slice_width,
            ).collect()
        }
        assert got == want, f"slice_width={slice_width}"


_typed_events = st.lists(
    st.tuples(
        st.integers(0, 2), st.integers(0, 300), st.sampled_from(["A", "B", "C"])
    ),
    min_size=1, max_size=30,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_typed_events)
def test_funnel_steps_matches_python_reference(spark, rows):
    """windowFunnel earliest-entry chain ≡ a Python fold: t1 = first A,
    t_k = first step-k event strictly after t_{k-1} and within window of
    t1; step = completed depth."""
    from chatdata_spark.operators.funnel import funnel_steps

    df = spark.createDataFrame(
        [(u, T0 + timedelta(minutes=m), t) for u, m, t in rows],
        "user_id long, ts timestamp, event_type string",
    )
    got = {
        r.user_id: r.step
        for r in funnel_steps(
            df, "user_id", "ts",
            [F.col("event_type") == s for s in ("A", "B", "C")],
            window="INTERVAL 60 MINUTES",
        ).collect()
    }
    by_user = {}
    for u, m, t in rows:
        by_user.setdefault(u, []).append((m, t))
    want = {}
    for u, evs in by_user.items():
        a_times = sorted(m for m, t in evs if t == "A")
        if not a_times:
            continue
        t1 = a_times[0]
        chain = [t1]
        for s in ("B", "C"):
            nxt = sorted(
                m for m, t in evs
                if t == s and m > chain[-1] and m <= t1 + 60
            )
            if not nxt:
                break
            chain.append(nxt[0])
        want[u] = len(chain)
    assert got == want


_changelog = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 2)),
    min_size=1, max_size=25, unique_by=lambda t: (t[0], t[1]),
)  # (key, minute, value) — unique (key, ts) so the order is total


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_changelog)
def test_scd2_from_changelog_matches_python_fold(spark, rows):
    """SCD2 change compression ≡ a Python fold: per key in ts order, keep
    the first row and every value change; valid_to = next kept ts; the
    last kept row is current."""
    from chatdata_spark.operators.scd import scd2_from_changelog

    df = spark.createDataFrame(
        [(k, T0 + timedelta(minutes=m), v) for k, m, v in rows],
        "k long, ts timestamp, val long",
    )
    got = sorted(
        (r.k, r.val, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_from_changelog(df, ["k"], "ts", ["val"]).collect()
    )
    by_key = {}
    for k, m, v in sorted(rows, key=lambda t: (t[0], t[1])):
        by_key.setdefault(k, []).append((m, v))
    want = []
    for k, evs in by_key.items():
        kept = []
        for m, v in evs:
            if not kept or kept[-1][1] != v:
                kept.append((m, v))
        for i, (m, v) in enumerate(kept):
            nxt = kept[i + 1][0] if i + 1 < len(kept) else None
            want.append((
                k, v, T0 + timedelta(minutes=m),
                T0 + timedelta(minutes=nxt) if nxt is not None else None,
                nxt is None,
            ))
    assert got == sorted(want)


_scored_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 9)),
    min_size=1, max_size=30,
)  # (group, score, uid-part)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_scored_rows, k=st.integers(1, 5))
def test_grouped_topk_salted_matches_python(spark, rows, k):
    """Salted two-phase grouped top-k ≡ per-group sort-and-slice, under a
    TOTAL order (score desc, id asc) with duplicate scores everywhere —
    salted and unsalted paths must both agree with the reference."""
    from chatdata_spark.operators.grouptopk import grouped_topk

    data = [(g, s, i) for i, (g, s, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "g long, score long, rid long")
    order = [F.desc("score"), F.asc("rid")]
    want = []
    by_g = {}
    for g, s, i in data:
        by_g.setdefault(g, []).append((-s, i))
    for g, lst in by_g.items():
        for (ns, i) in sorted(lst)[:k]:
            want.append((g, -ns, i))
    for salt in (None, "rid"):
        got = sorted(
            (r.g, r.score, r.rid)
            for r in grouped_topk(df, ["g"], order, k, salt_on=salt).collect()
        )
        assert got == sorted(want), f"salt_on={salt}"


_chunk_docs = st.lists(
    st.lists(st.sampled_from(["w1", "w2", "w3"]), min_size=0, max_size=30),
    min_size=1, max_size=6,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_chunk_docs, cw=st.integers(2, 7))
def test_chunking_roundtrip_and_first_occurrence(spark, docs, cw):
    """chunk_documents covers every word in order (reassembly == original
    normalized text), and chunk_dedup keeps exactly the first (doc_id,
    chunk_idx) occurrence of each distinct chunk text."""
    from chatdata_spark.operators.chunks import chunk_dedup, chunk_documents

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_documents(df, chunk_words=cw).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text))
    for i, ws in enumerate(docs):
        parts = [t for _, t in sorted(by_doc[i])]
        assert " ".join(p for p in parts if p) == " ".join(ws)

    kept = {(r.doc_id, r.chunk_idx) for r in chunk_dedup(df, chunk_words=cw).collect()}
    first = {}
    for r in sorted(chunks, key=lambda r: (r.doc_id, r.chunk_idx)):
        first.setdefault(r.chunk_text, (r.doc_id, r.chunk_idx))
    assert kept == set(first.values())


_tgt_rows = st.dictionaries(
    st.integers(0, 8), st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
    min_size=0, max_size=9,
)
_src_rows = st.dictionaries(
    st.integers(0, 8), st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
    min_size=0, max_size=9,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tgt=_tgt_rows, src=_src_rows, use_delete=st.booleans())
def test_merge_into_matches_dict_replay(spark, tgt, src, use_delete):
    """Full MERGE clause semantics vs an independent dict replay: matched +
    delete-cond rows drop, surviving matches update only the assigned
    column (others keep the target value), unmatched targets pass through,
    and unmatched source rows insert. Covers the
    NULL-condition subtlety: the delete condition references a source
    column, which is NULL for unmatched targets — those must survive."""
    from chatdata_spark.operators.upsert import merge_into

    tdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(tgt.items())] or [(None, None, None)],
        "k int, a int, b int",
    )
    if not tgt:
        tdf = tdf.filter(F.col("k").isNotNull())
    sdf = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in sorted(src.items())] or [(None, None, None)],
        "k int, a int, b int",
    )
    if not src:
        sdf = sdf.filter(F.col("k").isNotNull())

    out = merge_into(
        tdf, sdf, ["k"],
        when_matched_update={"a": F.col("__src_a")},
        when_matched_delete=(F.col("__src_b") % 3 == 0) if use_delete else None,
    )
    got = sorted((r.k, r.a, r.b) for r in out.collect())

    ref = dict(tgt)
    for k, (sa, sb) in src.items():
        if k in ref:
            if use_delete and sb % 3 == 0:
                del ref[k]
            else:
                ref[k] = (sa, ref[k][1])
        else:
            ref[k] = (sa, sb)
    want = sorted((k, a, b) for k, (a, b) in ref.items())
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 2), st.floats(0.0, 99.999, allow_nan=False)),
        min_size=1, max_size=60,
    ),
    p=st.sampled_from([0.1, 0.5, 0.9, 1.0]),
)
def test_quantile_hist_within_bin_width_of_numpy(spark, vals, p):
    """Histogram quantiles vs numpy's order-statistic quantile
    (method='inverted_cdf'): the crossing-bin estimate must land within
    one bin width of the true quantile for in-range data — the operator's
    documented error bound (both the true order statistic of rank
    ceil(p*total) and the interpolated estimate lie inside the crossing
    bin)."""
    import numpy as np

    from chatdata_spark.operators.quantile import hist_counts, quantiles_from_hist

    lo, hi, n_bins = 0.0, 100.0, 20
    width = (hi - lo) / n_bins
    df = spark.createDataFrame([(g, v) for g, v in vals], "g int, v double")
    hist = hist_counts(df, ["g"], "v", lo, hi, n_bins)
    est = {
        r.g: r[f"p{int(round(p * 100))}"]
        for r in quantiles_from_hist(hist, ["g"], lo, hi, n_bins, [p]).collect()
    }
    by_group: dict[int, list[float]] = {}
    for g, v in vals:
        by_group.setdefault(g, []).append(v)
    for g, xs in by_group.items():
        true_q = float(np.quantile(np.asarray(xs), p, method="inverted_cdf"))
        assert abs(est[g] - true_q) <= width + 1e-9, (
            f"group {g}: est={est[g]} true={true_q} (n={len(xs)}, p={p})"
        )


_vocab = ["apple", "banana", "cherry", "date", "elder", "fig7"]
_docs_bm = st.lists(
    st.lists(st.sampled_from(_vocab), min_size=0, max_size=12),
    min_size=1, max_size=15,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_docs_bm, terms=st.lists(st.sampled_from(_vocab), min_size=1, max_size=3, unique=True), k=st.integers(1, 8))
def test_bm25_topk_matches_python_scorer(spark, docs, terms, k):
    """bm25_topk vs an independent pure-Python scorer replicating the
    documented formula with the SAME operand order (rational idf — the
    log-free config the oracles use, so every op is IEEE-deterministic)
    and Spark's HALF_UP round-6 (BigDecimal.valueOf == Decimal(repr)).
    Pins the corpus-stat subtleties: N and avgdl computed over docs with
    >=1 token only (empty docs never reach per_doc), score>0 filter, and
    the (score desc, id asc) tie-break."""
    from decimal import ROUND_HALF_UP, Decimal

    from chatdata_spark.operators.textsearch import bm25_topk

    k1, b = 1.2, 0.75
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    got = [(r.doc_id, r.score) for r in
           bm25_topk(df, "doc_id", "text", terms, k=k, k1=k1, b=b, idf="rational").collect()]

    tokenized = {i: ws for i, ws in enumerate(docs) if ws}
    n = len(tokenized)
    if n == 0:
        assert got == []
        return
    avgdl = sum(len(ws) for ws in tokenized.values()) / n
    dfs = {t: sum(1 for ws in tokenized.values() if t in ws) for t in terms}
    scored = []
    for i, ws in tokenized.items():
        s = 0.0
        for t in terms:
            tf = float(ws.count(t))
            if tf == 0:
                continue
            ratio = ((n - dfs[t]) + 0.5) / (dfs[t] + 0.5)
            denom = tf + k1 * ((1.0 - b) + (b * len(ws)) / avgdl)
            s = s + (ratio * (tf * (k1 + 1.0))) / denom
        r6 = float(Decimal(repr(s)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        if r6 > 0:
            scored.append((i, r6))
    want = sorted(scored, key=lambda x: (-x[1], x[0]))[:k]
    assert got == want


_substr_vocab = ["aa", "bb", "cc", "dd"]
_substr_docs = st.lists(
    st.lists(st.sampled_from(_substr_vocab), min_size=0, max_size=15),
    min_size=1, max_size=8,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_substr_docs, n=st.integers(2, 4), min_count=st.sampled_from([2, 3]))
def test_substring_dedup_matches_python_reference(spark, docs, n, min_count):
    """Duplicated n-gram spans + removal vs a straight-line reference:
    count every n-gram corpus-wide (intra-doc repeats included), mark
    covered positions of grams at or over min_count, merge into maximal
    runs, cut. A tiny vocabulary forces dense collisions — the worst case
    for the span-merge window."""
    from chatdata_spark.operators.substrdedup import (
        duplicated_ngram_spans,
        remove_duplicated_spans,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    counts: dict[tuple, int] = {}
    for ws in docs:
        for p in range(len(ws) - n + 1):
            g = tuple(ws[p : p + n])
            counts[g] = counts.get(g, 0) + 1
    want_spans, want_removed = [], []
    for i, ws in enumerate(docs):
        hits = [
            p + 1
            for p in range(len(ws) - n + 1)
            if counts[tuple(ws[p : p + n])] >= min_count
        ]
        runs: list[list[int]] = []
        for p in hits:
            if runs and p - runs[-1][-1] <= n:
                runs[-1].append(p)
            else:
                runs.append([p])
        covered = set()
        for r in runs:
            want_spans.append((i, r[0], r[-1] + n - r[0], len(r)))
            covered.update(range(r[0], r[-1] + n))
        kept = [w for j, w in enumerate(ws) if (j + 1) not in covered]
        want_removed.append((i, len(ws), len(ws) - len(kept), " ".join(kept)))

    got_spans = [
        (r.doc_id, r.span_start, r.span_len, r.n_grams)
        for r in duplicated_ngram_spans(df, "doc_id", "text", n=n, min_count=min_count).collect()
    ]
    assert sorted(got_spans) == sorted(want_spans)
    # exact mode (literal-gram verify pass) must match the same reference
    # — the reference counts LITERAL grams, so this pins the verify join
    # end-to-end, not just hash-class agreement
    got_exact = [
        (r.doc_id, r.span_start, r.span_len, r.n_grams)
        for r in duplicated_ngram_spans(
            df, "doc_id", "text", n=n, min_count=min_count, exact=True
        ).collect()
    ]
    assert sorted(got_exact) == sorted(want_spans)
    got_removed = [
        (r.doc_id, r.n_words, r.n_dropped, r.text_dedup)
        for r in remove_duplicated_spans(df, "doc_id", "text", n=n, min_count=min_count).collect()
    ]
    assert got_removed == want_removed
    got_removed_exact = [
        (r.doc_id, r.n_words, r.n_dropped, r.text_dedup)
        for r in remove_duplicated_spans(
            df, "doc_id", "text", n=n, min_count=min_count, exact=True
        ).collect()
    ]
    assert got_removed_exact == want_removed


def test_substring_dedup_tolerates_null_text(spark):
    """NULL-text rows must not crash the gram pass (r11 ADVICE medium):
    regexp_extract_all(NULL) is NULL, so the Arrow UDF receives None —
    the in-UDF guard maps it to an empty hash array (the old
    size(__ws)>=n pre-filter dropped such rows but was pushdown-bait;
    see _spans_from_tokens). NULL/short/empty docs yield no spans and
    pass through removal untouched."""
    from chatdata_spark.operators.substrdedup import (
        duplicated_ngram_spans,
        remove_duplicated_spans,
    )

    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, None), (3, ""), (4, "x y z")],
        "doc_id long, text string",
    )
    spans = duplicated_ngram_spans(df, "doc_id", "text", n=3, min_count=2).collect()
    assert {r.doc_id for r in spans} == {1}
    spans_x = duplicated_ngram_spans(
        df, "doc_id", "text", n=3, min_count=2, exact=True
    ).collect()
    assert {r.doc_id for r in spans_x} == {1}
    removed = {r.doc_id: r.n_dropped for r in
               remove_duplicated_spans(df, "doc_id", "text", n=3, min_count=2).collect()}
    assert set(removed) == {1, 2, 3, 4} and removed[1] > 0


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_substr_docs, n=st.integers(2, 3), min_count=st.sampled_from([2, 3]))
def test_substring_removal_iterates_to_fixpoint(spark, docs, n, min_count):
    """The Lee-et-al round-trip property (r5 brief item 6): removal
    followed by re-detection finds only SEAM-CREATED duplicates (cutting
    an interior span concatenates previously-distant tokens, which can
    coincide across documents by chance — a single pass is therefore not
    a strict fixpoint), so ITERATING remove→detect must (a) strictly
    shrink the corpus token count every round that still has spans (each
    span cuts ≥ n tokens, which bounds the iteration), and (b) terminate
    at zero duplicated spans at the same (n, min_count). Exercises the
    composition remove→retokenize→detect that the single-pass
    reference-equivalence test above never sees."""
    from chatdata_spark.operators.substrdedup import (
        duplicated_ngram_spans,
        remove_duplicated_spans,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    tokens_prev = sum(len(ws) for ws in docs)
    for _ in range(tokens_prev // n + 2):  # each live round cuts >= n tokens
        spans = duplicated_ngram_spans(df, "doc_id", "text", n=n, min_count=min_count)
        if not spans.take(1):
            break
        cleaned = remove_duplicated_spans(
            df, "doc_id", "text", n=n, min_count=min_count
        ).collect()
        tokens_now = sum(r.n_words - r.n_dropped for r in cleaned)
        assert tokens_now < tokens_prev, "a round with spans must cut tokens"
        tokens_prev = tokens_now
        df = spark.createDataFrame(
            [(r.doc_id, r.text_dedup) for r in cleaned], "doc_id long, text string"
        )
    else:
        raise AssertionError("remove->detect did not reach the zero-span fixpoint")


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lists=st.lists(
        st.lists(st.integers(0, 30), unique=True, min_size=0, max_size=12),
        min_size=1, max_size=4,
    ),
    k0=st.sampled_from([10, 60]),
    k=st.integers(1, 10),
)
def test_rrf_fuse_matches_python_reference(spark, lists, k0, k):
    """RRF fusion vs a straight-line reference: score = sum over lists of
    1/(k0 + rank) for lists containing the doc (1-based ranks, missing
    membership contributes 0), HALF_UP round-6, (score desc, id asc)
    tie-break, top-k — over random numbers of lists including empty ones
    and partial overlaps."""
    from decimal import ROUND_HALF_UP, Decimal

    from chatdata_spark.operators.textsearch import rrf_fuse

    dfs = []
    for lst in lists:
        rows = [(doc, r + 1) for r, doc in enumerate(lst)] or [(None, None)]
        df = spark.createDataFrame(rows, "doc_id long, rank long")
        if not lst:
            df = df.filter(F.col("doc_id").isNotNull())
        dfs.append(df)
    got = [(r.doc_id, r.rrf) for r in rrf_fuse(dfs, "doc_id", k0=k0, k=k).collect()]

    scores: dict[int, float] = {}
    for lst in lists:
        for r, doc in enumerate(lst):
            scores[doc] = scores.get(doc, 0.0) + 1.0 / (k0 + (r + 1))
    want = sorted(
        (
            (doc, float(Decimal(repr(s)).quantize(Decimal("1e-6"), ROUND_HALF_UP)))
            for doc, s in scores.items()
        ),
        key=lambda x: (-x[1], x[0]),
    )[:k]
    assert got == want


# --- embedding decontamination ≡ brute force ---------------------------------

_vecs = st.lists(
    st.lists(st.integers(-3, 3), min_size=3, max_size=3).filter(lambda v: any(v)),
    min_size=1,
    max_size=8,
)


def _round_half_up(x: float, d: int) -> float:
    """Spark's F.round semantics (HALF_UP on the decimal reading of the
    double) — Python's round() is half-even, which CAN differ at exact
    .5 ties, so references must emulate Spark's mode explicitly."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP))


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tr=_vecs, ev=_vecs, th_pct=st.integers(-50, 90))
def test_embedding_decontam_matches_bruteforce(spark, tr, ev, th_pct):
    """embedding_decontaminate ≡ the all-pairs reference: for every
    (train, eval) pair, cosine computed scalar-sequentially (the JVM
    expression's operand order), rounded HALF_UP to 6, kept iff ≥
    threshold. Proves the GEMM screen's 1e-5 margin loses no true pair at
    any threshold, including negative ones."""
    import math as _math

    from chatdata_spark.operators.decontam import embedding_decontaminate

    th = th_pct / 100.0
    tr_df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(tr)],
        "vec_id long, embedding array<float>",
    )
    ev_df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(ev)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["vec_id"], r["eval_id"], r["cos_sim"])
        for r in embedding_decontaminate(tr_df, ev_df, threshold=th).collect()
    }
    exp = set()
    for i, a in enumerate(tr):
        for j, b in enumerate(ev):
            dot = 0.0
            na = 0.0
            nb = 0.0
            for x, y in zip(a, b):
                dot += float(x) * float(y)
                na += float(x) * float(x)
                nb += float(y) * float(y)
            cs = _round_half_up(dot / (_math.sqrt(na) * _math.sqrt(nb)), 6)
            if cs >= th:
                exp.add((i, j, cs))
    assert got == exp


# --- TF-IDF ≡ Counter reference ----------------------------------------------

_docs = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=6),
    min_size=1,
    max_size=5,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_docs, k=st.integers(1, 4))
def test_tfidf_matches_counter_reference(spark, docs, k):
    """tfidf_top_terms ≡ a Counter-based reference with the same smoothed
    formula, HALF_UP rounding, and (score DESC, term ASC) tie-break; docs
    with no tokens appear on neither side."""
    import math as _math

    from chatdata_spark.operators.textsearch import tfidf_top_terms

    d = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    got = [
        (r["doc_id"], r["term"], r["tf"], r["tfidf"], r["rnk"])
        for r in tfidf_top_terms(d, "doc_id", "text", k=k).orderBy("doc_id", "rnk").collect()
    ]
    n = len(docs)
    tf = {i: {} for i in range(n)}
    for i, ws in enumerate(docs):
        for w in ws:
            tf[i][w] = tf[i].get(w, 0) + 1
    df = {}
    for i in range(n):
        for w in tf[i]:
            df[w] = df.get(w, 0) + 1
    exp = []
    for i in range(n):
        if not tf[i]:
            continue
        dl = sum(tf[i].values())
        scored = [
            (
                w,
                c,
                _round_half_up(
                    (_round_half_up(_math.log((n + 1) / float(df[w] + 1)), 4) + 1.0) * (c / float(dl)),
                    6,
                ),
            )
            for w, c in tf[i].items()
        ]
        scored.sort(key=lambda t: (-t[2], t[0]))
        exp.extend((i, w, c, s, r + 1) for r, (w, c, s) in enumerate(scored[:k]))
    assert got == exp


# --- PageRank ≡ integer reference ---------------------------------------------

_edges = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6)),
    min_size=1,
    max_size=14,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edges, iters=st.integers(0, 3), d_pct=st.sampled_from([0, 50, 85, 100]))
def test_pagerank_matches_integer_reference(spark, edges, iters, d_pct):
    """pagerank ≡ a dict-based reference doing the SAME integer fixed-point
    update — exact equality of the bigint ranks (no tolerance), on random
    multigraphs with parallel edges, self-loops, and dangling nodes (paths
    the symmetric registry query never exercises). Also pins mass
    conservation: total rank never exceeds SCALE (DIV only sheds mass)."""
    from chatdata_spark.operators.graph import SCALE, pagerank

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {(r["node"], r["rank_fp"]) for r in pagerank(df, iterations=iters, damping_pct=d_pct).collect()}

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    tele = ((100 - d_pct) * SCALE // 100) // n
    r = {v: SCALE // n for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v in edges:
            s[v] += r[u] // deg[u]
        dm = sum(r[v] for v in nodes if v not in deg) // n
        r = {v: tele + (d_pct * (s[v] + dm)) // 100 for v in nodes}
    assert got == {(v, r[v]) for v in nodes}
    assert sum(x for _, x in got) <= SCALE


# --- count-min sketch ≡ md5 reference ------------------------------------------

_items = st.lists(st.integers(0, 20), min_size=1, max_size=30)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(a=_items, b=_items, depth=st.integers(1, 3), width=st.sampled_from([2, 8, 64]))
def test_cms_matches_md5_reference(spark, a, b, depth, width):
    """cms_build ≡ a hashlib reference of the same md5 bucketing (exact
    cell equality); merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B); and every
    estimate is ≥ the true count (the CMS one-sided guarantee), with
    equality for items whose cells collide with nothing."""
    import hashlib

    from chatdata_spark.operators.cms import cms_build, cms_estimate, cms_merge

    def bucket(item, r):
        return int(hashlib.md5(f"cms{r}#{item}".encode()).hexdigest()[:8], 16) % width

    da = spark.createDataFrame([(x,) for x in a], "item int")
    db = spark.createDataFrame([(x,) for x in b], "item int")
    sk = cms_build(da.union(db), "item", depth=depth, width=width)
    got = {(r["row_idx"], r["col"], r["cnt"]) for r in sk.collect()}

    ref = {}
    for x in a + b:
        for r in range(depth):
            key = (r, bucket(x, r))
            ref[key] = ref.get(key, 0) + 1
    assert got == {(r, c, n) for (r, c), n in ref.items()}

    merged = cms_merge(
        cms_build(da, "item", depth=depth, width=width),
        cms_build(db, "item", depth=depth, width=width),
    )
    assert {(r["row_idx"], r["col"], r["cnt"]) for r in merged.collect()} == got

    est = {
        r["item"]: r["est_cnt"]
        for r in cms_estimate(sk, da.union(db), "item", depth=depth, width=width).collect()
    }
    true = {}
    for x in a + b:
        true[x] = true.get(x, 0) + 1
    for x, t in true.items():
        assert est[x] >= t
        assert est[x] == min(ref[(r, bucket(x, r))] for r in range(depth))


# --- PMI ≡ Counter reference ----------------------------------------------------

@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_docs, min_count=st.integers(1, 3), k=st.integers(1, 6))
def test_pmi_matches_counter_reference(spark, docs, min_count, k):
    """pmi_top_bigrams ≡ a Counter-based reference applying the SAME fixed
    operand-order float64 PMI formula, round-6, (pmi DESC, w1, w2)
    tie-break and min_count prune."""
    import math as _math

    from chatdata_spark.operators.phrases import pmi_top_bigrams

    d = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    got = [
        (r["w1"], r["w2"], r["cxy"], r["pmi"])
        for r in pmi_top_bigrams(d, "text", min_count=min_count, k=k).collect()
    ]
    uc, bc = {}, {}
    nt = nb = 0
    for ws in docs:
        for w in ws:
            uc[w] = uc.get(w, 0) + 1
            nt += 1
        for x, y in zip(ws, ws[1:]):
            bc[(x, y)] = bc.get((x, y), 0) + 1
            nb += 1
    exp = []
    for (x, y), c in bc.items():
        if c < min_count:
            continue
        pmi = _round_half_up(
            _math.log(((float(c) * nt) * nt) / ((float(nb) * uc[x]) * uc[y])), 6
        )
        exp.append((x, y, c, pmi))
    exp.sort(key=lambda t: (-t[3], t[0], t[1]))
    assert got == exp[:k]


# --- bloom decontamination ≡ exact decontamination ------------------------------

@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_docs, n=st.integers(1, 3), n_bits_pow=st.integers(3, 6))
def test_bloom_decontaminate_equals_exact(spark, docs, n, n_bits_pow):
    """decontaminate_bloom ≡ decontaminate row-for-row on random corpora —
    including TINY blooms (2^3..2^6 bits) where false-positive rates are
    huge, proving the exact verify join strips every FP and blooms'
    no-false-negative guarantee holds end to end."""
    from chatdata_spark.operators.decontam import decontaminate, decontaminate_bloom

    d = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    bench = d.filter((F.col("doc_id") % 2) == 0)
    cols = ["doc_id", "n_shingles", "n_hits", "overlap_frac", "contaminated"]
    exact = {tuple(r[c] for c in cols) for r in decontaminate(d, bench, n=n).collect()}
    bloomed = {
        tuple(r[c] for c in cols)
        for r in decontaminate_bloom(d, bench, n=n, n_bits=1 << n_bits_pow).collect()
    }
    assert bloomed == exact


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=_edges,
    iters=st.integers(0, 3),
    d_pct=st.sampled_from([0, 85, 100]),
    seed_pick=st.integers(0, 6),
)
def test_trustrank_matches_seeded_reference(spark, edges, iters, d_pct, seed_pick):
    """trustrank ≡ a dict reference of the seeded update (teleport, initial
    mass, and dangling all restricted to the seed set); seeds outside the
    graph are ignored; and trustrank(seeds = ALL nodes) is BIT-IDENTICAL
    to pagerank (the special-case algebra the refactor relies on)."""
    from chatdata_spark.operators.graph import SCALE, pagerank, trustrank

    df = spark.createDataFrame(edges, "src int, dst int")
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    seeds = sorted({n for n in nodes if n <= seed_pick}) or [nodes[0]]
    # 99 never appears in the graph — must be ignored by the semi-join
    seeds_df = spark.createDataFrame([(s,) for s in seeds] + [(99,)], "node int")
    got = {
        (r["node"], r["rank_fp"])
        for r in trustrank(df, seeds_df, iterations=iters, damping_pct=d_pct).collect()
    }

    ns = len(seeds)
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    tele = ((100 - d_pct) * SCALE // 100) // ns
    sset = set(seeds)
    r = {v: (SCALE // ns if v in sset else 0) for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v in edges:
            s[v] += r[u] // deg[u]
        dms = sum(r[v] for v in nodes if v not in deg) // ns
        r = {
            v: (tele + (d_pct * (s[v] + dms)) // 100 if v in sset else (d_pct * s[v]) // 100)
            for v in nodes
        }
    assert got == {(v, r[v]) for v in nodes}

    all_df = spark.createDataFrame([(n,) for n in nodes], "node int")
    pr = {(x["node"], x["rank_fp"]) for x in pagerank(df, iterations=iters, damping_pct=d_pct).collect()}
    tr = {(x["node"], x["rank_fp"]) for x in trustrank(df, all_df, iterations=iters, damping_pct=d_pct).collect()}
    assert pr == tr


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edges, steps=st.integers(0, 3), start_max=st.integers(0, 6))
def test_random_walks_match_md5_reference(spark, edges, steps, start_max):
    """random_walks ≡ a Python replay of the same md5 neighbor choice over
    per-src sorted adjacency (duplicate edges weight the choice exactly as
    row_number indexing does); walks STOP at dangling nodes; starts with
    no out-edges still emit their step-0 row."""
    import hashlib

    from chatdata_spark.operators.graph import random_walks

    df = spark.createDataFrame(edges, "src int, dst int")
    starts = spark.createDataFrame([(i,) for i in range(start_max + 1)], "node int")
    got = {
        (r["walk_id"], r["step"], r["node"])
        for r in random_walks(df, starts, steps=steps, salt="walk").collect()
    }

    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
    for u in adj:
        adj[u].sort()
    exp = set()
    for wid in range(start_max + 1):
        node = wid
        exp.add((wid, 0, node))
        for k in range(1, steps + 1):
            nbrs = adj.get(node)
            if not nbrs:
                break
            h = int(hashlib.md5(f"walk{wid}#{k}".encode()).hexdigest()[:8], 16)
            node = nbrs[h % len(nbrs)]
            exp.add((wid, k, node))
    assert got == exp


# --- label propagation ≡ Counter reference -------------------------------------

@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edges, iters=st.integers(0, 3))
def test_label_propagation_matches_counter_reference(spark, edges, iters):
    """label_propagation ≡ a dict/Counter reference doing the SAME
    synchronous argmax-by-(count, min-label) update with self-vote — exact
    label equality on random multigraphs with parallel edges (= multiple
    votes), self-loops, and sink nodes."""
    from collections import Counter

    from chatdata_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        (r["node"], r["label"])
        for r in label_propagation(df, iterations=iters).collect()
    }

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    lbl = {v: v for v in nodes}
    for _ in range(iters):
        votes = {v: Counter() for v in nodes}
        for u, w in edges:
            votes[w][lbl[u]] += 1
        for v in nodes:
            votes[v][lbl[v]] += 1
        lbl = {
            v: max(votes[v].items(), key=lambda kv: (kv[1], -kv[0]))[0]
            for v in nodes
        }
    assert got == {(v, lbl[v]) for v in nodes}


def test_label_propagation_separates_bridged_cliques(spark):
    """Two 4-cliques joined by a single bridge resolve into exactly two
    communities labeled by each clique's smallest node — the dense-region
    separation connected components cannot express (the whole graph is ONE
    component)."""
    import itertools

    from chatdata_spark.operators.components import connected_components
    from chatdata_spark.operators.graph import label_propagation

    def clique(ns):
        return [(a, b) for a, b in itertools.permutations(ns, 2)]

    edges = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10), (10, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, iterations=4).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10, 13: 10}
    # same graph, one component: LPA sees structure components cannot
    comp = connected_components(df, "src", "dst")
    assert comp.select("c").distinct().count() == 1
