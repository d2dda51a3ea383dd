"""BM25 + hybrid RRF search: determinism pins and ranking properties.

The registry-driven oracle comparison (tests/test_correctness.py) covers
full result equality; these tests pin the cross-engine determinism
assumptions and the ranking semantics individually.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from chatdata_spark.operators.textsearch import bm25_topk, rrf_fuse, with_rank
from tests.conftest import SF_ORACLE, duck_con


def test_ln_not_bit_portable_pins_rational_idf_choice(spark):
    """WHY the registered BM25 queries use idf='rational': Java Math.log
    and DuckDB ln disagree by 1 ulp on ~8% of the idf argument domain
    (1 + (N-df+0.5)/(df+0.5), df in 1..N), so Okapi-ln scores are not
    hash-oracle-able. If this test ever FAILS (the engines converged),
    the registered queries can move back to standard Okapi scoring."""
    n = 500
    args = [1.0 + (n - df + 0.5) / (df + 0.5) for df in range(1, n + 1)]
    sdf = spark.createDataFrame([(a,) for a in args], "x double")
    got = [r.y for r in sdf.select(F.log(F.col("x")).alias("y")).collect()]
    con = duck_con(SF_ORACLE)
    want = [
        con.execute("SELECT ln(CAST(? AS DOUBLE))", [a]).fetchone()[0] for a in args
    ]
    ndiff = sum(1 for g, w in zip(got, want) if g != w)
    assert ndiff > 0, "ln is now bit-portable: okapi idf can be oracle-backed"
    # and every disagreement is a single ulp, not a real numeric bug
    assert all(abs(g - w) / w < 1e-15 for g, w in zip(got, want))


def test_bm25_ranks_matching_docs_first(spark):
    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    top = bm25_topk(d, "doc_id", "text", ["vector", "join"], k=10).collect()
    assert len(top) == 10
    scores = [r.score for r in top]
    assert scores == sorted(scores, reverse=True)
    texts = {
        r.doc_id: r.text
        for r in d.filter(F.col("doc_id").isin([t.doc_id for t in top])).collect()
    }
    for r in top:
        t = texts[r.doc_id].lower()
        assert "vector" in t or "join" in t


def test_bm25_topk_prefix_stable(spark):
    """Monotonicity: top-5 is a prefix of top-15 (same ordering)."""
    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    t5 = [r.doc_id for r in bm25_topk(d, "doc_id", "text", ["stream"], k=5).collect()]
    t15 = [r.doc_id for r in bm25_topk(d, "doc_id", "text", ["stream"], k=15).collect()]
    assert t15[:5] == t5


def test_bm25_plans_top_k_not_global_sort(spark):
    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = bm25_topk(d, "doc_id", "text", ["vector"], k=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_rrf_fusion_semantics(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "id long, rank int")
    b = spark.createDataFrame([(3, 1), (4, 2)], "id long, rank int")
    out = {r.id: r.rrf for r in rrf_fuse([a, b], "id", k0=60).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 3: rank 3 + rank 1; both-list membership dominates
    assert out[3] == round(1.0 / 63 + 1.0 / 61, 6)
    assert out[3] > out[1] > out[2]
    assert out[4] == round(1.0 / 62, 6)


def test_with_rank_orders_and_numbers_from_one(spark):
    df = spark.createDataFrame(
        [(10, 0.5), (11, 0.1), (12, 0.5)], "id long, score double"
    )
    ranked = with_rank(df, [F.desc("score"), F.asc("id")]).collect()
    by_id = {r.id: r.rank for r in ranked}
    assert by_id == {10: 1, 12: 2, 11: 3}


def test_stuff_context_budget_semantics(spark):
    """Prefix-under-budget truncation (LangChain drop-from-end ≡ maximal
    relevance-ordered prefix), ref order preserved in the joined string,
    newlines flattened, zero-doc edge when the first doc alone exceeds
    the budget."""
    from chatdata_spark.operators.textsearch import stuff_context

    rows = [
        (1, 0.9, "alpha one\ntwo"),      # 3 tokens after newline flatten
        (2, 0.8, "beta b1 b2 b3"),       # 4 tokens
        (3, 0.7, "gamma g1"),            # 2 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, text string")
    order = [F.desc("score"), F.asc("doc_id")]

    out = stuff_context(df, "text", order, max_tokens=7).collect()[0]
    assert out.n_docs == 2 and out.n_tokens == 7
    assert out.context == "alpha one two\n\nbeta b1 b2 b3"  # flattened + ordered

    # budget cuts mid-list: doc 2 no longer fits, doc 3 is NOT pulled
    # forward (prefix semantics, not knapsack)
    out = stuff_context(df, "text", order, max_tokens=6).collect()[0]
    assert out.n_docs == 1 and out.context == "alpha one two"

    # first doc alone over budget -> empty context
    out = stuff_context(df, "text", order, max_tokens=2).collect()[0]
    assert out.n_docs == 0 and out.n_tokens == 0 and out.context == ""


def test_stuff_context_doc_template_ref_ids(spark):
    """doc_template reproduces the reference's per-doc prompt with the
    injected ref_id in page order (stuff_documents.py:29-33)."""
    from chatdata_spark.operators.textsearch import stuff_context

    rows = [(1, 0.9, "aa bb"), (2, 0.8, "cc")]
    df = spark.createDataFrame(rows, "doc_id long, score double, text string")
    out = stuff_context(
        df, "text", [F.desc("score"), F.asc("doc_id")], max_tokens=10,
        doc_template="Doc #{ref}: {text}",
    ).collect()[0]
    assert out.context == "Doc #0: aa bb\n\nDoc #1: cc"
    assert out.n_tokens == 3  # budget counts raw text tokens, not template


@pytest.mark.parametrize(
    "sf_dir", [SF_ORACLE, "/root/testdata/sf0.1"], ids=["sf0.01", "sf0.1"]
)
def test_retrieval_funnel_invariants_at_scale(spark, sf_dir):
    """The flagship must hold its stage contract at BOTH compare scales —
    the driver smokes entry() at sf0.001 only and the oracle runs at
    sf0.01, so without this the funnel could silently break at bench
    scale (sf0.1). Asserts the 60/30/20/10 page sizes stage by stage and
    the output invariants: exactly 10 rows, mmr_rank = 0..9, distinct
    doc_ids, and non-increasing mmr_score (greedy MMR max scores are
    monotone because each candidate's penalty only ratchets up)."""
    from chatdata_spark.operators.textsearch import rerank_topk
    from chatdata_spark.queries import textsearch as ts
    from chatdata_spark.queries.textsearch import retrieval_funnel_docs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # stage pages, same configs as the flagship
    bm = bm25_topk(d, "doc_id", "text", ts.FUNNEL_Q.split(), k=60,
                   k1=ts.K1, b=ts.B, idf="rational")
    assert bm.count() == 60
    kn60 = with_rank(bm, [F.desc("score"), F.asc("doc_id")])
    fused = rrf_fuse([kn60, kn60], "doc_id", k0=60, k=30)
    assert fused.count() == 30
    cand = fused.join(F.broadcast(d.select("doc_id", "text")), "doc_id")
    assert rerank_topk(cand, "doc_id", "text", ts.FUNNEL_Q, k=20).count() == 20

    rows = retrieval_funnel_docs(spark, sf_dir).collect()
    assert len(rows) == 10
    assert [r.mmr_rank for r in rows] == list(range(10))
    assert len({r.doc_id for r in rows}) == 10
    scores = [r.mmr_score for r in rows]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    assert all(r.rrf > 0 for r in rows)


# --- TF-IDF keyword extraction ----------------------------------------------


def test_tfidf_top_terms_hand_example(spark):
    """Two-doc corpus computed by hand with the smoothed-idf formula:
    idf = round(ln((N+1)/(df+1)), 4) + 1, tfidf = round(idf * tf/dl, 6)."""
    from chatdata_spark.operators.textsearch import tfidf_top_terms

    d = spark.createDataFrame([(1, "a a b"), (2, "b c")], "doc_id long, text string")
    rows = tfidf_top_terms(d, "doc_id", "text", k=5).orderBy("doc_id", "rnk").collect()
    idf_rare = round(math.log(3 / 2), 4) + 1  # df=1 terms (a, c)
    idf_common = round(math.log(3 / 3), 4) + 1  # df=2 term (b)
    exp = [
        (1, "a", 2, round(idf_rare * (2 / 3), 6), 1),
        (1, "b", 1, round(idf_common * (1 / 3), 6), 2),
        (2, "c", 1, round(idf_rare * (1 / 2), 6), 1),
        (2, "b", 1, round(idf_common * (1 / 2), 6), 2),
    ]
    assert [(r["doc_id"], r["term"], r["tf"], r["tfidf"], r["rnk"]) for r in rows] == exp


def test_tfidf_ties_break_on_term_and_k_caps(spark):
    from chatdata_spark.operators.textsearch import tfidf_top_terms

    d = spark.createDataFrame([(1, "y x"), (2, "q")], "doc_id long, text string")
    # x and y: identical tf=1, df=1, dl=2 → identical score; term-asc wins
    rows = tfidf_top_terms(d, "doc_id", "text", k=2).filter(F.col("doc_id") == 1)
    assert [r["term"] for r in rows.orderBy("rnk").collect()] == ["x", "y"]
    capped = tfidf_top_terms(d, "doc_id", "text", k=1)
    assert capped.groupBy("doc_id").count().agg(F.max("count")).first()[0] == 1
