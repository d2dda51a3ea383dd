"""Full-text + hybrid search queries on the ``documents`` table.

BM25 determinism: the score is a fixed-order sum of per-term expressions
whose literals are generated from the SAME Python floats on both sides.
The registered queries use the ``idf='rational'`` (log-free) configuration:
Java Math.log and DuckDB ln disagree by 1 ulp on ~8% of idf arguments
(pinned by tests/test_textsearch.py), so the standard Okapi-ln scoring is
the operator default but not hash-oracle-able; rational idf is exact
arithmetic end-to-end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chatdata_spark.functions.vector import hash_embed
from chatdata_spark.operators.knn import knn
from chatdata_spark.operators.textsearch import bm25_topk, rrf_fuse, with_rank
from chatdata_spark.queries.dialect import _duck_vec
from chatdata_spark.registry import query

TERMS = ["vector", "join", "stream"]
K1, B = 1.2, 0.75
DIM = 64
QH = hash_embed("hybrid", DIM)


def _bm25_oracle_ctes(terms: list[str], k1: float, b: float, limit: int) -> str:
    """CTE chain computing BM25 over ``documents`` with the exact operand
    order of operators/textsearch.py::bm25_topk. Ends with CTE ``bm`` =
    (doc_id, score) top-``limit``."""
    tfs = ",\n               ".join(
        f"COUNT(*) FILTER (term = '{t}') AS tf{i}" for i, t in enumerate(terms)
    )
    dfs = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(len(terms))
    )
    terms_sql = []
    for i in range(len(terms)):
        idf = f"((n - df{i} + 0.5) / (df{i} + 0.5))"
        denom = (
            f"(CAST(tf{i} AS DOUBLE) + {k1!r} * ({1.0 - b!r} + ({b!r} * dl) / avgdl))"
        )
        terms_sql.append(
            f"CASE WHEN tf{i} > 0 THEN ({idf} * (CAST(tf{i} AS DOUBLE) * {k1 + 1.0!r}))"
            f" / {denom} ELSE 0.0 END"
        )
    score = " + ".join(terms_sql)
    return f"""
    tok AS (
        SELECT doc_id AS id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    per_doc AS (
        SELECT id, COUNT(*) AS dl,
               {tfs}
        FROM tok GROUP BY id
    ),
    stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               {dfs}
        FROM per_doc
    ),
    bm AS (
        SELECT id AS doc_id, score FROM (
            SELECT id, ROUND({score}, 6) AS score
            FROM per_doc CROSS JOIN stats
        ) WHERE score > 0
        ORDER BY score DESC, id ASC LIMIT {limit}
    )"""


@query(
    "bm25_text_search",
    oracle=f"""
    WITH {_bm25_oracle_ctes(TERMS, K1, B, 20)}
    SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id ASC
    """,
)
def bm25_text_search(spark, sf_dir):
    """BM25 keyword top-20 over documents (rational-idf oracle config) —
    the keyword half of hybrid retrieval (the reference's MyScale backend
    exposes text+vector hybrid as a platform feature; the engine-side
    ranking lives here)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(d, "doc_id", "text", TERMS, k=20, k1=K1, b=B, idf="rational")


@query(
    "hybrid_rrf_search",
    oracle=f"""
    WITH {_bm25_oracle_ctes(TERMS, K1, B, 50)},
    bmr AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r0
        FROM bm
    ),
    kn AS (
        SELECT vec_id AS doc_id,
               ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_duck_vec(QH)}), 6) AS dist
        FROM embeddings ORDER BY dist ASC, vec_id ASC LIMIT 50
    ),
    knr AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY dist ASC, doc_id ASC) AS r1
        FROM kn
    )
    SELECT COALESCE(bmr.doc_id, knr.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / (60.0 + r0), 0.0) + COALESCE(1.0 / (60.0 + r1), 0.0), 6) AS rrf
    FROM bmr FULL OUTER JOIN knr ON bmr.doc_id = knr.doc_id
    ORDER BY rrf DESC, doc_id ASC LIMIT 20
    """,
)
def hybrid_rrf_search(spark, sf_dir):
    """Hybrid search: reciprocal-rank fusion of the BM25 keyword ranking
    (documents) and the kNN cosine ranking (embeddings; vec_id ≡ doc_id in
    the driver tables). RRF scores are fixed-order sums of exact rationals
    — no float-aggregation nondeterminism."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bm = with_rank(
        bm25_topk(d, "doc_id", "text", TERMS, k=50, k1=K1, b=B, idf="rational"),
        [F.desc("score"), F.asc("doc_id")],
    )
    kn = with_rank(
        knn(emb, "embedding", QH, k=50, select=["vec_id"], id_col="vec_id").select(
            F.col("vec_id").alias("doc_id"), "dist"
        ),
        [F.asc("dist"), F.asc("doc_id")],
    )
    return rrf_fuse([bm, kn], "doc_id", k0=60, k=20)


FUNNEL_Q = "vector join stream"


def _funnel_ctes() -> str:
    """Shared CTE chain for the retrieval funnel oracle: BM25 top-60 →
    kNN top-60 (exact cosine — the router's full probe IS the exact scan)
    → RRF top-30 → overlap-rerank top-20. Ends with CTE ``rr`` =
    (doc_id, rrf, rerank_score)."""
    terms = FUNNEL_Q.split()
    qtoks = "[" + ", ".join(f"'{t}'" for t in sorted(set(terms))) + "]"
    qf = hash_embed(FUNNEL_Q, DIM)
    return f"""
    {_bm25_oracle_ctes(terms, K1, B, 60)},
    bmr AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r0
        FROM bm
    ),
    kn AS (
        SELECT vec_id AS doc_id,
               ROUND(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_duck_vec(qf)}), 6) AS dist
        FROM embeddings ORDER BY dist ASC, vec_id ASC LIMIT 60
    ),
    knr AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY dist ASC, doc_id ASC) AS r1
        FROM kn
    ),
    fused AS (
        SELECT COALESCE(bmr.doc_id, knr.doc_id) AS doc_id,
               ROUND(COALESCE(1.0 / (60.0 + r0), 0.0) + COALESCE(1.0 / (60.0 + r1), 0.0), 6) AS rrf
        FROM bmr FULL OUTER JOIN knr ON bmr.doc_id = knr.doc_id
        ORDER BY rrf DESC, doc_id ASC LIMIT 30
    ),
    rr AS (
        SELECT f.doc_id, f.rrf,
               ROUND(len(list_intersect(list_distinct(
                   regexp_split_to_array(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')), ' ')
               ), {qtoks})) / {float(len(set(terms)))!r}, 6) AS rerank_score
        FROM fused f JOIN documents d ON f.doc_id = d.doc_id
        ORDER BY rerank_score DESC, f.doc_id ASC LIMIT 20
    )"""


def _funnel_expected() -> str:
    """Lazy oracle for retrieval_funnel_docs: every stage up to the rerank
    page is plain SQL (the CTE chain above); the MMR tail replays the
    SHARED deterministic greedy (operators/mmr.py:mmr_greedy — the
    convention mmr_diversified_knn proves) over the rerank page's
    embeddings fetched at sf0.01, and the final SELECT joins its VALUES
    back to the SQL-computed rrf/rerank columns."""
    import duckdb

    import numpy as np

    from chatdata_spark.operators.mmr import mmr_greedy

    from chatdata_spark.catalog import oracle_sf_dir

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{oracle_sf_dir()}/{t}.parquet')"
        )
    rows = con.execute(
        f"""
        WITH {_funnel_ctes()}
        SELECT rr.doc_id, CAST(e.embedding AS DOUBLE[]) AS v
        FROM rr JOIN embeddings e ON rr.doc_id = e.vec_id
        ORDER BY rr.doc_id
        """
    ).fetchall()
    con.close()
    ids = [r[0] for r in rows]
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    qf = hash_embed(FUNNEL_Q, DIM)
    chosen = mmr_greedy(ids, vecs, qf, k=10, lam=0.5)
    values = ", ".join(
        f"(CAST({i} AS BIGINT), CAST({rank} AS INTEGER), CAST({score!r} AS DOUBLE))"
        for rank, (i, score) in enumerate(chosen)
    )
    return f"""
    WITH {_funnel_ctes()},
    mmr AS (SELECT * FROM (VALUES {values}) AS t(doc_id, mmr_rank, mmr_score))
    SELECT m.doc_id, rr.rrf, rr.rerank_score, m.mmr_rank, m.mmr_score
    FROM mmr m JOIN rr ON m.doc_id = rr.doc_id
    ORDER BY m.mmr_rank
    """


@query("retrieval_funnel_docs", oracle=_funnel_expected)
def retrieval_funnel_docs(spark, sf_dir):
    """The reference's END-TO-END user journey (§3.1/3.2 retriever + search
    page) as ONE composed plan — every stage an already-oracled operator:

    1. ANN screen: the kNN template routed through the IVF index
       (plans/router.py, full probe ≡ exact scan; NeuralArray embeds the
       question — myscale_without_metadata.py:19-36 template);
    2. keyword screen: BM25 top-60 (rational-idf oracle config);
    3. hybrid fusion: reciprocal-rank fusion → 30-candidate page;
    4. rerank: the deterministic overlap scorer, the stand-in for the
       reference's cross-encoder → 20;
    5. MMR diversification over the page's embeddings → final 10.

    100 TB shape: stages 1-2 are the only corpus-sized scans (heap top-k,
    partition-pruned under a real n_probe); everything after runs on a
    bounded results page (≤60 rows), so the funnel's cost IS the screen
    cost. Output: (doc_id, rrf, rerank_score, mmr_rank, mmr_score)."""
    from chatdata_spark.operators.mmr import mmr_select

    qf = hash_embed(FUNNEL_Q, DIM)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # Materialize the ≤20-row page ONCE (r12, guide §2.4/§5): it has two
    # downstream consumers (the MMR vector semi-join and the final
    # re-attach join), and each planned its own copy of the ENTIRE
    # ANN+BM25+RRF+rerank corpus subtree — 8 parquet scans / 8 top-k in
    # the final plan (plans/r12/retrieval_funnel_docs_before.txt); the
    # checkpointed page halves that to one funnel pass at any scale.
    # (tests/test_plans.py asserts the top-k contract on _funnel_page's
    # pre-checkpoint plan.)
    page = _funnel_page(spark, sf_dir).localCheckpoint()
    # 5. MMR diversify over the page's embeddings
    vecs = emb.select(F.col("vec_id").alias("doc_id"), "embedding").join(
        F.broadcast(page.select("doc_id")), "doc_id"
    )
    mmr = mmr_select(vecs, "embedding", qf, k=10, id_col="doc_id", fetch_n=20, lam=0.5)
    return (
        mmr.join(F.broadcast(page), "doc_id")
        .select("doc_id", "rrf", "rerank_score", "mmr_rank", "mmr_score")
        .orderBy("mmr_rank")
    )


def _funnel_page(spark, sf_dir):
    """Funnel stages 1-4 (routed ANN screen, BM25 screen, RRF fusion,
    rerank) → the ≤20-row (doc_id, rrf, rerank_score) page — the
    corpus-touching part of retrieval_funnel_docs, pre-checkpoint."""
    from chatdata_spark.catalog import register_views, shared_cache_path
    from chatdata_spark.operators.ivf import build_or_load_ivf
    from chatdata_spark.operators.textsearch import rerank_topk
    from chatdata_spark.plans.router import VectorQueryRouter
    from chatdata_spark.queries.dialect import DIALECT

    terms = FUNNEL_Q.split()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # 1. routed ANN screen (same shared index the dialect queries build)
    emb = register_views(spark, sf_dir, ["embeddings"])["embeddings"]
    idx = build_or_load_ivf(
        spark, emb, shared_cache_path("ivf", sf_dir, "k8"), "vec_id", "embedding", 8
    )
    router = VectorQueryRouter(DIALECT, {"embeddings": idx})
    kn = router.execute(
        spark,
        f"""
        SELECT vec_id FROM embeddings
        ORDER BY DISTANCE(embedding, NeuralArray({FUNNEL_Q})) AS dist ASC, vec_id ASC
        LIMIT 60
        """,
    )
    kn = with_rank(
        kn.select(F.col("vec_id").alias("doc_id"), "dist"),
        [F.asc("dist"), F.asc("doc_id")],
    )
    # 2. keyword screen
    bm = with_rank(
        bm25_topk(d, "doc_id", "text", terms, k=60, k1=K1, b=B, idf="rational"),
        [F.desc("score"), F.asc("doc_id")],
    )
    # 3. hybrid fusion to a bounded page
    fused = rrf_fuse([bm, kn], "doc_id", k0=60, k=30)
    # 4. rerank the page with the overlap scorer.
    # Broadcast the ≤30-row fused page, NOT the corpus (r11 opt, guide
    # §3.1): the old hint built a hash relation over every (doc_id, text)
    # row — harmless at sf0.1 but the wrong side at 100 TB, where the
    # page is the only broadcastable operand. Same rows, same columns.
    cand = F.broadcast(fused).join(d.select("doc_id", "text"), "doc_id")
    return rerank_topk(cand, "doc_id", "text", FUNNEL_Q, k=20).select(
        "doc_id", "rrf", "rerank_score"
    )


@query(
    "phrase_proximity_docs",
    oracle=r"""
    WITH nw AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents
    ),
    pa AS (
        SELECT doc_id, unnest([i for i in generate_series(1, len(w)) if w[i] = 'vector']) AS p
        FROM nw
    ),
    pb AS (
        SELECT doc_id, unnest([i for i in generate_series(1, len(w)) if w[i] = 'join']) AS p
        FROM nw
    ),
    near AS (
        SELECT DISTINCT pa.doc_id FROM pa JOIN pb
          ON pa.doc_id = pb.doc_id AND abs(pa.p - pb.p) <= 3
    )
    SELECT nw.doc_id,
           contains(nw.norm, 'table hash') AS phrase_hit,
           nw.doc_id IN (SELECT doc_id FROM near) AS near_hit
    FROM nw ORDER BY nw.doc_id
    """,
)
def phrase_proximity_docs(spark, sf_dir):
    """Full-text predicates beyond bag-of-words BM25: exact-phrase match
    ('table hash' under the normalization convention) and unordered
    NEAR/3 proximity ('vector' within 3 words of 'join') — both scan-stage
    JVM expressions (operators/textsearch.py:phrase_match/proximity_match),
    no shuffle, no UDF. Oracle recomputes positions relationally."""
    from chatdata_spark.operators.dedup import _spread
    from chatdata_spark.operators.textsearch import phrase_match, proximity_match

    # scan-stage by design; _spread parallelizes the normalization +
    # position HOFs on the 1-partition local file, no-op at scale
    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    return d.select(
        "doc_id",
        phrase_match(d, "text", "table hash").alias("phrase_hit"),
        proximity_match(d, "text", "vector", "join", 3).alias("near_hit"),
    ).orderBy("doc_id")


def _qa_context_expected() -> str:
    """Lazy oracle for qa_context_assembly: the funnel through MMR is the
    retrieval_funnel_docs oracle (SQL + shared-greedy VALUES); the stuff
    stage is plain SQL over those rows — join back to documents in MMR
    order, flatten newlines, keep the maximal prefix under the token
    budget, join with the ref_id template."""
    import duckdb

    import numpy as np

    from chatdata_spark.operators.mmr import mmr_greedy

    from chatdata_spark.catalog import oracle_sf_dir

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{oracle_sf_dir()}/{t}.parquet')"
        )
    rows = con.execute(
        f"""
        WITH {_funnel_ctes()}
        SELECT rr.doc_id, CAST(e.embedding AS DOUBLE[]) AS v
        FROM rr JOIN embeddings e ON rr.doc_id = e.vec_id
        ORDER BY rr.doc_id
        """
    ).fetchall()
    con.close()
    ids = [r[0] for r in rows]
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    chosen = mmr_greedy(ids, vecs, hash_embed(FUNNEL_Q, DIM), k=10, lam=0.5)
    values = ", ".join(
        f"(CAST({i} AS BIGINT), CAST({rank} AS INTEGER))"
        for rank, (i, _) in enumerate(chosen)
    )
    return rf"""
    WITH mmr AS (SELECT * FROM (VALUES {values}) AS t(doc_id, mmr_rank)),
    page AS (
        SELECT m.mmr_rank, replace(d.text, chr(10), ' ') AS txt
        FROM mmr m JOIN documents d ON m.doc_id = d.doc_id
    ),
    cum AS (
        SELECT mmr_rank, txt, len(regexp_extract_all(txt, '\S+')) AS t,
               SUM(len(regexp_extract_all(txt, '\S+'))) OVER (
                   ORDER BY mmr_rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c
        FROM page
    )
    SELECT COALESCE(string_agg('Doc #' || CAST(mmr_rank AS VARCHAR) || ': ' || txt,
                               e'\n\n' ORDER BY mmr_rank), '') AS context,
           COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(t), 0) AS BIGINT) AS n_tokens
    FROM cum WHERE c <= 300
    """


@query("qa_context_assembly", oracle=_qa_context_expected)
def qa_context_assembly(spark, sf_dir):
    """The COMPLETE §3 lifecycle as one composed query: the retrieval
    funnel (routed ANN + BM25 → RRF → rerank → MMR,
    retrieval_funnel_docs) feeding the QA chain's context assembly
    (stuff_context — ref_id template, newline flatten, token-budget
    prefix). What the reference's retriever hands its LLM call
    (stuff_documents.py + build_chains.py max_tokens_limit), minus the
    model: one row (context, n_docs, n_tokens). MMR page order becomes
    the stuff ref order — 'Doc #n' in the context resolves to the n-th
    diversified hit. Scale note: the page-text fetch here is one
    broadcast-join scan of documents (honest at bench scale); a 100 TB
    deployment keys the corpus with the sorted layout
    (operators/layout.py) so the 10-id fetch prunes to O(files-in-range)
    instead of scanning."""
    from chatdata_spark.operators.textsearch import stuff_context

    page = retrieval_funnel_docs(spark, sf_dir).select("doc_id", "mmr_rank")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    joined = d.join(F.broadcast(page), "doc_id")
    return stuff_context(
        joined, "text", [F.asc("mmr_rank")], max_tokens=300,
        doc_template="Doc #{ref}: {text}",
    )


@query(
    "stuff_context_docs",
    oracle=r"""
    WITH scored AS (
        SELECT doc_id,
               replace(text, chr(10), ' ') AS txt,
               ROUND(len(list_intersect(list_distinct(
                   regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
               ), ['join', 'stream', 'vector'])) / 3.0, 6) AS rerank_score
        FROM documents
    ),
    page AS (
        SELECT doc_id, txt, rerank_score,
               ROW_NUMBER() OVER (ORDER BY rerank_score DESC, doc_id ASC) AS rn
        FROM scored ORDER BY rerank_score DESC, doc_id ASC LIMIT 10
    ),
    cum AS (
        SELECT rn, txt, len(regexp_extract_all(txt, '\S+')) AS t,
               SUM(len(regexp_extract_all(txt, '\S+'))) OVER (
                   ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c
        FROM page
    )
    SELECT COALESCE(string_agg('Doc #' || CAST(rn - 1 AS VARCHAR) || ': ' || txt,
                               e'\n\n' ORDER BY rn), '') AS context,
           COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(t), 0) AS BIGINT) AS n_tokens
    FROM cum WHERE c <= 300
    """,
)
def stuff_context_docs(spark, sf_dir):
    """The QA chain's final context assembly as an engine operator
    (operators/textsearch.py:stuff_context — the reference's
    CustomStuffDocumentChain join + RetrievalQAWithSourcesChain
    max_tokens_limit truncation, stuff_documents.py:28-42 /
    build_chains.py:37): rerank the corpus to a 10-doc page, then keep
    the maximal relevance-ordered prefix under a 300-token budget and
    join it into one prompt string. Output: (context, n_docs, n_tokens) —
    one row; the oracle replays page ordering, cumulative budget, and the
    exact joined string."""
    from chatdata_spark.operators.textsearch import rerank_topk, stuff_context

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    page = rerank_topk(d, "doc_id", "text", FUNNEL_Q, k=10)
    return stuff_context(
        page, "text",
        [F.desc("rerank_score"), F.asc("doc_id")],
        max_tokens=300,
        doc_template="Doc #{ref}: {text}",
    )


@query(
    "rerank_snippet_search",
    oracle=r"""
    WITH nw AS (
        SELECT doc_id,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents
    ),
    scored AS (
        SELECT doc_id, w,
               ROUND(len(list_intersect(list_distinct(w), ['join', 'stream', 'vector'])) / 3.0, 6)
                 AS rerank_score
        FROM nw
    ),
    top AS (
        SELECT * FROM scored ORDER BY rerank_score DESC, doc_id ASC LIMIT 10
    ),
    pos AS (
        SELECT doc_id, w, rerank_score,
               [i for i in generate_series(1, len(w))
                if list_contains(['join', 'stream', 'vector'], w[i])] AS hits
        FROM top
    )
    SELECT doc_id, rerank_score,
           array_to_string(
               w[greatest(coalesce(hits[1], 1) - 4, 1):
                 greatest(coalesce(hits[1], 1) - 4, 1) + 8], ' ') AS snip
    FROM pos ORDER BY rerank_score DESC, doc_id
    """,
)
def rerank_snippet_search(spark, sf_dir):
    """The retrieval funnel's tail: rerank candidates by the deterministic
    overlap scorer (the stand-in for the reference's cross-encoder) and
    attach a 9-word highlight snippet centered on the first query-term
    hit — both scan-stage JVM expressions (operators/textsearch.py:rerank_topk/
    snippet)."""
    from chatdata_spark.operators.textsearch import rerank_topk, snippet

    q = "vector join stream"
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    top = rerank_topk(d, "doc_id", "text", q, k=10)
    return (
        top.select("doc_id", "rerank_score", snippet("text", q, window=4).alias("snip"))
        .orderBy(F.desc("rerank_score"), F.asc("doc_id"))
    )
