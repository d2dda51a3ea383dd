#!/usr/bin/env python
"""ANN quality-vs-cost curves: recall@10 and wall time per operating point
for every approximate search family (IVF n_probe, LSH tables x bits, PQ
refine depth, binary-Hamming rerank depth, Matryoshka prefix width) at
$SPARK_GRAFT_SF_DIR (default sf0.1).

This is the artifact a 100 TB operator tunes with: unit tests pin recall
POINTWISE (one config each); this sweep shows the whole trade-off curve and
writes it to RECALL.md. Re-run after changing any ANN operator:

    python tools/recall_curves.py            # rewrites RECALL.md
    python tools/recall_curves.py --json     # machine-readable line instead

Coarse curve invariants (monotone recall in probe depth, floor values at
the recommended operating points) are pinned by tests/test_recall_curves.py
at sf0.01 via the same sweep functions.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F  # noqa: E402

from chatdata_spark.functions.vector import hash_embed  # noqa: E402
from chatdata_spark.operators.knn import knn  # noqa: E402

DIM = 64
K = 10


def _queries(n: int) -> list[list[float]]:
    return [hash_embed(f"recall query {i}", DIM) for i in range(n)]


def _exact_ids(emb, qvec) -> list:
    rows = knn(emb, "embedding", qvec, k=K, select=["vec_id"], id_col="vec_id").collect()
    return [r.vec_id for r in rows]


def _recall(got_ids, exact_ids) -> float:
    return len(set(got_ids) & set(exact_ids)) / float(len(exact_ids))


def _run(search_fn, emb, qvecs) -> tuple[float, float]:
    """(mean recall@10, mean seconds/query). One untimed warm query first
    (JIT/codegen), then each query timed to completion via collect — these
    are per-query top-k jobs, so collect of k rows is the honest sink."""
    exact = [_exact_ids(emb, q) for q in qvecs]
    search_fn(qvecs[0]).collect()
    recs, t0 = [], time.perf_counter()
    for q, ex in zip(qvecs, exact):
        got = [r.vec_id for r in search_fn(q).collect()]
        recs.append(_recall(got, ex))
    dt = (time.perf_counter() - t0) / len(qvecs)
    return sum(recs) / len(recs), dt


def sweep_ivf(spark, sf_dir, qvecs) -> list[dict]:
    from chatdata_spark.queries.vector import _ivf_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = _ivf_index(spark, sf_dir)  # shared 8-cluster index
    out = []
    for n_probe in (1, 2, 4, 8):
        rec, dt = _run(
            lambda q, n=n_probe: idx.search(q, k=K, n_probe=n, select=["vec_id"]),
            emb, qvecs,
        )
        out.append({"family": "ivf", "param": f"n_probe={n_probe}/8",
                    "recall@10": round(rec, 3), "sec/query": round(dt, 4)})
    return out


def sweep_lsh(spark, sf_dir, qvecs) -> list[dict]:
    from chatdata_spark.operators.dedup import _spread
    from chatdata_spark.operators.lsh import lsh_search, with_lsh_keys

    emb = _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    out = []
    for n_tables, n_bits in ((8, 4), (16, 6), (8, 6), (8, 10), (16, 8)):
        keyed = with_lsh_keys(emb, "embedding", DIM, n_tables=n_tables, n_bits=n_bits)
        keyed = keyed.persist()
        keyed.count()  # signature build outside timing (index build cost)
        rec, dt = _run(
            lambda q, t=n_tables, b=n_bits, kd=keyed: lsh_search(
                kd, "embedding", q, k=K, n_tables=t, n_bits=b, select=["vec_id"]
            ),
            emb, qvecs,
        )
        keyed.unpersist()
        out.append({"family": "lsh", "param": f"tables={n_tables},bits={n_bits}",
                    "recall@10": round(rec, 3), "sec/query": round(dt, 4)})
    return out


def sweep_pq(spark, sf_dir, qvecs) -> list[dict]:
    from chatdata_spark.queries.vector import _pq_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = _pq_index(spark, sf_dir)
    out = []
    for refine in (1, 2, 4, 8):
        rec, dt = _run(
            lambda q, r=refine: idx.search(emb, q, k=K, refine=r, select=["vec_id"]),
            emb, qvecs,
        )
        out.append({"family": "pq", "param": f"m=8,refine={refine}",
                    "recall@10": round(rec, 3), "sec/query": round(dt, 4)})
    return out


def sweep_binary(spark, sf_dir, qvecs) -> list[dict]:
    from chatdata_spark.operators.binquant import binary_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = []
    for rerank in (K, 2 * K, 4 * K, 8 * K):
        rec, dt = _run(
            lambda q, r=rerank: binary_knn(
                emb, "embedding", q, dim=DIM, k=K, id_col="vec_id",
                select=["vec_id"], rerank=r,
            ),
            emb, qvecs,
        )
        out.append({"family": "binary", "param": f"rerank={rerank}",
                    "recall@10": round(rec, 3), "sec/query": round(dt, 4)})
    return out


def sweep_matryoshka(spark, sf_dir, qvecs) -> list[dict]:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = []
    for d in (8, 16, 32, 64):
        sliced = emb.select("vec_id", F.slice("embedding", 1, d).alias("e"))
        rec, dt = _run(
            lambda q, dd=d, s=sliced: knn(
                s, "e", q[:dd], k=K, select=["vec_id"], id_col="vec_id"
            ),
            emb, qvecs,
        )
        out.append({"family": "matryoshka", "param": f"dims={d}/64",
                    "recall@10": round(rec, 3), "sec/query": round(dt, 4)})
    return out


def sweep_pca(spark, sf_dir, qvecs) -> list[dict]:
    """PCA prefix widths: fit ONCE at r=32 and slice the projection —
    components are variance-ordered, so the top-r projection IS the
    r-prefix of the r=32 one. Cosine kNN in projected space, like the
    matryoshka sweep it generalizes (data-driven basis vs raw prefix)."""
    from chatdata_spark.operators.pca import pca_fit, pca_project, pca_project_rows

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pca_fit(emb, "embedding", r=32)
    proj = pca_project(emb, "embedding", model, "p").select("vec_id", "p")
    out = []
    for d in (8, 16, 32):
        sliced = proj.select("vec_id", F.slice("p", 1, d).alias("e"))
        out_q = lambda q, dd=d, s=sliced: knn(
            s, "e", [float(x) for x in pca_project_rows([q], model)[0][:dd]],
            k=K, select=["vec_id"], id_col="vec_id",
        )
        rec, dt = _run(out_q, emb, qvecs)
        out.append({"family": "pca", "param": f"r={d}/64",
                    "recall@10": round(rec, 3), "sec/query": round(dt, 4)})
    return out


def sweep_sq8(spark, sf_dir, qvecs) -> list[dict]:
    """SQ8 rerank depths: calibrate ONCE (the frozen-grid production
    posture — an index-build cost like the LSH signature build), then the
    symmetric 8-bit screen at increasing exact-rerank depth (binary's
    sibling at 8-bit resolution / 4x compression)."""
    from chatdata_spark.operators.sq8 import sq8_calibrate, sq8_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cal = sq8_calibrate(emb, "embedding", DIM)
    out = []
    for rerank in (None, K, 2 * K, 4 * K):
        rec, dt = _run(
            lambda q, r=rerank: sq8_knn(
                emb, "embedding", q, dim=DIM, k=K, id_col="vec_id",
                select=["vec_id"], calibration=cal, rerank=r,
            ),
            emb, qvecs,
        )
        out.append({"family": "sq8", "param": f"rerank={rerank or 'pure'}",
                    "recall@10": round(rec, 3), "sec/query": round(dt, 4)})
    return out


SWEEPS = [sweep_ivf, sweep_lsh, sweep_pq, sweep_binary, sweep_sq8, sweep_matryoshka, sweep_pca]


def run_all(spark, sf_dir, n_queries=8) -> list[dict]:
    qvecs = _queries(n_queries)
    rows = []
    for sweep in SWEEPS:
        rows.extend(sweep(spark, sf_dir, qvecs))
    return rows


def _render(rows: list[dict], sf_dir: str, n_queries: int) -> str:
    lines = [
        "# ANN recall-vs-cost curves",
        "",
        f"Generated by `python tools/recall_curves.py` at `{sf_dir}`, "
        f"recall@10 averaged over {n_queries} hash-embed queries; sec/query is a "
        "warm single-query latency (top-k job incl. collect of k rows) on "
        "local[32]. Exact baseline: full-scan cosine kNN.",
        "",
        "**Read the absolute numbers with the fixture in mind**: the test",
        "embeddings are hash-stub vectors — i.i.d.-random, with NONE of the",
        "cluster structure real sentence embeddings have. Random vectors are",
        "the worst case for every ANN family (neighbors are barely nearer",
        "than non-neighbors), so these recalls are a FLOOR; on a real corpus",
        "the same operating points land far higher. The curve SHAPES and",
        "orderings are what transfers.",
        "",
        "Operating-point guidance (coarse invariants pinned by",
        "tests/test_recall_curves.py):",
        "- Recall is monotone in probe depth within every family (n_probe,",
        "  PQ refine, binary rerank, matryoshka width) — tune by walking the",
        "  curve, cost grows sub-linearly along it here.",
        "- IVF: `n_probe=4/8` is the knee (recall ~3x n_probe=1 at ~70% of",
        "  its latency — probing MORE clusters is faster than stragglers on",
        "  one); full probe = exact, the oracle config.",
        "- LSH on low-structure vectors favors MORE tables x FEWER bits",
        "  (8x4 and 16x6 dominate 8x10 by 6-10x recall at similar cost).",
        "- PQ m=8: refine=8 for the best recall/cost here; refine is nearly",
        "  free (rerank is a broadcast semi-join on ≤80 ids).",
        "- Binary Hamming is the cheapest screen per byte (32x smaller scan);",
        "  pair `rerank>=8k` with a downstream exact stage.",
        "- SQ8 is the highest-recall quantizer per byte spent (8 bits/dim:",
        "  ~0.8 recall PURE, 1.0 at rerank=2k even on random vectors — the",
        "  codebook-free default when 4x compression suffices). Its",
        "  sec/query here is dominated by literal-heavy plan COMPILATION",
        "  (64 per-dim grid exprs per fresh query vector — a per-query",
        "  constant); the data-path is scan-stage integer codegen, so at",
        "  corpus scale the cost curve flattens onto binary's.",
        "- Matryoshka prefixes track d/64 on random vectors (no information",
        "  concentration to exploit) — use ONLY with MRL-trained embeddings,",
        "  where the prefix is constructed to carry the semantics.",
        "- PCA projections (operators/pca.py) measure the SAME floor here",
        "  (r/64, within noise of the raw prefix): an i.i.d.-random fixture",
        "  has a flat eigenspectrum, so there is no variance to",
        "  concentrate — which is itself the check that the fit is sane.",
        "  On real embeddings PCA concentrates variance and is the",
        "  data-driven reducer to prefer at equal r.",
        "",
        "| family | operating point | recall@10 | sec/query |",
        "|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['family']} | {r['param']} | {r['recall@10']} | {r['sec/query']} |"
        )
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    from chatdata_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="chatdata_spark_recall")
    spark.sparkContext.setLogLevel("ERROR")
    n_queries = 8
    rows = run_all(spark, sf_dir, n_queries)
    if "--json" in sys.argv:
        print(json.dumps(rows))
    else:
        path = os.path.join(REPO, "RECALL.md")
        with open(path, "w") as f:
            f.write(_render(rows, sf_dir, n_queries))
        print(f"wrote {path} ({len(rows)} operating points)", file=sys.stderr)
        for r in rows:
            print(r, file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
