"""Injection-seam tests: every container-constrained stub (embedding
model, tokenizer, cross-encoder, media decoder) must be swappable by
config, with the reference-shaped pipeline unchanged around it — the stubs
are defaults, not hardcoded paths (round-1 gap items 1/2 + multimodal
seam)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from chatdata_spark.catalog import CHAT_ARXIV
from chatdata_spark.functions import embedders
from chatdata_spark.functions.embedders import embedder_udf, register_embedder
from chatdata_spark.operators.multimodal import (
    decode_metadata,
    docs_as_media,
    extract_features,
)
from tests.conftest import SF_SMOKE


def _const_factory(dim):
    @F.pandas_udf("array<float>")
    def _f(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: [float(len(t or ""))] * dim)

    return _f


def test_embedder_registry_per_table_binding(spark, monkeypatch):
    """Registering a factory under the model name a TableConfig declares
    must route that table's embed_udf through it — the reference's
    per-table model binding (myscale_tables.py:90-92,117-120). The
    registry slot is scoped with monkeypatch, so teardown leaves the
    module's registry as it found it."""
    name = "hkunlp/instructor-xl"
    monkeypatch.setitem(embedders._EMBEDDERS, name, None)
    register_embedder(name, _const_factory)
    df = spark.createDataFrame([("abcd",), ("xy",)], "abstract string")
    out = df.withColumn("v", CHAT_ARXIV.embed_udf()(F.col("abstract"))).collect()
    vecs = {r.abstract: r.v for r in out}
    assert vecs["abcd"][0] == 4.0 and vecs["xy"][0] == 2.0
    assert len(vecs["abcd"]) == CHAT_ARXIV.vector_dim
    # an unregistered name falls back to the deterministic stub
    monkeypatch.delitem(embedders._EMBEDDERS, name)
    v1 = spark.range(1).select(embedder_udf(name, 8)(F.lit("x"))).collect()
    v2 = spark.range(1).select(embedder_udf("hash", 8)(F.lit("x"))).collect()
    assert v1[0][0] == v2[0][0]


def test_multimodal_injected_decoder_end_to_end(spark):
    media = docs_as_media(spark, SF_SMOKE)

    def decoder(content: bytes, media_type: str):
        return (len(content) % 100 + 1, 42, 3 if media_type == "video" else 1)

    meta = decode_metadata(media, decoder=decoder)
    got = meta.limit(20).collect()
    assert got and all(r.height == 42 for r in got)
    assert all(r.width == r.n_bytes % 100 + 1 for r in got)
    assert all((r.n_frames == 3) == (r.media_type == "video") for r in got)


def test_multimodal_injected_featurizer_feeds_knn(spark):
    from chatdata_spark.operators.knn import knn

    media = docs_as_media(spark, SF_SMOKE)

    def featurizer(content: bytes):
        return [float(len(content) % 7 + 1)] * 8

    feats = extract_features(media, featurizer=featurizer)
    top = knn(feats, "features", [1.0] * 8, k=10, select=["media_id"], id_col="media_id")
    rows = top.collect()
    assert len(rows) == 10
    assert all(r.dist is not None for r in rows)


def test_to_documents_max_string_length(spark):
    """S9 + the reference's SQLDatabase(max_string_length=1024) truncation
    (build_retrievers.py:109) as an explicit projection option."""
    import json

    from chatdata_spark.catalog import to_documents

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    docs = to_documents(
        d, "text", ["doc_id", "lang", "source"], max_string_length=16
    ).limit(50)
    rows = docs.collect()
    assert rows and docs.columns == ["page_content", "metadata"]
    assert all(len(r.page_content) <= 16 for r in rows)
    # string metadata truncated too; non-string (doc_id) untouched
    for r in rows:
        m = json.loads(r.metadata)
        assert isinstance(m["doc_id"], int)
        assert len(m["lang"]) <= 16 and len(m["source"]) <= 16
    # no limit -> full text, identical row count
    full = to_documents(d, "text", ["doc_id"]).limit(50).collect()
    assert any(len(r.page_content) > 16 for r in full)


def test_env_gated_real_model_dispatch(spark, monkeypatch):
    """SPARK_GRAFT_EMBED_MODEL escape hatch: set + sentence-transformers
    importable -> the real-model factory wins for unregistered names;
    unset or unimportable -> hash stub. The container ships no weights, so
    a fake sentence_transformers module proves the dispatch (encode path
    included) without downloading anything."""
    import sys
    import types

    import numpy as np

    from chatdata_spark.functions.embedders import (
        make_sentence_transformer_factory,
        maybe_real_embedder,
    )

    # unset -> None (stub remains default)
    monkeypatch.delenv("SPARK_GRAFT_EMBED_MODEL", raising=False)
    assert maybe_real_embedder() is None

    # set but not importable -> None
    monkeypatch.setenv("SPARK_GRAFT_EMBED_MODEL", "all-mpnet-base-v2")
    monkeypatch.setitem(sys.modules, "sentence_transformers", None)
    try:
        assert maybe_real_embedder() is None
    finally:
        sys.modules.pop("sentence_transformers", None)

    # set + importable -> factory dispatches and the UDF runs the model
    fake = types.ModuleType("sentence_transformers")

    class _FakeST:
        def __init__(self, name):
            self.name = name

        def encode(self, texts, normalize_embeddings=False):
            return np.array([[float(len(t)), float(len(self.name))] for t in texts])

    fake.SentenceTransformer = _FakeST
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)
    factory = maybe_real_embedder()
    assert factory is not None
    # Python workers are separate processes, so the fake module exists only
    # driver-side — run the UDF's wrapped function directly to exercise the
    # lazy in-UDF model load + encode path (the closure captures only the
    # model-name string, so it pickles to real workers cleanly).
    udf = make_sentence_transformer_factory("all-mpnet-base-v2")(0)
    got = udf.func(pd.Series(["abc", "hello", None]))
    assert [tuple(v) for v in got] == [(3.0, 17.0), (5.0, 17.0), (0.0, 17.0)]


def test_env_gated_tokenizer_dispatch(spark, monkeypatch):
    """SPARK_GRAFT_TOKENIZER escape hatch: unset or tiktoken unimportable
    -> None (JVM regex token_count_bpe stays the default); set + importable
    -> an Arrow UDF counting real BPE tokens (fake module, driver-side)."""
    import sys
    import types

    from chatdata_spark.functions.text import token_count_udf

    monkeypatch.delenv("SPARK_GRAFT_TOKENIZER", raising=False)
    assert token_count_udf() is None

    monkeypatch.setenv("SPARK_GRAFT_TOKENIZER", "cl100k_base")
    monkeypatch.setitem(sys.modules, "tiktoken", None)
    try:
        assert token_count_udf() is None
    finally:
        sys.modules.pop("tiktoken", None)

    class _Enc:
        def encode(self, t):
            return t.split()  # fake: one token per word

    fake = types.ModuleType("tiktoken")
    fake.get_encoding = lambda name: _Enc()
    monkeypatch.setitem(sys.modules, "tiktoken", fake)
    udf = token_count_udf()
    assert udf is not None
    got = list(udf.func(pd.Series(["a b c", "hello", None])))
    assert got == [3, 1, 0]


def test_env_gated_cross_encoder_dispatch(spark, monkeypatch):
    """SPARK_GRAFT_CROSS_ENCODER escape hatch for the rerank stage: unset
    or unimportable -> None (overlap stub); set + importable -> an Arrow
    UDF scoring (query, text) pairs (fake module, driver-side)."""
    import sys
    import types

    from chatdata_spark.operators.textsearch import maybe_cross_encoder

    monkeypatch.delenv("SPARK_GRAFT_CROSS_ENCODER", raising=False)
    assert maybe_cross_encoder("q") is None

    monkeypatch.setenv("SPARK_GRAFT_CROSS_ENCODER", "cross-encoder/ms-marco")
    monkeypatch.setitem(sys.modules, "sentence_transformers", None)
    try:
        assert maybe_cross_encoder("q") is None
    finally:
        sys.modules.pop("sentence_transformers", None)

    class _CE:
        def __init__(self, name):
            pass

        def predict(self, pairs):
            return [float(len(q) + len(t)) for q, t in pairs]

    fake = types.ModuleType("sentence_transformers")
    fake.CrossEncoder = _CE
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)
    udf = maybe_cross_encoder("ab")
    assert udf is not None
    got = list(udf.func(pd.Series(["xyz", None])))
    assert got == [5.0, 2.0]


def _install_fake_st(monkeypatch, counter):
    """Fake sentence_transformers that counts model constructions — the
    per-process singleton assertion rides on it."""
    import sys
    import types

    import numpy as np

    fake = types.ModuleType("sentence_transformers")

    class _FakeST:
        def __init__(self, name):
            counter["st"] = counter.get("st", 0) + 1
            self.name = name

        def encode(self, texts, normalize_embeddings=False):
            return np.array([[float(len(t))] for t in texts])

    class _FakeCE:
        def __init__(self, name):
            counter["ce"] = counter.get("ce", 0) + 1
            self.name = name

        def predict(self, pairs):
            return [float(len(t)) for _, t in pairs]

    fake.SentenceTransformer = _FakeST
    fake.CrossEncoder = _FakeCE
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)
    return fake


def test_embedder_udf_identity_and_process_singleton(monkeypatch):
    """Repo UDF rules on the real-model seam: (a) repeated factory calls
    return the SAME UDF object (CacheManager plan equality), (b) the model
    constructs once per process, not once per Arrow batch."""
    counter = {}
    _install_fake_st(monkeypatch, counter)
    monkeypatch.setattr(embedders, "_ST_UDFS", {})
    u1 = embedders.make_sentence_transformer_factory("m-a")(0)
    u2 = embedders.make_sentence_transformer_factory("m-a")(16)
    assert u1 is u2
    # two batches through the wrapped fn -> one construction
    u1.func(pd.Series(["ab", "c"]))
    u1.func(pd.Series(["defg"]))
    assert counter["st"] == 1
    # a different model name is a different UDF and its own singleton
    u3 = embedders.make_sentence_transformer_factory("m-b")(0)
    assert u3 is not u1


def test_cross_encoder_udf_identity_and_process_singleton(monkeypatch):
    from chatdata_spark.operators import textsearch

    counter = {}
    _install_fake_st(monkeypatch, counter)
    monkeypatch.setenv("SPARK_GRAFT_CROSS_ENCODER", "ce-model")
    monkeypatch.setattr(textsearch, "_CE_UDFS", {})
    u1 = textsearch.maybe_cross_encoder("what is spark")
    u2 = textsearch.maybe_cross_encoder("what is spark")
    assert u1 is not None and u1 is u2
    out1 = u1.func(pd.Series(["abc", None]))
    out2 = u1.func(pd.Series(["zz"]))
    assert list(out1) == [3.0, 0.0] and list(out2) == [2.0]
    assert counter["ce"] == 1
    # distinct query -> distinct UDF object (the query is baked into it)
    u3 = textsearch.maybe_cross_encoder("other query")
    assert u3 is not u1


def test_token_count_udf_identity(monkeypatch):
    from chatdata_spark.functions import text as textfns

    monkeypatch.setattr(textfns, "_TOKENIZER_UDFS", {})
    u1 = textfns.token_count_udf("gpt2")
    u2 = textfns.token_count_udf("gpt2")
    if u1 is None:  # tiktoken absent in some environments — dispatch covered elsewhere
        assert u2 is None
        return
    assert u1 is u2


def _real_model_available(env_var: str) -> bool:
    import os

    if not os.environ.get(env_var):
        return False
    try:
        import sentence_transformers  # noqa: F401
    except ImportError:
        return False
    return True


@pytest.mark.skipif(
    not _real_model_available("SPARK_GRAFT_EMBED_MODEL"),
    reason="opt-in: set SPARK_GRAFT_EMBED_MODEL with sentence-transformers "
    "installed to run the real-embedder integration contract",
)
def test_real_embedder_integration_contract(spark):
    """Day-the-weights-arrive integration test (skipped in this container):
    with a REAL sentence-transformers model behind the env seam, the
    embed path must satisfy the engine's contracts — consistent dimension
    across rows, unit-normalized float vectors (the encode passes
    normalize_embeddings=True), and bit-determinism across two runs of the
    same plan. Values themselves are model-specific and NOT asserted."""
    import math

    from chatdata_spark.functions.embedders import embedder_udf

    texts = ["vector join stream", "the quick brown fox", "", "vector join stream"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    udf = embedder_udf("__integration_probe__", dim=0)  # unregistered -> env path
    out1 = {r.id: list(r.v) for r in df.select("id", udf(F.col("text")).alias("v")).collect()}
    out2 = {r.id: list(r.v) for r in df.select("id", udf(F.col("text")).alias("v")).collect()}
    dims = {len(v) for v in out1.values()}
    assert len(dims) == 1 and dims.pop() > 0, "inconsistent embedding dimension"
    for v in out1.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-3, "not unit-normalized"
    assert out1 == out2, "real embedder is not run-to-run deterministic"
    # identical inputs embed identically (rows 0 and 3)
    assert out1[0] == out1[3]


@pytest.mark.skipif(
    not _real_model_available("SPARK_GRAFT_CROSS_ENCODER"),
    reason="opt-in: set SPARK_GRAFT_CROSS_ENCODER with sentence-transformers "
    "installed to run the real-reranker integration contract",
)
def test_real_cross_encoder_integration_contract(spark):
    """With a REAL CrossEncoder behind the env seam, rerank_topk must keep
    its engine contracts — exactly k rows, double scores descending with
    the id tie-break, and determinism across two runs. Score values are
    model-specific and NOT asserted."""
    from chatdata_spark.operators.textsearch import maybe_cross_encoder, rerank_topk

    q = "vector join stream"
    scorer = maybe_cross_encoder(q)
    assert scorer is not None
    rows = [(i, t) for i, t in enumerate(
        ["vector join stream engines", "unrelated pastry recipe",
         "stream joins over vectors", "completely different topic", "join stream"]
    )]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = [(r.doc_id, r.rerank_score) for r in rerank_topk(df, "doc_id", "text", q, k=3, scorer=scorer).collect()]
    b = [(r.doc_id, r.rerank_score) for r in rerank_topk(df, "doc_id", "text", q, k=3, scorer=scorer).collect()]
    assert len(a) == 3
    assert all(isinstance(s, float) for _, s in a)
    scores = [s for _, s in a]
    assert scores == sorted(scores, reverse=True)
    assert a == b, "real cross-encoder is not run-to-run deterministic"
