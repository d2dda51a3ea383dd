"""Named embedder registry: the per-table model-binding seam.

The reference binds a sentence-transformer model per table —
paraphrase-multilingual-mpnet-base-v2 for Wikipedia, instructor-xl with an
instruction prefix for ArXiv (/root/reference/app/backend/constants/
myscale_tables.py:90-92,117-120; chat_bot/tools.py:53-59). Those models
aren't in this container, so every name resolves to the deterministic
hash-stub factory until a real one is registered; a deployment calls::

    register_embedder("mpnet", lambda dim: my_sentence_transformer_udf)

once at startup and every TableConfig naming that model picks it up — the
stub is a swappable default, not a hardcoded path. Factories return an
Arrow pandas UDF ``(text column) -> array<float>``; anything they capture
is pickled by value to workers, so they capture a model name or a
broadcast handle, never the model itself.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # module-top: pandas_udf type hints resolve against it
from pyspark.sql import functions as F

from chatdata_spark.functions.vector import make_embed_text_udf

# name -> factory(dim) -> pandas UDF column transformer
_EMBEDDERS: dict[str, Callable[[int], object]] = {}


def register_embedder(name: str, factory: Callable[[int], object]) -> None:
    _EMBEDDERS[name] = factory


def embedder_udf(name: str, dim: int):
    """Resolve ``name`` to a UDF; unregistered names fall back to the
    env-gated real model when configured (:func:`maybe_real_embedder`),
    else the deterministic hash stub (the only embedder guaranteed
    present)."""
    factory = _EMBEDDERS.get(name)
    if factory is None:
        factory = maybe_real_embedder() or make_embed_text_udf
    return factory(dim)


# UDF-object memoization (the CacheManager plan-equality rule, project
# notes): a fresh @pandas_udf per call makes otherwise-identical plans
# unequal, so persisted tables re-compute on every invocation.
_ST_UDFS: dict[str, object] = {}


def make_sentence_transformer_factory(model_name: str) -> Callable[[int], object]:
    """Factory for a real sentence-transformers embedder (the reference's
    mpnet / instructor-xl binding, myscale_tables.py:90-92,117-120). The
    model loads lazily INSIDE the pandas UDF on first use per worker
    process and is cached in a dict stashed on the ``sentence_transformers``
    module itself — a true per-process singleton shared by every UDF that
    names the same model (sentence-transformers has no such cache of its
    own; without this the weights would reload on every Arrow batch).
    The stash rides a third-party module that workers import by name, so
    it is one cache per process; a dict in this package would ship by
    value with every UDF. The closure captures only the model-name string.
    The returned UDF object is memoized per model name so repeated plan
    constructions stay CacheManager-equal. ``dim`` is ignored: the
    model's own output width wins (callers store real vectors at the
    model's dimension)."""

    def factory(dim: int):
        cached = _ST_UDFS.get(model_name)
        if cached is not None:
            return cached

        @F.pandas_udf("array<float>")
        def _embed(texts: pd.Series) -> pd.Series:
            import sentence_transformers
            from sentence_transformers import SentenceTransformer

            models = sentence_transformers.__dict__.setdefault(
                "_chatdata_spark_model_cache", {}
            )
            model = models.get(model_name)
            if model is None:
                model = models[model_name] = SentenceTransformer(model_name)
            vecs = model.encode(
                [t if t is not None else "" for t in texts], normalize_embeddings=True
            )
            return pd.Series([[float(x) for x in v] for v in vecs])

        _ST_UDFS[model_name] = _embed
        return _embed

    return factory


def maybe_real_embedder() -> Callable[[int], object] | None:
    """Env escape hatch: if ``SPARK_GRAFT_EMBED_MODEL`` names a model AND
    sentence-transformers is importable, return a real-model factory;
    otherwise None (hash stub remains the default — this container ships
    no model weights, so tests exercise the dispatch, not the encode)."""
    import os

    model_name = os.environ.get("SPARK_GRAFT_EMBED_MODEL")
    if not model_name:
        return None
    try:
        import sentence_transformers  # noqa: F401
    except ImportError:
        return None
    return make_sentence_transformer_factory(model_name)
