"""Seeded input generation (numpy + pyarrow only; no Spark).

Every generator takes a ``numpy.random.Generator`` made from the run's
``--seed``: the same seed gives byte-identical inputs, another seed gives
other inputs of the same sizes, so timings compare across seeds. Sizes are
fixed here, never drawn from the seed.

The corpus mimics the repository's ``documents``/``embeddings`` fixtures:
Zipf-distributed words over a small vocabulary, five languages, twenty
sources, and 64-d float32 embeddings clustered by topic.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
N_TOPICS = 8
OFFSET = 2**33  # key offset between replicas (tools/gen_sf10x.py recipe)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, derived from the seed."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def vocabulary(rng: np.random.Generator, n: int = 400) -> list[str]:
    sy = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa", "do", "fe",
          "gu", "hi", "jo", "be", "ce", "ta", "ri", "mo"]
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        out.add("".join(sy[int(i)] for i in rng.integers(0, len(sy), k)))
    words = sorted(out)
    rng.shuffle(words)
    return words


def zipf_p(n: int) -> np.ndarray:
    p = 1.0 / (np.arange(n) + 2.7)
    return p / p.sum()


def word_stream(rng, words: list[str], p: np.ndarray, n: int) -> list[str]:
    return [words[int(i)] for i in rng.choice(len(words), size=n, p=p)]


def corpus(rng: np.random.Generator, n_docs: int) -> dict:
    """Columns doc_id, text, lang, source, n_chars, topic, embedding."""
    words = vocabulary(rng)
    p = zipf_p(len(words))
    lens = rng.integers(30, 80, n_docs)
    topics = rng.integers(0, N_TOPICS, n_docs)
    texts = [" ".join(word_stream(rng, words, p, int(n))) for n in lens]
    centers = rng.standard_normal((N_TOPICS, DIM))
    emb = centers[topics] + 0.5 * rng.standard_normal((n_docs, DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[int(i)] for i in rng.choice(len(LANGS), size=n_docs, p=LANG_P)],
        "source": [f"src{int(i)}" for i in rng.integers(0, N_SOURCES, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        "topic": topics.astype(np.int32),
        "embedding": emb,
        "words": words,
    }


def table(cols: dict, names: list[str]) -> pa.Table:
    arrays = []
    for n in names:
        v = cols[n]
        if isinstance(v, np.ndarray) and v.ndim == 2:
            arrays.append(pa.array(list(v), type=pa.list_(pa.float32())))
        else:
            arrays.append(pa.array(v))
    return pa.table(arrays, names=names)


def write_parquet(t: pa.Table, path: str, files: int = 1) -> int:
    """Write ``t`` as a directory of ``files`` parquet files; return bytes."""
    os.makedirs(path, exist_ok=True)
    per = -(-t.num_rows // files)
    for i in range(files):
        pq.write_table(t.slice(i * per, per), os.path.join(path, f"part-{i:05d}.parquet"))
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -- rag_serve ---------------------------------------------------------------
REQ_TYPES = ("vsql", "selfq", "ivf_full", "ivf_part", "funnel")


def rag_requests(rng: np.random.Generator, c: dict, n: int) -> list[dict]:
    """A fixed cycle of the request types (four kNN requests per funnel)
    with seeded questions and filters. Question words come from the middle
    of the vocabulary's frequency range."""
    words = c["words"][10:120]
    out = []
    for i in range(n):
        kind = REQ_TYPES[i % len(REQ_TYPES)]
        q = " ".join(words[int(j)] for j in rng.choice(len(words), 3, replace=False))
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        min_chars = int(rng.integers(150, 300))
        srcs = sorted({f"src{int(s)}" for s in rng.integers(0, N_SOURCES, 6)})
        out.append({"kind": kind, "q": q, "lang": lang, "min_chars": min_chars,
                    "sources": srcs})
    return out


# -- curation_batch ------------------------------------------------------------
def curation_base(rng: np.random.Generator, n_base: int) -> dict:
    """Base corpus with planted curation structure:
    ~5% exact copies, ~15% near-duplicates (10% of words substituted) and
    a 24-word boilerplate span repeated in ~10% of documents."""
    c = corpus(rng, n_base)
    words, p = c["words"], zipf_p(len(c["words"]))
    texts = list(c["text"])
    boiler = " ".join(word_stream(rng, words, p, 24))
    kinds = rng.choice(4, size=n_base, p=[0.70, 0.05, 0.15, 0.10])
    src_of = rng.integers(0, n_base, n_base)
    near = []
    for i in range(n_base):
        j = int(src_of[i])
        if kinds[i] == 1 and j != i:
            texts[i] = texts[j]
        elif kinds[i] == 2 and j != i:
            near.append((i, j))
            w = texts[j].split()
            for pos in rng.choice(len(w), max(1, len(w) // 10), replace=False):
                w[int(pos)] = words[int(rng.integers(0, len(words)))]
            texts[i] = " ".join(w)
        elif kinds[i] == 3:
            w = texts[i].split()
            cut = int(rng.integers(0, len(w)))
            texts[i] = " ".join(w[:cut] + boiler.split() + w[cut:])
    c["text"] = texts
    c["n_chars"] = np.array([len(t) for t in texts], dtype=np.int64)
    c["near"] = near
    return c


def replicate(base: dict, reps: int) -> dict:
    """Key-disjoint, word-perturbed replicas (the tools/gen_sf10x.py
    recipe): replica r offsets keys by r·2^33 and suffixes every word
    with '#r', so replicas share no grams."""
    ids, texts, langs, srcs = [], [], [], []
    for r in range(reps):
        ids.append(base["doc_id"] + r * OFFSET)
        if r == 0:
            texts.extend(base["text"])
        else:
            texts.extend(" ".join(f"{w}#{r}" for w in t.split()) for t in base["text"])
        langs.extend(base["lang"])
        srcs.extend(base["source"])
    return {"doc_id": np.concatenate(ids), "text": texts, "lang": langs, "source": srcs}


def links(rng: np.random.Generator, doc_ids: np.ndarray, out_deg: int = 3) -> dict:
    """Seeded doc→doc link table (random out-links, self-loops removed)."""
    n = len(doc_ids)
    src = np.repeat(np.arange(n), out_deg)
    dst = rng.integers(0, n, n * out_deg)
    keep = src != dst
    return {"src": doc_ids[src[keep]], "dst": doc_ids[dst[keep]]}


def eval_set(rng: np.random.Generator, texts: list[str], words: list[str], n: int = 40,
             n_leaked: int = 10) -> list[str]:
    """Benchmark texts for decontamination: ``n_leaked`` of them quote a
    20-word window of a corpus document, the rest are fresh word salad."""
    out = []
    for i in range(n):
        salad = [words[int(j)] for j in rng.integers(0, len(words), 30)]
        if i < n_leaked:
            w = texts[int(rng.integers(0, len(texts)))].split()
            at = int(rng.integers(0, max(1, len(w) - 20)))
            salad[5:5] = w[at:at + 20]
        out.append(" ".join(salad))
    return out


# -- kb_ingest -----------------------------------------------------------------
KB_OPS = ("upload", "chat", "read_history", "session", "read_files", "tool", "read_tool",
          "read_knn")


def kb_plan(rng: np.random.Generator, words: list[str], n_ops: int, n_users: int = 4) -> list[dict]:
    """The seeded op stream: the op kinds in a fixed cycle, seeded payloads."""
    p = zipf_p(len(words))
    ops = []
    for i in range(n_ops):
        kind = KB_OPS[i % len(KB_OPS)]
        user = f"u{int(rng.integers(0, n_users))}"
        op = {"kind": kind, "user": user, "i": i}
        if kind == "upload":
            op["file"] = f"file{i}.txt"
            op["paragraphs"] = [" ".join(word_stream(rng, words, p, 30)) for _ in range(6)]
        elif kind == "chat":
            op["session"] = f"{user}?s{int(rng.integers(0, 2))}"
            op["message"] = " ".join(word_stream(rng, words, p, 25))
        elif kind == "session":
            op["session"] = f"{user}?s{int(rng.integers(0, 2))}"
            op["prompt"] = " ".join(word_stream(rng, words, p, 12))
        elif kind == "tool":
            op["tool"] = f"tool{int(rng.integers(0, 2))}"
        elif kind == "read_history":
            op["session"] = f"{user}?s{int(rng.integers(0, 2))}"
        elif kind == "read_knn":
            op["q"] = " ".join(word_stream(rng, words, p, 3))
        ops.append(op)
    return ops


def event_batch(rng: np.random.Generator, batch: int, rows: int = 400) -> dict:
    """One ingest file of events: user, item, an integer value, and a
    (key, version, payload) upsert row set."""
    return {
        "user": [f"u{int(i)}" for i in rng.integers(0, 8, rows)],
        "item": [f"item{int(i)}" for i in rng.zipf(1.5, rows) % 500],
        "value": rng.integers(0, 1000, rows).astype(np.int64),
        "key": rng.integers(0, 300, rows).astype(np.int64),
        "version": np.full(rows, batch, dtype=np.int64) * 1000 + np.arange(rows),
    }
