"""Expected answers computed outside Spark (numpy and plain Python).

Each checker returns a list of problems (empty when the answer is right).
Distances follow the library's convention — float64 cosine distance
rounded to 6 digits, ties broken on id — and are compared with a 2e-6
tolerance, since a summation-order difference can move the 6th digit.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import numpy as np

TOL = 2e-6
_TOKEN = re.compile(r"[a-z0-9]+")


def embed(text: str, dim: int = 64) -> np.ndarray:
    """The deterministic stub embedding the dialect's NeuralArray uses:
    a sha256-seeded standard-normal vector, unit-normalized."""
    seed = int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:4], "big")
    v = np.random.RandomState(seed).standard_normal(dim)
    return v / np.linalg.norm(v)


def cos_dist(emb: np.ndarray, q) -> np.ndarray:
    e = emb.astype(np.float64)
    q = np.asarray(q, dtype=np.float64)
    return np.round(1.0 - (e @ q) / (np.linalg.norm(e, axis=1) * np.linalg.norm(q)), 6)


def topk(ids: np.ndarray, dist: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    order = np.lexsort((ids, dist))[:k]
    return ids[order], dist[order]


def _key(x):
    return x.item() if hasattr(x, "item") else x


def check_topk(got: list[tuple], ids: np.ndarray, dist: np.ndarray, k: int) -> list[str]:
    """``got`` is [(id, dist)] from Spark; ``ids``/``dist`` are all eligible
    rows. Accepts any order among rows tied within the tolerance."""
    exp_ids, exp_d = topk(ids, dist, k)
    if len(got) != len(exp_ids):
        return [f"top-k size {len(got)} != {len(exp_ids)}"]
    pos = {_key(i): float(d) for i, d in zip(ids, dist)}
    probs = []
    if len({g[0] for g in got}) != len(got):
        probs.append("duplicate ids in top-k")
    for i, d in got:
        if i not in pos:
            probs.append(f"id {i} not eligible")
        elif abs(pos[i] - d) > TOL:
            probs.append(f"id {i} dist {d} != {pos[i]}")
    gd = np.sort(np.array([d for _i, d in got]))
    if np.any(np.abs(gd - exp_d) > TOL):
        probs.append("top-k distances differ from the exact top-k")
    return probs


def rank_centroids(centroids: np.ndarray, q) -> list[int]:
    q = np.asarray(q, dtype=np.float64)
    sims = (centroids @ q) / (np.linalg.norm(centroids, axis=1) * np.linalg.norm(q))
    return [int(i) for i in np.argsort(-sims, kind="stable")]


# -- funnel ----------------------------------------------------------------------
class Bm25:
    """BM25 with the log-free ('rational') idf over the corpus, replaying
    the operator's float64 operation order."""

    def __init__(self, ids, texts, k1: float = 1.2, b: float = 0.75):
        self.ids = np.asarray(ids)
        self.tf = [Counter(_TOKEN.findall(t.lower())) for t in texts]
        self.dl = np.array([sum(c.values()) for c in self.tf], dtype=np.float64)
        self.avgdl = float(self.dl.sum()) / len(self.dl)
        self.k1, self.b = k1, b
        self.df = Counter(w for c in self.tf for w in c)

    def scores(self, terms: list[str]) -> np.ndarray:
        n, k1, b = float(len(self.tf)), self.k1, self.b
        score = np.zeros(len(self.tf))
        for t in terms:
            dfi = float(self.df.get(t, 0))
            w = (n - dfi + 0.5) / (dfi + 0.5)
            tf = np.array([c.get(t, 0) for c in self.tf], dtype=np.float64)
            denom = tf + k1 * ((1.0 - b) + (b * self.dl) / self.avgdl)
            score = score + np.where(tf > 0, (w * (tf * (k1 + 1.0))) / denom, 0.0)
        return np.round(score, 6)


def mmr_greedy(ids, vecs, q, k: int, lam: float) -> list[tuple[int, float]]:
    order = np.argsort(np.asarray(ids), kind="stable")
    v = np.asarray(vecs, dtype=np.float64)[order]
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    q = np.asarray(q, dtype=np.float64)
    q = q / np.linalg.norm(q)
    sid = [int(ids[int(i)]) for i in order]
    rel = v @ q
    pen, active, out = None, np.ones(len(sid), bool), []
    for _ in range(min(k, len(sid))):
        s = lam * rel if pen is None else lam * rel - (1.0 - lam) * pen
        s = np.where(active, s, -np.inf)
        best = int(np.argmax(s))
        out.append((sid[best], float(round(s[best], 6))))
        active[best] = False
        sim = v @ v[best]
        pen = sim if pen is None else np.maximum(pen, sim)
    return out


def funnel(question: str, ids, texts, emb, bm25: Bm25, ann_k=60, bm_k=60,
           fuse_k=30, page_k=20, mmr_k=10, k0=60) -> list[tuple]:
    """(doc_id, rrf, rerank_score, mmr_rank, mmr_score) rows of the funnel:
    exact ANN top-60 + BM25 top-60 → RRF 30 → overlap rerank 20 → MMR 10."""
    ids = np.asarray(ids)
    q = embed(question)
    ann_ids, _ = topk(ids, cos_dist(emb, q), ann_k)
    sc = bm25.scores(question.split())
    pos = sc > 0
    bo = np.lexsort((ids[pos], -sc[pos]))[:bm_k]
    bm_ids = ids[pos][bo]
    rank_b = {int(i): r + 1 for r, i in enumerate(bm_ids)}
    rank_a = {int(i): r + 1 for r, i in enumerate(ann_ids)}
    rrf = {}
    for i in set(rank_b) | set(rank_a):
        tb = 1.0 / (float(k0) + rank_b[i]) if i in rank_b else 0.0
        ta = 1.0 / (float(k0) + rank_a[i]) if i in rank_a else 0.0
        rrf[i] = round(tb + ta, 6)
    fused = sorted(rrf, key=lambda i: (-rrf[i], i))[:fuse_k]
    qt = sorted({t for t in question.lower().split() if t})
    row = {int(i): j for j, i in enumerate(ids)}
    rr = {}
    for i in fused:
        dw = set(" ".join(texts[row[i]].lower().split()).split(" "))
        rr[i] = round(len(dw & set(qt)) / float(len(qt)), 6)
    page = sorted(fused, key=lambda i: (-rr[i], i))[:page_k]
    vecs = np.array([emb[row[i]] for i in page], dtype=np.float64)
    chosen = mmr_greedy(page, vecs, q, mmr_k, 0.5)
    return [(i, rrf[i], rr[i], rank, s) for rank, (i, s) in enumerate(chosen)]


def check_rows(got: list[tuple], exp: list[tuple]) -> list[str]:
    """Row lists equal: ints exactly, floats within TOL."""
    if len(got) != len(exp):
        return [f"{len(got)} rows != {len(exp)}"]
    for g, e in zip(got, exp):
        for a, b in zip(g, e):
            if isinstance(b, float):
                if a is None or abs(a - b) > TOL:
                    return [f"row {g} != {e}"]
            elif a != b:
                return [f"row {g} != {e}"]
    return []


# -- curation --------------------------------------------------------------------
def tokens(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


def shingles(text: str, k: int = 3) -> set[str]:
    w = re.split(r"\s+", text.lower())
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - (k - 1), 1))}


def jaccard(a: set, b: set) -> float:
    c = len(a & b)
    return round(c / (len(a) + len(b) - c), 6)


def components(ids, pairs) -> dict[int, int]:
    """id → minimum id of its connected component (union-find)."""
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        a, b = find(int(i)), find(int(j))
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {i: find(i) for i in parent}


def dup_span_drops(texts: list[str], n: int = 10) -> list[int]:
    """Per document, how many tokens lie in some word n-gram that occurs
    at least twice in the whole corpus."""
    toks = [tokens(t) for t in texts]
    cnt = Counter(tuple(w[i:i + n]) for w in toks for i in range(len(w) - n + 1))
    out = []
    for w in toks:
        mark = np.zeros(len(w), bool)
        for i in range(len(w) - n + 1):
            if cnt[tuple(w[i:i + n])] >= 2:
                mark[i:i + n] = True
        out.append(int(mark.sum()))
    return out


def contaminated(texts: list[str], bench: list[str], n: int = 13) -> list[bool]:
    def grams(t):
        w = re.split(r"\s+", t.lower())
        return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}

    bset = set().union(*(grams(b) for b in bench))
    return [bool(grams(t) & bset) for t in texts]


SCALE = 10**12


def trustrank_fp(src, dst, seeds, iterations: int = 6, d: int = 85) -> dict[int, int]:
    """Integer fixed-point TrustRank, the operator's exact arithmetic."""
    src, dst = np.asarray(src, np.int64), np.asarray(dst, np.int64)
    nodes = np.unique(np.concatenate([src, dst]))
    idx = {int(v): i for i, v in enumerate(nodes)}
    s = np.array([idx[int(v)] for v in src])
    t = np.array([idx[int(v)] for v in dst])
    deg = np.bincount(s, minlength=len(nodes)).astype(np.int64)
    seed = np.zeros(len(nodes), bool)
    for v in set(int(x) for x in seeds):
        if v in idx:
            seed[idx[v]] = True
    ns = int(seed.sum())
    tele = ((100 - d) * SCALE // 100) // ns
    r = np.where(seed, SCALE // ns, 0).astype(np.int64)
    dangling = deg == 0
    for _ in range(iterations):
        cpe = np.where(dangling, 0, r // np.maximum(deg, 1))
        csum = np.zeros(len(nodes), np.int64)
        np.add.at(csum, t, cpe[s])
        dms = int(r[dangling].sum()) // ns
        r = np.where(seed, tele + (d * (csum + dms)) // 100, (d * csum) // 100)
    return {int(v): int(r[i]) for i, v in enumerate(nodes)}


def split_of(key: int, salt: str = "split", val: float = 0.1, test: float = 0.1) -> str:
    b = int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:8], 16)
    val_hi = int(val * (1 << 32))
    test_hi = val_hi + int(test * (1 << 32))
    return "val" if b < val_hi else "test" if b < test_hi else "train"


def digest(rows) -> str:
    """Order-insensitive digest of result rows (floats rounded to 6)."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(round(x, 6) if isinstance(x, float) else x for x in r))
                    for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


class Digest:
    """Running digest over a workload's checked outputs, in op order."""

    def __init__(self):
        self.h = hashlib.sha256()

    def add(self, label: str, rows) -> None:
        self.h.update(f"{label}:{digest(rows)};".encode())

    def hex(self) -> str:
        return self.h.hexdigest()[:16]


def md5_bucket(s: str) -> int:
    """The library's uniform 32-bit bucket: md5 hex prefix as an integer."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def cms(items, depth: int = 4, width: int = 1024, salt: str = "cms") -> dict:
    """(row_idx, col) → count of a count-min sketch over ``items``."""
    out: Counter = Counter()
    for it in items:
        for r in range(depth):
            out[(r, md5_bucket(f"{salt}{r}#{it}") % width)] += 1
    return dict(out)


def hll(groups, keys, p: int = 8, salt: str = "hll") -> dict:
    """(group, bucket) → min hash tail: the HLL register state."""
    w = 32 - p
    out: dict = {}
    for g, k in zip(groups, keys):
        hb = md5_bucket(f"{salt}{k}")
        key = (g, hb >> w)
        tail = hb & ((1 << w) - 1)
        out[key] = min(out.get(key, tail), tail)
    return out


def moments(groups: list[str], values) -> dict[str, tuple[int, int, int]]:
    acc: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    for g, v in zip(groups, values):
        a = acc[g]
        a[0] += 1
        a[1] += int(v)
        a[2] += int(v) * int(v)
    return {g: tuple(a) for g, a in acc.items()}
