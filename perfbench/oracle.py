"""Pure-Python oracles for the benchmark's output checks.

Arithmetic follows the engine's column expressions exactly:

- dot product: float32 components widened to float64, products summed
  strictly left to right from 0.0 (``functions/vectors.dot``);
- rounding: Spark's ``round(x, 6)`` is HALF_UP on the decimal form of
  the double, reproduced with ``Decimal(repr(x))``;
- ranking: score desc, ties to the lower id; the rerank is the Jaccard
  overlap of distinct whitespace tokens (``retrieval.rerank``).
"""

from __future__ import annotations

import hashlib
import math
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_Q6 = Decimal("0.000001")


def round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(_Q6, ROUND_HALF_UP))


def tokens(text: str) -> list[str]:
    t = text.strip(" ")
    return [] if t == "" else _WS.split(t)


def query_embedding(text: str, dim: int) -> list[float]:
    """``HashingEmbedder.embed_expr`` for one string (array<double>)."""
    buckets = [0.0] * dim
    for t in tokens(text):
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        buckets[h % dim] += 1.0 if (h >> 16) & 1 else -1.0
    acc = 0.0
    for x in buckets:
        acc = acc + x * x
    norm = math.sqrt(acc)
    return [x / norm for x in buckets] if norm > 0 else buckets


def raw_scores(vectors: np.ndarray, q) -> np.ndarray:
    """Left-to-right float64 dot of every row of ``vectors`` with q."""
    prods = vectors.astype(np.float64) * np.asarray(q, dtype=np.float64)
    acc = np.zeros(len(vectors))
    for j in range(prods.shape[1]):
        acc = acc + prods[:, j]
    return acc


def topk(ids: np.ndarray, raw: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Top-k (id, rounded score) by score desc, id asc. Rounding is
    monotone and moves a value by at most 5e-7, so only rows within
    2e-6 of the k-th raw score can enter the rounded top-k."""
    k = min(k, len(raw))
    if k == 0:
        return []
    kth = np.partition(raw, len(raw) - k)[len(raw) - k]
    cand = np.nonzero(raw >= kth - 2e-6)[0]
    scored = sorted(((round6(raw[i]), int(ids[i])) for i in cand),
                    key=lambda t: (-t[0], t[1]))
    return [(i, s) for s, i in scored[:k]]


def jaccard_rerank(query: str, text: str) -> float:
    q, d = set(tokens(query)), set(tokens(text))
    union = len(q | d)
    return round6(len(q & d) / union) if union else 0.0


def funnel(ids, vectors, texts: dict, query: str, q, k: int, top_n: int,
           threshold: float | None = None) -> list[int]:
    """knn(k) -> rerank -> [threshold] -> order (rerank desc, score
    desc, id asc) -> top_n doc ids. Covers both RagConversation's
    retrieval and retrieval.retrieval_funnel."""
    rows = [(jaccard_rerank(query, texts[i]), s, i)
            for i, s in topk(ids, raw_scores(vectors, q), k)]
    if threshold is not None:
        rows = [r for r in rows if r[0] >= threshold]
    rows.sort(key=lambda r: (-r[0], -r[1], r[2]))
    return [i for _, _, i in rows[:top_n]]


def direct(ids, vectors, q, k: int, threshold: float) -> list[int]:
    """retrieval.direct_retrieval ids in the CLI's display order."""
    return [i for i, s in topk(ids, raw_scores(vectors, q), k)
            if s >= threshold]


def n_chunks(length: int, size: int = 1000, overlap: int = 150) -> int:
    """The chunker's chunk-count law."""
    stride = size - overlap
    return 1 if length <= size else -(-(length - size) // stride) + 1


def shingles(text: str, n: int = 2) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return round6(len(a & b) / union) if union else 0.0


def components(pairs) -> dict[int, int]:
    """id -> min id of its connected component over the pair graph."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
