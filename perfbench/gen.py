"""Seeded input generator for the benchmark workloads.

Everything the program under test sees is written here as parquet (or
returned as the scripted lines of an interactive session); the same
seed always yields byte-identical files. Properties the system's
behaviour depends on are explicit knobs:

- a Zipf-weighted vocabulary (shared tokens drive rerank overlap,
  shingle collisions and the hashing embedder's bucket load),
- document lengths that cross the 1000-char chunk size, so ingest
  produces several chunks per document,
- planted exact and near duplicates in the dedup corpus,
- a re-send share in every ingest batch (keys already stored),
- a fixed turn-type mix for the interactive session.

The benchmark runs the generator in a child process, so its memory
never counts toward the measured process's peak:

    python3 perfbench/gen.py --workload corpus_batch --seed 1 --out DIR

writes the inputs under DIR and their description to DIR/meta.json.

Self-check (same seed -> identical bytes, other seed -> different):

    python3 perfbench/gen.py --self-check
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 16                    # the CLI ingest default (cli.run_ingest dim)
VOCAB = 8000
ZIPF_S = 1.1

# rag_turns: the interactive store
RAG_ROWS = 50_000
RAG_TOKENS = (30, 60)       # tokens per stored chunk row

# ingest_batches: documents per batch, lengths crossing chunk_size=1000
INGEST_DOCS_PER_BATCH = 16
INGEST_RESEND = 4           # of which re-sent keys already in the store
INGEST_BATCHES = 64         # upper bound; a run uses as many as time allows
INGEST_WARMUP_BATCHES = 2
INGEST_LEN_MEDIAN = 1200    # chars, lognormal
INGEST_LEN_SIGMA = 0.6
INGEST_RESEND_RANKS = (1, 4, 7, 10)  # length ranks re-sent from batch b-1

# corpus_batch: batch kNN corpus + dedup corpus
CORPUS_ROWS = 20_000
CORPUS_QUERIES = 40         # per pass
CORPUS_PASSES = 16          # upper bound on passes (one query set each)
DEDUP_DOCS = 3000
DEDUP_TOKENS = (20, 120)
EXACT_DUP_RATE = 0.03       # share of docs that are exact copies
NEAR_DUP_RATE = 0.05        # share of docs that are near copies
NEAR_DUP_EDIT = 0.04        # share of tokens replaced in a near copy
WARMUP_SHARE = 16           # warm-up runs on 1/16 of corpus and dedup docs

RAG_CYCLES = 40             # upper bound on scripted cycles

# rag_turns: fixed turn mix of one cycle. 'Q' = run_query_loop session,
# 'A' = run_auto_loop session. new/follow-up/rerank/direct = 2/1/1/1.
TURN_CYCLE = (("Q", "new"), ("Q", "followup"), ("Q", "new"),
              ("A", "rerank"), ("A", "direct"))
DIRECT_BASE_THRESHOLD = 0.5

_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _vocab(rng: np.random.Generator) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB:
        n = int(rng.integers(1, 4))
        w = "".join(_SYL[i] for i in rng.integers(0, len(_SYL), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_p() -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return p / p.sum()


def _token_docs(rng, lens) -> list[np.ndarray]:
    """Token-id arrays with Zipf-distributed ids, one per length."""
    ids = rng.choice(VOCAB, size=int(np.sum(lens)), p=_zipf_p())
    out, o = [], 0
    for n in lens:
        out.append(ids[o:o + n])
        o += n
    return out


def _text(words, ids) -> str:
    return " ".join(words[i] for i in ids)


def word_hash(word: str) -> tuple[int, float]:
    """HashingEmbedder's per-token (bucket, sign) for DIM buckets."""
    h = int(hashlib.md5(word.encode()).hexdigest()[:8], 16)
    return h % DIM, (1.0 if (h >> 16) & 1 else -1.0)


def _embed_rows(words, docs: list[np.ndarray]) -> np.ndarray:
    """Hashing-embedder vectors of token-id docs, stored as float32."""
    wb = np.array([word_hash(w)[0] for w in words])
    ws = np.array([word_hash(w)[1] for w in words])
    out = np.zeros((len(docs), DIM))
    row = np.repeat(np.arange(len(docs)), [len(d) for d in docs])
    flat = np.concatenate(docs)
    np.add.at(out, (row, wb[flat]), ws[flat])
    norm = np.sqrt((out * out).sum(axis=1, keepdims=True))
    return np.where(norm > 0, out / np.where(norm > 0, norm, 1), out) \
        .astype(np.float32)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _documents(ids, texts) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array([f"src{i % 3}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _vectors(ids, vecs, id_col="vec_id", vec_col="embedding",
             vec_type=pa.float32()) -> pa.Table:
    flat = pa.array(np.asarray(vecs).reshape(-1), vec_type)
    offsets = pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32))
    return pa.table({id_col: pa.array(ids, pa.int64()),
                     vec_col: pa.ListArray.from_arrays(offsets, flat)})


# ---------------------------------------------------------------------------
# rag_turns

def gen_rag_turns(seed: int, out_dir: str,
                  n_cycles: int = RAG_CYCLES) -> dict:
    """The store (documents + embeddings, RAG_ROWS rows at DIM) and a
    scripted session of ``n_cycles`` TURN_CYCLEs of query texts."""
    rng = np.random.default_rng([seed, 1])
    words = _vocab(rng)
    lens = rng.integers(RAG_TOKENS[0], RAG_TOKENS[1] + 1, RAG_ROWS)
    docs = _token_docs(rng, lens)
    ids = list(range(RAG_ROWS))
    texts = [_text(words, d) for d in docs]
    store = os.path.join(out_dir, "store")
    _write(_documents(ids, texts), os.path.join(store, "documents.parquet"))
    t = _vectors(ids, _embed_rows(words, docs))
    t = t.append_column("label", pa.array(
        rng.integers(0, 4, RAG_ROWS).astype(np.int32), pa.int32()))
    _write(t, os.path.join(store, "embeddings.parquet"))
    # query text: 4 tokens of a random stored row + 1 random vocab word
    cycles = []
    for _ in range(n_cycles):
        turns = []
        for loop, kind in TURN_CYCLE:
            src = docs[int(rng.integers(0, RAG_ROWS))]
            pick = rng.choice(len(src), 4, replace=False)
            q = [words[src[i]] for i in sorted(pick)]
            q.append(words[int(rng.integers(0, VOCAB))])
            turns.append((loop, kind, " ".join(q)))
        cycles.append(turns)
    return {"store": store, "cycles": cycles}


# ---------------------------------------------------------------------------
# ingest_batches

def _length_profile(n: int) -> list[int]:
    """n token counts at evenly spaced quantiles of the lognormal
    length law: every batch (and every seed) offers the same lengths,
    so batch cost varies with the program, not with the draw."""
    from statistics import NormalDist
    z = [NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)]
    # chars -> tokens: mean token length incl. the space is ~5.9 chars
    return [max(1, int(INGEST_LEN_MEDIAN * math.exp(INGEST_LEN_SIGMA * x)
                       / 5.9)) for x in z]


def gen_ingest_batches(seed: int, out_dir: str) -> dict:
    """INGEST_BATCHES batch dirs, each a documents.parquet of
    INGEST_DOCS_PER_BATCH docs: fresh docs with the fixed length profile
    in seeded order, plus INGEST_RESEND documents of the previous batch
    re-sent (same key, same text)."""
    rng = np.random.default_rng([seed, 2])
    words = _vocab(rng)
    fresh_per = INGEST_DOCS_PER_BATCH - INGEST_RESEND
    profile = _length_profile(fresh_per)
    batches, texts, prev = [], {}, []
    for b in range(INGEST_BATCHES):
        ids = list(range(b * fresh_per, (b + 1) * fresh_per))
        lens = [profile[i] for i in rng.permutation(fresh_per)]
        for i, d in zip(ids, _token_docs(rng, lens)):
            texts[i] = _text(words, d)
        fresh = ids
        if prev:  # the previous batch's docs of fixed length ranks
            by_len = sorted(prev, key=lambda i: (len(texts[i]), i))
            ids = ids + [by_len[r] for r in INGEST_RESEND_RANKS]
        d = os.path.join(out_dir, f"batch{b:03d}")
        _write(_documents(ids, [texts[i] for i in ids]),
               os.path.join(d, "documents.parquet"))
        batches.append({"dir": d, "doc_ids": ids,
                        "resent": ids[fresh_per:],
                        "lengths": [len(texts[i]) for i in ids]})
        prev = fresh
    return {"batches": batches, "store": os.path.join(out_dir, "store")}


# ---------------------------------------------------------------------------
# corpus_batch

def gen_corpus_batch(seed: int, out_dir: str) -> dict:
    """Batch-kNN corpus (CORPUS_ROWS x DIM) with CORPUS_PASSES query sets
    of CORPUS_QUERIES, and a DEDUP_DOCS text corpus with planted exact
    groups and near copies."""
    rng = np.random.default_rng([seed, 3])
    words = _vocab(rng)
    vecs = rng.standard_normal((CORPUS_ROWS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    corpus = os.path.join(out_dir, "corpus.parquet")
    _write(_vectors(list(range(CORPUS_ROWS)), vecs), corpus)
    queries = []
    for p in range(CORPUS_PASSES):
        q = rng.standard_normal((CORPUS_QUERIES, DIM))
        q = q / np.linalg.norm(q, axis=1, keepdims=True)
        path = os.path.join(out_dir, f"queries{p:02d}.parquet")
        _write(_vectors(list(range(CORPUS_QUERIES)), q, "qid", "qv",
                        pa.float64()), path)
        queries.append(path)

    n_exact = int(DEDUP_DOCS * EXACT_DUP_RATE)
    n_near = int(DEDUP_DOCS * NEAR_DUP_RATE)
    n_base = DEDUP_DOCS - n_exact - n_near
    lens = rng.integers(DEDUP_TOKENS[0], DEDUP_TOKENS[1] + 1, n_base)
    docs = [list(d) for d in _token_docs(rng, lens)]
    exact_groups: dict[int, list[int]] = {}
    # exact copies: each copies a distinct base doc (groups of 2)
    srcs = rng.choice(n_base, n_exact + n_near, replace=False)
    for j in range(n_exact):
        src = int(srcs[j])
        exact_groups[src] = [src, n_base + j]
        docs.append(list(docs[src]))
    near_pairs = []
    for j in range(n_near):
        src = int(srcs[n_exact + j])
        d = list(docs[src])
        n_edit = max(1, int(len(d) * NEAR_DUP_EDIT))
        for pos in rng.choice(len(d), n_edit, replace=False):
            d[pos] = int(rng.integers(0, VOCAB))
        near_pairs.append((src, n_base + n_exact + j))
        docs.append(d)
    # shuffle doc ids so planted copies are not adjacent to their source
    perm = rng.permutation(DEDUP_DOCS)
    texts = [""] * DEDUP_DOCS
    for old, new in enumerate(perm):
        texts[new] = _text(words, docs[old])
    groups = sorted(sorted(int(perm[i]) for i in g)
                    for g in exact_groups.values())
    near = sorted(tuple(sorted((int(perm[a]), int(perm[b]))))
                  for a, b in near_pairs)
    dd = os.path.join(out_dir, "dedup.parquet")
    _write(pa.table({"doc_id": pa.array(range(DEDUP_DOCS), pa.int64()),
                     "text": pa.array(texts, pa.string())}), dd)
    # warm-up inputs: a slice of each table (same plans, less data)
    warm = {"corpus": os.path.join(out_dir, "warm_corpus.parquet"),
            "dedup": os.path.join(out_dir, "warm_dedup.parquet")}
    _write(pq.read_table(corpus).slice(0, CORPUS_ROWS // WARMUP_SHARE),
           warm["corpus"])
    _write(pq.read_table(dd).slice(0, DEDUP_DOCS // WARMUP_SHARE),
           warm["dedup"])
    return {"corpus": corpus, "queries": queries, "dedup": dd,
            "exact_groups": groups, "near_pairs": near, "warm": warm}


GENERATORS = {
    "rag_turns": gen_rag_turns,
    "ingest_batches": gen_ingest_batches,
    "corpus_batch": gen_corpus_batch,
}


def digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under root."""
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def self_check(work: str, seed: int = 7) -> bool:
    """Same seed -> byte-identical inputs (and identical scripts);
    another seed -> different inputs, for every workload."""
    ok = True
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=work)
    try:
        for name, gen in GENERATORS.items():
            runs = []
            for tag, s in (("a", seed), ("b", seed), ("c", seed + 1)):
                d = os.path.join(tmp, f"{name}-{tag}")
                meta = gen(s, d)
                runs.append((digest(d), repr(meta).replace(d, "<dir>")))
            same = runs[0] == runs[1]
            differ = runs[0][0] != runs[2][0]
            print(f"{name}: same-seed identical={same} "
                  f"other-seed differs={differ}")
            ok = ok and same and differ
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return ok


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--self-check", action="store_true")
    p.add_argument("--work", default=".perfbench_work")
    p.add_argument("--workload", choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int)
    p.add_argument("--out")
    args = p.parse_args(argv)
    if args.self_check:
        return 0 if self_check(args.work) else 1
    if args.workload and args.seed is not None and args.out:
        meta = GENERATORS[args.workload](args.seed, args.out)
        with open(os.path.join(args.out, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        return 0
    p.print_help()
    return 2


if __name__ == "__main__":
    sys.exit(main())
