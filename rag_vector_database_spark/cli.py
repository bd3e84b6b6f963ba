"""Interactive + batch CLI: the reference's user-facing surface.

The reference ships two interactive query scripts and an ingest script;
this module re-creates that surface on top of the engine's operators so
a user of the reference can run the same sessions here:

- ``query``  <- ``query_rag_database.py``: mode choice (rag / chat,
  :251), show-chunks toggle (:260), per-turn "Follow-up on last
  retrieved context? (y/n)" (:436-438), exit keywords (:109),
  memory fold into every prompt (:399), nested session-log JSON
  written at teardown (:606-650).
- ``auto``   <- ``Auto_query_rag_database.py``: rerank vs direct
  retrieval modes (:64-65), per-query score statistics before
  thresholding (:328-331), interactive threshold override (:327-336),
  ``/help /mode /showchunks /set_rerank_threshold /set_base_threshold``
  commands (:387-391), same exit keywords (:92).
- ``ingest`` <- ``ingest_chunks_to_chromadb.py``: chunk -> embed ->
  idempotent upsert (run-twice-adds-zero), incremental anti-join
  against the store.

All retrieval/generation/memory/log logic lives in ``operators/``;
this file is ONLY the loop + argument plumbing. ``input_fn`` /
``print_fn`` are injectable so tests drive full sessions headlessly.

The answer step uses the engine's deterministic stub backend (a real
LLM backend plugs into ``generation.generate_with`` — same contract as
the reference's swappable Ollama model list).
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .embedding import HashingEmbedder, hash_embed
from .functions import text as text_fns
from .operators import retrieval
from .operators.conversation import (RagConversation, context_text,
                                     history_fold)
from .operators.observe import observed
from .operators.session_log import SessionLog
from .operators.storage import VECTOR_WIDTH, read_parquet
from .operators import generation

# query_rag_database.py:109 / Auto_query_rag_database.py:92
EXIT_KEYWORDS = {"end", "stop", "quit", "bye", "exit"}


def _load(spark: SparkSession, sf_dir: str, name: str,
          vectors: tuple[str, ...] = ()) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet", vectors)


def embed_query(spark: SparkSession, text: str, dim: int) -> list[float]:
    """Embed one query string on the driver, with no Spark job:
    ``hash_embed``, bit-identical to the expression ingest embeds
    batches with. ``spark`` is unused and kept for the call
    signature."""
    return hash_embed(text, dim)


def _embedding_dim(embeddings: DataFrame, sf_dir: str) -> int:
    """The store's vector width, with no Spark job: ``embeddings`` is
    opened with ``read_parquet(..., vectors=("embedding",))``, which
    records the width it reads from the parquet footers (value count ÷
    row count of the first row group that holds rows) as column
    metadata. Where the footers cannot tell (a NULL or empty vector or
    a NULL element in that row group, no recorded null count, an inexact
    ratio, or a glob, ``mergeSchema`` or summary file that Spark infers
    from) the first row is probed in one job, as before. An empty store
    is a clear error."""
    dim = next((f.metadata.get(VECTOR_WIDTH) for f in embeddings.schema
                if f.name == "embedding"), None)
    if dim is None:  # the footers cannot tell: probe the first row
        row = embeddings.select(F.size("embedding")).first()
        if row is not None:
            return row[0]
    elif dim:  # 0 when no data file holds a row
        return dim
    raise ValueError(f"{sf_dir}/embeddings.parquet holds no rows: "
                     "there is nothing to retrieve from; ingest "
                     "documents first")


def _print_chunks(top_rows, print_fn: Callable[[str], None]) -> None:
    for r in top_rows:
        print_fn(f"  [doc {r['doc_id']}] rerank={r['relevance_score']:.4f} "
                 f"sim={r['score']:.4f} :: {r['snippet']}")


# ---------------------------------------------------------------------------
# query: the simple interactive RAG session (query_rag_database.py)

def run_query_loop(spark: SparkSession, sf_dir: str,
                   *, mode: str = "rag", show_chunks: bool = False,
                   k: int = 10, top_n: int = 5,
                   session_log_path: str | None = None,
                   input_fn: Callable[[str], str] = input,
                   print_fn: Callable[[str], None] = print) -> int:
    """Interactive loop; returns the number of completed turns.

    ``mode='rag'`` retrieves per turn (with the follow-up reuse prompt
    after turn 1); ``mode='chat'`` skips retrieval and answers from
    history alone (the reference's mode 2, query_rag_database.py:251).
    """
    documents = _load(spark, sf_dir, "documents")
    embeddings = _load(spark, sf_dir, "embeddings", ("embedding",))
    dim = _embedding_dim(embeddings, sf_dir)
    convo = RagConversation(documents, embeddings,
                            k_candidates=k, top_n=top_n)
    chat_log = SessionLog(spark, "chat-1")  # chat-mode turns
    turns = 0
    try:
        while True:
            q = input_fn("You: ").strip()
            if not q:
                continue
            if q.lower() in EXIT_KEYWORDS:
                break
            if mode == "chat":
                answer = generation.answer_text(generation.prompt_text(
                    "", history_fold(chat_log.history()), q))
                chat_log.append("chat", q, "N/A", 0, answer)
                print_fn(f"AI: {answer}")
                turns += 1
                continue
            follow_up = False
            if turns > 0:
                fu = input_fn("Follow-up on last retrieved context? "
                              "(y/n, Enter=n): ").strip().lower()
                follow_up = fu == "y"
                if follow_up:
                    print_fn("[Using previous context for this "
                             "follow-up question]")
            vec = None if follow_up else embed_query(spark, q, dim)
            convo.ask(q, query_vec=vec, follow_up=follow_up)
            if show_chunks:
                for r in convo.last_retrieval:
                    print_fn(f"  [doc {r['doc_id']}] {r['snip']}")
            print_fn(f"AI: {convo.memory[-1][1]}")
            turns += 1
    finally:
        convo.close()
        log = chat_log if mode == "chat" else convo.log
        if session_log_path and turns:
            log.write(session_log_path)
            print_fn(f"[Session log appended to {session_log_path}]")
    return turns


# ---------------------------------------------------------------------------
# auto: the advanced session (Auto_query_rag_database.py)

def run_auto_loop(spark: SparkSession, sf_dir: str,
                  *, rerank: bool = True,
                  k_rerank: int = 50, k_direct: int = 20, top_n: int = 5,
                  rerank_threshold: float = retrieval.DEFAULT_RERANK_THRESHOLD,
                  base_threshold: float = retrieval.DEFAULT_SIM_THRESHOLD,
                  show_chunks: bool = False, show_stats: bool = True,
                  input_fn: Callable[[str], str] = input,
                  print_fn: Callable[[str], None] = print) -> int:
    """Advanced loop: score stats, threshold overrides, /commands."""
    documents = _load(spark, sf_dir, "documents")
    embeddings = _load(spark, sf_dir, "embeddings", ("embedding",))
    dim = _embedding_dim(embeddings, sf_dir)
    log = SessionLog(spark, "auto-1")
    turns = 0

    def help_text() -> str:
        return ("Cmds: /help, /mode, /showchunks, /stats, "
                "/set_rerank_threshold <f>, /set_base_threshold <f>, "
                + ", ".join(sorted(EXIT_KEYWORDS)))

    while True:
        q = input_fn("You: ").strip()
        if not q:
            continue
        low = q.lower()
        if low in EXIT_KEYWORDS:
            break
        if low.startswith("/"):
            parts = low.split()
            cmd, args = parts[0], parts[1:]
            if cmd == "/help":
                print_fn(help_text())
            elif cmd == "/mode":
                rerank = not rerank
                print_fn(f"[Mode: {'rerank' if rerank else 'direct'}]")
            elif cmd == "/showchunks":
                show_chunks = not show_chunks
                print_fn(f"[Show chunks: {show_chunks}]")
            elif cmd == "/stats":
                show_stats = not show_stats
                print_fn(f"[Show stats: {show_stats}]")
            elif cmd == "/set_rerank_threshold" and args:
                try:
                    rerank_threshold = float(args[0])
                    print_fn(f"[Rerank threshold: {rerank_threshold:.2f}]")
                except ValueError:
                    print_fn(f"[Invalid threshold {args[0]!r} — "
                             "expected a number]")
            elif cmd == "/set_base_threshold" and args:
                try:
                    base_threshold = float(args[0])
                    print_fn(f"[Base similarity threshold: "
                             f"{base_threshold:.2f}]")
                except ValueError:
                    print_fn(f"[Invalid threshold {args[0]!r} — "
                             "expected a number]")
            else:
                print_fn(f"[Unknown command {cmd}] " + help_text())
            continue
        vec = embed_query(spark, q, dim)
        stats = Observation() if rerank and show_stats else None
        if rerank:
            top = retrieval.retrieval_funnel(
                embeddings, documents, vec, q, k_candidates=k_rerank,
                top_n=top_n, rerank_threshold=rerank_threshold, stats=stats)
        else:
            top = retrieval.direct_retrieval(
                embeddings, vec, k=k_direct, sim_threshold=base_threshold)
            top = (documents.join(F.broadcast(top),
                                  documents.doc_id == top.vec_id)
                   .select("doc_id", "score",
                           F.lit(0.0).alias("relevance_score"),
                           text_fns.snippet("text", 80).alias("snippet"))
                   .orderBy(F.desc("score"), "doc_id")
                   .limit(k_direct))
        rows = top.collect()
        if stats is not None:
            # observed in the funnel's own scan; None only where Spark
            # pruned that scan (a limit of 0 empties the whole plan)
            s = observed(stats) or retrieval.score_stats(
                retrieval.score_against(embeddings, vec)).first()
            print_fn(f"[Scores: min={s['min_score']:.4f} "
                     f"max={s['max_score']:.4f} "
                     f"avg={s['avg_score']:.4f} "
                     f"n={s['n_candidates']}]")
        status = "Success" if rows else "No documents above threshold"
        if show_chunks:
            _print_chunks(rows, print_fn)
        context = context_text([(r["doc_id"], r["snippet"]) for r in rows])
        answer = generation.answer_text(generation.prompt_text(
            context, history_fold(log.history()), q))
        log.append("rerank" if rerank else "direct", q, status,
                   len(rows), answer)
        print_fn(f"AI: {answer}")
        turns += 1
    return turns


# ---------------------------------------------------------------------------
# ingest: documents -> chunks -> embeddings -> idempotent store

def run_ingest(spark: SparkSession, sf_dir: str, store_path: str,
               *, chunk_size: int = 1000, chunk_overlap: int = 150,
               dim: int = 16,
               print_fn: Callable[[str], None] = print) -> dict:
    """Batch pipeline: chunk the documents table, embed every chunk,
    upsert into a parquet vector store keyed by chunk_id. Re-running
    adds zero rows (ingest_chunks_to_chromadb.py's existing-ID check,
    :95-114 — here an anti-join, never a full-store ID fetch).

    One write job per batch, with no count job: the result's
    ``offered`` (chunks in the batch), ``added``, ``skipped`` (chunks
    already stored) and ``total`` (store rows after the batch) are the
    counts ``idempotent_append`` observed in that job. A ``dim`` that
    differs from the store's vector width (read from its footers) is a
    ``ValueError`` naming both, raised before any job."""
    from .operators import ingest
    from .operators.chunking import chunk_documents

    embedder = HashingEmbedder(dim)  # a bad dim fails before any job
    docs = _load(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, size=chunk_size, overlap=chunk_overlap,
                             keep_cols=("lang", "source"))
    batch = embedder.embed(chunks, "chunk_text")
    added = ingest.idempotent_append(batch, store_path, "chunk_id",
                                     spark=spark)
    res = {"offered": added.offered, "added": int(added),
           "skipped": added.offered - added, "total": added.total}
    print_fn(f"[Ingest] rows added: {res['added']}; skipped: "
             f"{res['skipped']} of {res['offered']} offered; "
             f"store total: {res['total']}")
    return res


# ---------------------------------------------------------------------------

def main(argv: Sequence[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="rag_vector_database_spark",
        description="PySpark-native RAG engine CLI (reference-parity "
                    "interactive query + batch ingest)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--cpus", default="4")
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="interactive RAG session")
    q.add_argument("--mode", choices=("rag", "chat"), default="rag")
    q.add_argument("--show-chunks", action="store_true")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--top-n", type=int, default=5)
    q.add_argument("--session-log", default=None)

    a = sub.add_parser("auto", help="advanced session (stats/thresholds)")
    a.add_argument("--direct", action="store_true",
                   help="direct retrieval (no reranker)")
    a.add_argument("--k", type=int, default=50)
    a.add_argument("--k-direct", type=int, default=20)
    a.add_argument("--top-n", type=int, default=5)
    a.add_argument("--rerank-threshold", type=float,
                   default=retrieval.DEFAULT_RERANK_THRESHOLD)
    a.add_argument("--base-threshold", type=float,
                   default=retrieval.DEFAULT_SIM_THRESHOLD)
    a.add_argument("--show-chunks", action="store_true")

    i = sub.add_parser("ingest", help="chunk+embed+upsert pipeline")
    i.add_argument("store_path")
    i.add_argument("--chunk-size", type=int, default=1000)
    i.add_argument("--chunk-overlap", type=int, default=150)
    i.add_argument("--dim", type=int, default=16)

    ns = p.parse_args(argv)
    from .session import get_spark
    spark = get_spark("rvdb-cli", master=f"local[{ns.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if ns.cmd == "query":
            run_query_loop(spark, ns.sf_dir, mode=ns.mode,
                           show_chunks=ns.show_chunks, k=ns.k,
                           top_n=ns.top_n, session_log_path=ns.session_log)
        elif ns.cmd == "auto":
            run_auto_loop(spark, ns.sf_dir, rerank=not ns.direct,
                          k_rerank=ns.k, k_direct=ns.k_direct,
                          top_n=ns.top_n,
                          rerank_threshold=ns.rerank_threshold,
                          base_threshold=ns.base_threshold,
                          show_chunks=ns.show_chunks)
        elif ns.cmd == "ingest":
            run_ingest(spark, ns.sf_dir, ns.store_path,
                       chunk_size=ns.chunk_size,
                       chunk_overlap=ns.chunk_overlap, dim=ns.dim)
    except (EOFError, KeyboardInterrupt):
        pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
