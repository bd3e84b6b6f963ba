"""Multi-turn conversation: memory fold + follow-up retrieval reuse
(SURVEY.md section 2 #60-61) — the reference's second-most-used path.

Reference semantics:
- #61 follow-up context reuse: turn >= 2 may answer against the CACHED
  previous retrieval instead of re-retrieving
  (Auto_query_rag_database.py:542-563 ``last_retrieved_docs_for_follow_up``,
  query_rag_database.py:428-439 ``last_retrieved_docs``).
- #60 conversation memory: every prompt folds the running history in;
  the buffer is ConversationBufferMemory(return_messages=False), whose
  string form is ``Human: {q}\\nAI: {a}`` lines
  (Auto_query_rag_database.py:118, fold query_rag_database.py:399).

Spark shape: a new-query turn runs the funnel as ONE collect of its
top-n (doc_id, snip) rows and keeps those rows on the driver as
``last_retrieval``; a follow-up turn reuses them, so it runs no Spark job
and never rescans the embeddings table. Context, prompt and the answer
stub are built in Python (``generation.prompt_text``/``answer_text``,
the same template the Column forms fill). Memory stays driver-side like
the reference's in-process buffer (SURVEY.md section 7 "conversation
state"): it is ordered and tiny.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, StringType, StructField,
                               StructType)

from . import generation, retrieval

DEFAULT_SNIPPET_LEN = 60

ASK_SCHEMA = StructType([
    StructField("turn", IntegerType()),
    StructField("mode", StringType()),
    StructField("prompt", StringType()),
    StructField("ai_response", StringType()),
])


def history_fold(memory: Sequence[tuple[str, str]]) -> str:
    """ConversationBufferMemory's string form: ``Human:``/``AI:`` lines
    (memory_key='history', return_messages=False)."""
    return "\n".join(f"Human: {q}\nAI: {a}" for q, a in memory)


def context_text(rows: Sequence[tuple[int, str | None]]) -> str:
    """#55: ranked (doc_id, snippet) rows as ``Source <rank> [doc <id>]:
    <snippet>`` blocks. A NULL snippet drops its block but keeps the
    ranks, as SQL ``string_agg`` skips a NULL."""
    return "\n\n".join(f"Source {rank} [doc {doc_id}]: {snip}"
                        for rank, (doc_id, snip) in enumerate(rows, 1)
                        if snip is not None)


class RagConversation:
    """Driver-side session: funnel retrieval, follow-up reuse, memory
    fold, prompt assembly, deterministic answer stub. One instance ==
    one chat session (the reference's RAGManager + session state)."""

    def __init__(self, documents: DataFrame, embeddings: DataFrame,
                 k_candidates: int = retrieval.DEFAULT_K_CANDIDATES,
                 top_n: int = retrieval.DEFAULT_TOP_N,
                 snippet_len: int = DEFAULT_SNIPPET_LEN,
                 session_id: str | None = None):
        from .session_log import SessionLog
        self.documents = documents
        self.embeddings = embeddings
        self.k_candidates = k_candidates
        self.top_n = top_n
        self.snippet_len = snippet_len
        self.memory: list[tuple[str, str]] = []
        self.last_retrieval: list[Row] | None = None
        self.turn = 0
        # #13/#60: every turn also lands in the engine-shaped session
        # log (nested_log()/write() give the reference's teardown JSON,
        # query_rag_database.py:606-650)
        self.log = SessionLog(documents.sparkSession,
                              session_id or "session-1")

    def _retrieve(self, query_vec: Sequence[float],
                  query_text: str) -> list[Row]:
        """The funnel (#51): the top-n (doc_id, snip) rows in rank order,
        collected in one action. Rerank score and snippet come from one
        ``select``; the sort keys are dropped on the driver rather than
        by one more DataFrame call."""
        cand = retrieval.knn(self.embeddings, query_vec, self.k_candidates)
        joined = self.documents.join(
            F.broadcast(cand), self.documents.doc_id == cand.vec_id)
        rows = (joined
                .select("doc_id",
                        F.substring("text", 1, self.snippet_len).alias("snip"),
                        retrieval.lexical_overlap_score(query_text, "text")
                        .alias("relevance_score"),
                        "score")
                .orderBy(F.desc("relevance_score"), F.desc("score"),
                         F.col("doc_id"))
                .limit(self.top_n)
                .collect())
        return [Row(doc_id=r["doc_id"], snip=r["snip"]) for r in rows]

    def ask(self, query_text: str,
            query_vec: Sequence[float] | None = None,
            follow_up: bool = False) -> DataFrame:
        """One turn. ``follow_up=True`` reuses the previous turn's rows
        (#61) — no Spark job; otherwise retrieves fresh and keeps the
        rows for the next follow-up. Returns a 1-row DataFrame (turn,
        mode, prompt, ai_response) over the local values and appends the
        turn to driver-side memory (#60)."""
        self.turn += 1
        if follow_up and self.last_retrieval is not None:
            mode = "follow_up"
        else:
            if query_vec is None:
                raise ValueError("query_vec required for a new-query turn")
            self.last_retrieval = self._retrieve(query_vec, query_text)
            mode = "new_query"
        prompt = generation.prompt_text(context_text(self.last_retrieval),
                                        history_fold(self.memory),
                                        query_text)
        answer = generation.answer_text(prompt)
        self.memory.append((query_text, answer))
        self.log.append(mode, query_text, "Success", self.top_n, answer)
        return self.documents.sparkSession.createDataFrame(
            [(self.turn, mode, prompt, answer)], ASK_SCHEMA)

    def close(self) -> None:
        self.last_retrieval = None
