"""Answer generation surface (SURVEY.md section 2 #62).

The reference's final stage is a prompt-template fill followed by a
streamed Ollama LLM call (query_rag_database.py:86-105 template,
:595-596 stream; Auto_query_rag_database.py:350-376). The LLM itself is
out-of-engine — an external inference service — so the engine's
contract ends at the assembled prompt row. What the engine owns:

- **prompt assembly** — fill the template with (context, history,
  question) as a column expression, so a million prompts assemble
  scan-parallel with zero Python;
- **a deterministic answer stub** — hash-of-prompt, keeping the full
  pipeline testable and oracle-checkable (SURVEY.md section 5.2's
  pluggable-model discipline, same as the hashing embedder);
- **the same two as plain Python** (``prompt_text``/``answer_text``) for
  the interactive turn, which holds one prompt on the driver and must
  not pay a Spark job for it. Both forms fill the one
  ``PROMPT_TEMPLATE``; a property test pins them equal;
- **a pluggable real backend** — any ``prompt -> text`` callable can be
  mounted as an Arrow-batched pandas UDF; per-executor batching
  replaces the reference's one-call-per-turn loop.

At 100 TB this stage is embarrassingly parallel (no shuffle: prompt
assembly and generation are row-local projections), so the only scale
concern is external-service throughput — the backend UDF is the
rate-limit boundary, mirroring the reference's jittered delays
(scrape_youtube_metadata.py:42) as an executor-local concern.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# The reference's template shape (query_rag_database.py:86-105):
# instructions, then context block, then chat history, then question.
PROMPT_TEMPLATE = ("Answer using ONLY the context below.\n\n"
                   "Context:\n{context}\n\n"
                   "Chat history:\n{history}\n\n"
                   "Question: {question}\nAnswer:")


def assemble_prompt(context: Column, history: Column,
                    question: Column) -> Column:
    """Template fill as a pure projection (query_rag_database.py:399-402's
    `assign(context=..., history=...) -> prompt` as one format_string)."""
    return F.format_string(
        PROMPT_TEMPLATE.replace("{context}", "%s")
                       .replace("{history}", "%s")
                       .replace("{question}", "%s"),
        F.coalesce(context, F.lit("")),
        F.coalesce(history, F.lit("")),
        F.coalesce(question, F.lit("")))


def answer_stub(prompt: Column) -> Column:
    """#62's deterministic stand-in: ANSWER[<md5 prefix>] — pure SQL in
    both engines, so generation stays inside the oracle gate."""
    return F.concat(F.lit("ANSWER["),
                    F.substring(F.md5(prompt), 1, 12), F.lit("]"))


def prompt_text(context: str | None, history: str | None,
                question: str | None) -> str:
    """``assemble_prompt`` for one prompt on the driver (None -> '')."""
    return PROMPT_TEMPLATE.format(context=context or "",
                                  history=history or "",
                                  question=question or "")


def answer_text(prompt: str) -> str:
    """``answer_stub`` for one prompt on the driver: md5 of the UTF-8
    bytes, as Spark's ``md5`` hashes them."""
    return f"ANSWER[{hashlib.md5(prompt.encode('utf-8')).hexdigest()[:12]}]"


def generate_with(df: DataFrame, backend: Callable[[list[str]], list[str]],
                  prompt_col: str = "prompt",
                  out_col: str = "ai_response") -> DataFrame:
    """Mount a real ``prompts -> answers`` backend as an Arrow-batched
    pandas UDF (iterator form: any per-executor client/session set up
    once, not per row — same pattern as the pluggable embedder)."""

    @F.pandas_udf(StringType())
    def _gen(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield pd.Series(backend(s.tolist()), index=s.index)

    return df.withColumn(out_col, _gen(F.col(prompt_col)))
