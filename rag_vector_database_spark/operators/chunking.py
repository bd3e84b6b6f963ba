"""Text chunking: 1 document -> N ordered overlapping chunks.

Reference semantics (SURVEY.md section 2 #33-35,57-58): recursive
character split with chunk_size=1000, chunk_overlap=150
(chunk_cisa_kev.py:23-24,32-37), 1-based chunk numbering with per-doc
totals (chunk_cisa_kev.py:148-155), deterministic ids
``{doc_key}_chunk_{i+1}`` (chunk_cisa_kev.py:152), and empty-chunk
filtering (chunk_cisa_kev.py:149-150).

We implement the documented size/overlap contract as fixed-stride
sliding windows (stride = size - overlap) rather than byte-identical
recursive separator backtracking — SURVEY.md section 7 "what's hard"
documents this simplification; the invariants (coverage, overlap,
numbering, id uniqueness) are what tests verify.

Spark-first consequence: chunking is NOT a UDF. It is
``sequence() -> substring() -> explode`` — pure built-ins, whole-stage
codegen, zero Python boundary, and embarrassingly parallel: at 100 TB
each parquet split chunks independently with no shuffle at all.

Chunk-count law (all integer arithmetic, oracle-identical):
    n_chunks(len) = 1                         if len <= size
                  = ceil((len-size)/stride)+1 otherwise
so the last chunk starts at (n_chunks-1)*stride+1 <= len and every
character is covered; consecutive chunks share exactly ``overlap``
chars except possibly the last pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import chunk_id

# Reference defaults (chunk_cisa_kev.py:23-24)
DEFAULT_CHUNK_SIZE = 1000
DEFAULT_CHUNK_OVERLAP = 150


def n_chunks(length: Column, size: int, stride: int) -> Column:
    """Number of chunks for a text of ``length`` chars (integer math)."""
    extra = (length - size + stride - 1)
    return F.when(length <= size, F.lit(1)) \
            .otherwise((extra - (extra % stride)) / stride + 1).cast("int")


def _n_chunks_sql(length: str, size: int, stride: int) -> str:
    """``n_chunks`` as a SQL fragment (same when/otherwise, double
    division, final INT cast)."""
    extra = f"({length} - {size} + {stride - 1})"
    return (f"CAST(CASE WHEN {length} <= {size} THEN 1 "
            f"ELSE ({extra} - ({extra} % {stride})) / {stride} + 1 "
            f"END AS INT)")


def chunk_documents(docs: DataFrame,
                    text_col: str = "text", key_col: str = "doc_id",
                    size: int = DEFAULT_CHUNK_SIZE,
                    overlap: int = DEFAULT_CHUNK_OVERLAP,
                    keep_cols: tuple[str, ...] = (),
                    soft: bool = False) -> DataFrame:
    """Explode documents into the canonical chunk record (FIXTURES.md #3):

    (chunk_id, <key_col>, chunk_number, total_chunks, chunk_text,
     chunk_len, *keep_cols)

    Whitespace-only inputs produce zero chunks (the reference's empty
    filter); all other chunks are non-empty by construction.

    ``soft=True`` is the separator-aware mode approximating the
    reference's RecursiveCharacterTextSplitter word-boundary behavior
    (chunk_cisa_kev.py:32-37): a non-final chunk that would cut
    mid-word is trimmed back to its last whitespace (the dropped
    partial word reappears at the next chunk's start via the overlap,
    provided the word is shorter than ``overlap`` — natural-language
    text; a chunk that is one unbroken token keeps the hard cut).
    Chunk numbering, totals, and ids are identical to hard mode — only
    chunk_text/chunk_len change — so both modes share one oracle CTE.
    """
    if not 0 <= overlap < size:
        raise ValueError("require 0 <= overlap < size")
    from ..functions.text import quote_ident, sql_regex

    stride = size - overlap
    t = quote_ident(text_col)
    k = quote_ident(key_col)
    kc = [quote_ident(c) for c in keep_cols]
    # One-parse selectExpr construction (r15): same expression trees
    # as the Column-API build (pinned row-identical by
    # tests/test_sql_construction_parity), ~10x fewer py4j round trips
    # for a helper many composed pipelines build repeatedly.
    numbered = (docs
                .where(F.expr(f"length(trim({t})) > 0"))
                .selectExpr(
                    k, t, *kc,
                    f"{_n_chunks_sql(f'length({t})', size, stride)}"
                    " AS total_chunks")
                .selectExpr(
                    k, "total_chunks", t, *kc,
                    "explode(sequence(1, total_chunks)) AS chunk_number"))
    start = f"((chunk_number - 1) * {stride} + 1)"
    chunk_text = f"substring({t}, {start}, {size})"
    if soft:
        # next char AFTER the window: if whitespace, the window already
        # ends on a word boundary; if not, drop the trailing partial
        # word (unless that empties the chunk — single unbroken token).
        next_ch = f"substring({t}, {start} + {size}, 1)"
        trimmed = (f"rtrim(regexp_replace({chunk_text}, "
                   f"{sql_regex(chr(92) + 's+' + chr(92) + 'S*$')}, ''))")
        chunk_text = (
            f"CASE WHEN chunk_number = total_chunks THEN {chunk_text} "
            f"WHEN {next_ch} rlike {sql_regex('^' + chr(92) + 's$')} "
            f"THEN {chunk_text} "
            f"WHEN {trimmed} != '' THEN {trimmed} "
            f"ELSE {chunk_text} END")
    return (numbered
            .selectExpr(
                f"concat(CAST({k} AS STRING), '_chunk_', "
                f"CAST(((chunk_number - 1) + 1) AS STRING)) AS chunk_id",
                k, "chunk_number", "total_chunks",
                f"{chunk_text} AS chunk_text",
                f"length({chunk_text}) AS chunk_len",
                *kc))


def dd_chunk_cte(size: int, overlap: int,
                 table: str = "documents", key: str = "doc_id",
                 text: str = "text", keep_cols: tuple[str, ...] = (),
                 soft: bool = False) -> str:
    """DuckDB CTE body producing the same chunk rows as
    ``chunk_documents`` (same integer chunk-count law, same soft-mode
    word-boundary rule); compose it into oracle SQL as
    ``WITH chunks AS ({this}) SELECT ...``."""
    stride = size - overlap
    keep = "".join(f", {c}" for c in keep_cols)
    hard = f"substring(b.t, (n.chunk_number - 1) * {stride} + 1, {size})"
    if soft:
        next_ch = f"substring(b.t, (n.chunk_number - 1) * {stride} + 1 + {size}, 1)"
        trimmed = f"rtrim(regexp_replace({hard}, '\\s+\\S*$', ''))"
        chunk_expr = f"""CASE
           WHEN n.chunk_number = b.total_chunks THEN {hard}
           WHEN regexp_matches({next_ch}, '^\\s$') THEN {hard}
           WHEN {trimmed} <> '' THEN {trimmed}
           ELSE {hard} END"""
    else:
        chunk_expr = hard
    return f"""
  SELECT CAST(b.{key} AS VARCHAR) || '_chunk_' || CAST(n.chunk_number AS VARCHAR) AS chunk_id,
         b.{key}, CAST(n.chunk_number AS INT) AS chunk_number, b.total_chunks,
         {chunk_expr} AS chunk_text,
         CAST(length({chunk_expr}) AS INT) AS chunk_len
         {keep}
  FROM (
    SELECT {key}, {text} AS t{keep},
           CASE WHEN length({text}) <= {size} THEN 1
                ELSE CAST(((length({text}) - {size} + {stride} - 1)
                     - ((length({text}) - {size} + {stride} - 1) % {stride})) / {stride} AS INT) + 1
           END AS total_chunks
    FROM {table}
    WHERE length(trim({text})) > 0
  ) b, unnest(generate_series(1, b.total_chunks)) AS n(chunk_number)
"""


try:  # Python UDTFs: Spark >= 3.5 (this repo targets Spark 4)
    from pyspark.sql.functions import udtf as _udtf

    @_udtf(returnType="chunk_number int, chunk_text string, chunk_len int")
    class ChunkSpansUDTF:
        """Table-function form of the hard-stride chunker — one input
        row fans out to total_chunks output rows. Same integer chunk
        law as ``chunk_documents``; exists to exercise Spark's Python
        UDTF surface (the reference's splitter is a per-doc generator,
        chunk_cisa_kev.py:32-37 — a UDTF is its direct Spark analog).
        The expression pipeline above remains the production path; a
        row-at-a-time Python UDTF is the slow lane, for sampled slices
        and API parity only."""

        def eval(self, text, size, overlap):
            if text is None or not text.strip():
                return
            stride = size - overlap
            n = len(text)
            total = 1 if n <= size else (n - size + stride - 1) // stride + 1
            for i in range(1, total + 1):
                c = text[(i - 1) * stride:(i - 1) * stride + size]
                yield i, c, len(c)

    HAVE_UDTF = True
except ImportError:  # pragma: no cover
    HAVE_UDTF = False
