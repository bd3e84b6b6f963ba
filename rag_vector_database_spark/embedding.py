"""Pluggable embedding backends (SURVEY.md section 2 #46, #63).

Every reference extension point (splitter #33, PDF extract #4, embedder
#46, cross-encoder #49, LLM #62) is a pandas UDF (Arrow-batched,
per-executor init) or a pure column expression — never a row-at-a-time
Python UDF. No UDAF/UDTF is needed anywhere (SURVEY.md section 2 #63).

The reference embeds with BAAI/bge-base-en-v1.5 (768-d, L2-normalized,
ingest_chunks_to_chromadb.py:35,63-67). Real transformer models are not
oracle-checkable (SURVEY.md section 5.2), so the engine defines one
column contract — ``embed(df, text_col) -> df + embedding`` — with two
backends:

- ``HashingEmbedder`` (default, deterministic): md5 feature hashing of
  whitespace tokens into ``dim`` signed buckets, L2-normalized,
  ``array<double>``. The hashing law has two forms, each with its own
  consumer, and ``tests/test_embedding.py`` pins them bit-identical:
  ``hash_embed_sql``, a Spark SQL column expression that
  ``HashingEmbedder.embed`` applies to batches (``cli.run_ingest``),
  and ``hash_embed``, plain Python for one query string on the driver
  (``cli.embed_query``, no Spark job; one Spark job per query cost
  717-788 ms). Both tokenize as ``functions.text.tokens_sql`` does,
  and ``hash_embed`` is also pinned to the Spark-side sparse embedding
  that the DuckDB parity suite checks
  (``plans.registry._sparse_hash_embed``).

  Batches are embedded in the JVM because a Python UDF costs a fixed
  amount per task, whatever the batch size: pyspark's worker calls
  ``importlib.invalidate_caches()`` for every task, which makes each
  zipimporter over ``pyspark.zip`` re-read the archive's directory.
  On a 4-core host (local[4]) a one-task job over 28 rows cost a
  median 70 ms of process-tree CPU, 455 ms with an identity pandas UDF
  and 100 ms with this expression at dim 16. In the ingest benchmark
  (batches of about 28 chunks) the expression cut the median CPU of a
  batch from 1035 to 743 ms. The expression's cost per row grows with
  tokens x ``dim`` (each bucket counts its two codes with
  ``array_remove``) where the UDF's barely depends on ``dim``. CPU
  seconds for 20 000 rows of 150 tokens (local[2], median of 5 runs
  after a warm-up):

  ======  ==========  ==============
  dim     pandas UDF  SQL expression
  ======  ==========  ==============
  16      7.5         6.8
  64      7.8         10.0
  ======  ==========  ==============

  so at the default dim the expression is also the cheaper one on
  large batches, and at dim 64 it costs 1.3x the UDF there.
- ``SentenceTransformerEmbedder``: the real thing, loaded lazily per
  executor inside an iterator pandas UDF (model initialized once per
  worker, batches streamed through Arrow — the Spark equivalent of the
  reference's batch-of-5 GPU loop). Gated behind an import-try because
  sentence-transformers is an optional dependency.

No ``from __future__ import annotations`` here: pandas-UDF eval type
inference reads the real type hints.
"""

import hashlib
import math
import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from .functions.hashing import md5_long_sql
from .functions.text import quote_ident, tokens_sql
from .operators.storage import VECTOR_WIDTH

DEFAULT_DIM = 16

# functions.text.tokens: trim(' ') then split on Java's ASCII \s class
_TOKEN_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")


def _check_dim(dim: int) -> None:
    if dim < 1:
        raise ValueError(f"embedding dim must be at least 1, got dim={dim}")


def hash_embed(text: str | None, dim: int = DEFAULT_DIM) -> list[float] | None:
    """The hashing embedding of one string.

    Tokens follow Spark's ``trim`` + ``split(…, '[ \\t\\n\\x0b\\f\\r]+')``:
    only ``' '`` is trimmed, a separator run at either end of the
    trimmed text yields an empty edge token, and non-ASCII whitespace
    (NBSP, U+3000, …) is part of a token. Each token t adds
    ``+1`` if bit 16 of ``h`` is set, else ``-1``, to bucket
    ``h mod dim``, where ``h`` is the first 8 hex digits of
    ``md5(utf8(t))``; the vector is divided by its L2 norm (squares
    summed left to right in float64).

    Edge results: ``None`` -> ``None``; ``''`` or only ``' '`` -> the
    zero vector; ``'\\t'`` alone is two empty tokens (both hash ``md5('')``)
    so it is NOT the zero vector. ``dim < 1`` is a ``ValueError``."""
    _check_dim(dim)
    if text is None:
        return None
    buckets = [0.0] * dim
    t = text.strip(" ")
    if t:
        for tok in _TOKEN_SPLIT.split(t):
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:4], "big")
            buckets[h % dim] += 1.0 if (h >> 16) & 1 else -1.0
    acc = 0.0
    for x in buckets:
        acc += x * x
    norm = math.sqrt(acc)
    return [x / norm for x in buckets] if norm > 0 else buckets


def _let(name: str, value: str, body: str) -> str:
    """SQL for ``body`` with the lambda variable ``name`` bound to
    ``value``, which is evaluated once per row (a one-element
    ``transform``); an expression written twice would be evaluated
    twice."""
    return f"transform(array({value}), {name} -> {body})[0]"


def hash_embed_sql(src: str, dim: int = DEFAULT_DIM) -> str:
    """``hash_embed`` as a SQL fragment over the string expression
    ``src``, bit-identical to it. Each token of ``tokens_sql(src)`` is
    hashed once (``md5_long_sql``) to a code ``2 * (h mod dim) + bit``;
    bucket b holds (codes equal to 2b + 1) - (codes equal to 2b),
    counted as array sizes, so the buckets are exact integers and the
    order of summation cannot matter (``size(array_remove(c, k))`` is
    the number of codes other than k). The norm is the float64 left fold
    of squares, computed once per row; a zero norm leaves the vector as
    it is, and a NULL text gives NULL."""
    _check_dim(dim)
    codes = (f"transform(transform({tokens_sql(src)}, t -> "
             f"{md5_long_sql('t')}), "
             f"h -> (h % {dim}) * 2 + (shiftright(h, 16) & 1))")
    vec = (f"transform(sequence(0, {dim - 1}), b -> CAST("
           "size(array_remove(c, 2 * b)) - size(array_remove(c, 2 * b + 1))"
           " AS DOUBLE))")
    norm = "sqrt(aggregate(v, 0.0D, (acc, x) -> acc + x * x))"
    unit = "CASE WHEN n > 0 THEN transform(v, x -> x / n) ELSE v END"
    return (f"CASE WHEN {src} IS NOT NULL THEN "
            f"{_let('c', codes, _let('v', vec, _let('n', norm, unit)))} END")


class HashingEmbedder:
    """Deterministic feature-hashing embedder (``hash_embed_sql`` per
    row, computed in the JVM)."""

    def __init__(self, dim: int = DEFAULT_DIM):
        _check_dim(dim)
        self.dim = dim

    def embed(self, df: DataFrame, text_col: str = "text",
              out_col: str = "embedding") -> DataFrame:
        """Add ``out_col`` = ``hash_embed(text_col)`` as ``array<double>``
        (a NULL text gives a NULL embedding), with the columns of
        ``df.withColumn(out_col, …)``: a column that the session's
        resolver matches to ``out_col`` is replaced in place, else it is
        appended. One ``select`` and no Python worker: the column is a
        JVM expression. It carries its width as column metadata
        (``storage.VECTOR_WIDTH``), which ``ingest.idempotent_append``
        checks against the store's before it writes."""
        vec = F.expr(hash_embed_sql(quote_ident(text_col), self.dim)).alias(
            out_col, metadata={VECTOR_WIDTH: self.dim})
        case_sensitive = df.sparkSession.conf.get(
            "spark.sql.caseSensitive") == "true"
        fold = str if case_sensitive else str.lower
        if fold(out_col) not in map(fold, df.columns):
            return df.select("*", vec)
        return df.select(*(vec if fold(c) == fold(out_col)
                           else F.col(quote_ident(c)) for c in df.columns))


class SentenceTransformerEmbedder:
    """Real-model backend (BAAI/bge-base-en-v1.5 by default, matching
    ingest_chunks_to_chromadb.py:35). Requires sentence-transformers."""

    def __init__(self, model_name: str = "BAAI/bge-base-en-v1.5",
                 batch_size: int = 64, normalize: bool = True):
        try:
            import sentence_transformers  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "sentence-transformers is not installed in this environment; "
                "use HashingEmbedder for deterministic tests") from e
        self.model_name = model_name
        self.batch_size = batch_size
        self.normalize = normalize

    def embed(self, df: DataFrame, text_col: str = "text",
              out_col: str = "embedding") -> DataFrame:
        model_name, batch_size, normalize = (
            self.model_name, self.batch_size, self.normalize)

        @F.pandas_udf(ArrayType(FloatType()))
        def _embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            from sentence_transformers import SentenceTransformer
            model = SentenceTransformer(model_name)  # once per worker
            for s in batches:
                vecs = model.encode(list(s), batch_size=batch_size,
                                    normalize_embeddings=normalize)
                yield pd.Series([list(v) for v in vecs])

        return df.withColumn(out_col, _embed(F.col(text_col)))
