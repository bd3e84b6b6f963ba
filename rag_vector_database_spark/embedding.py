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
  ``array<double>``. It has ONE definition, the pure-Python
  ``hash_embed``, and runs it in two places: on executors through an
  Arrow-batched iterator pandas UDF for batches (``embed``, used by
  ``cli.run_ingest``), and directly on the driver for one query string
  (``cli.embed_query``, no Spark job). Its tokenizer is Spark's
  ``functions.text.tokens``; ``tests/test_embedding.py`` pins it exactly
  to the Spark-side sparse embedding that the DuckDB parity suite checks
  (``plans.registry._sparse_hash_embed``).
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
import sys
from collections.abc import Iterator

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

DEFAULT_DIM = 16

# functions.text.tokens: trim(' ') then split on Java's ASCII \s class
_TOKEN_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")


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
    so it is NOT the zero vector."""
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


class HashingEmbedder:
    """Deterministic feature-hashing embedder (``hash_embed`` per row)."""

    def __init__(self, dim: int = DEFAULT_DIM):
        self.dim = dim

    def embed(self, df: DataFrame, text_col: str = "text",
              out_col: str = "embedding") -> DataFrame:
        """Add ``out_col`` = ``hash_embed(text_col)`` as ``array<double>``,
        computed on executors by an iterator pandas UDF (a NULL text
        gives a NULL embedding)."""
        # the UDF calls hash_embed on executors: pickle this module by
        # value, so workers need not import the package (a driver that
        # put it on sys.path at run time has workers that cannot)
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        dim = self.dim

        @F.pandas_udf(ArrayType(DoubleType()))
        def _embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for s in batches:
                yield pd.Series([hash_embed(t, dim) for t in s],
                                index=s.index, dtype=object)

        return df.withColumn(out_col, _embed(F.col(text_col)))


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
