"""The hashing embedder's two forms, ``hash_embed`` (Python, one query
on the driver) and ``hash_embed_sql`` (the JVM expression ingest embeds
batches with), are pinned bit-identical to each other and to the
Spark-side sparse embedding the DuckDB parity suite checks, with
defined results on edge inputs."""

from __future__ import annotations

import hashlib
import math
import random

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from rag_vector_database_spark import cli
from rag_vector_database_spark.embedding import (HashingEmbedder,
                                                 SentenceTransformerEmbedder,
                                                 hash_embed, hash_embed_sql)
from rag_vector_database_spark.plans.registry import _sparse_hash_embed


def _from_tokens(toks: list[str], dim: int) -> list[float]:
    """The embedding of an explicit token list (the hashing law alone)."""
    v = [0.0] * dim
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        v[h % dim] += 1.0 if (h >> 16) & 1 else -1.0
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n > 0 else v


# Spark's separators, the Unicode whitespace Spark treats as token
# characters, a few ASCII letters (so tokens repeat and buckets cancel)
# and any other encodable character.
_texts = st.text(
    alphabet=st.one_of(
        st.sampled_from(" \t\n\x0b\x0c\r"),
        st.sampled_from("\x1c\x1f\x85\xa0   　"),
        st.sampled_from("abc"),
        st.characters(codec="utf-8", exclude_categories=("Cs",))),
    max_size=60)


@settings(max_examples=25, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=30))
def test_hash_embed_equals_sparse_spark_embedding(spark, texts):
    dim = 16
    df = spark.createDataFrame(list(enumerate(texts)), "k long, t string")
    dense = {k: [0.0] * dim for k in range(len(texts))}
    for r in _sparse_hash_embed(df, "k", "t", dim).collect():
        dense[r["k"]][r["dim_idx"]] = r["val"]
    assert [hash_embed(t, dim) for t in texts] == \
        [dense[k] for k in range(len(texts))]


def test_hash_embed_edge_results():
    assert hash_embed(None, 8) is None
    assert hash_embed("", 8) == [0.0] * 8
    assert hash_embed("   ", 8) == [0.0] * 8
    # only ' ' is trimmed: a lone tab splits into two empty tokens
    assert hash_embed("\t", 8) == _from_tokens(["", ""], 8) != [0.0] * 8
    assert hash_embed(" a\t", 8) == _from_tokens(["a", ""], 8)
    assert hash_embed("\na b", 8) == _from_tokens(["", "a", "b"], 8)
    # NBSP and U+3000 are token characters, not separators
    for ws in (" ", "　"):
        assert hash_embed(f"a{ws}b", 8) == _from_tokens([f"a{ws}b"], 8)
        assert hash_embed(f"a{ws}b", 8) != hash_embed("a b", 8)
    assert hash_embed("héllo 漢字", 8) == _from_tokens(["héllo", "漢字"], 8)


def test_empty_text(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "hello"), (4, None), (5, "\t")],
        "doc_id long, text string")
    out = HashingEmbedder(dim=8).embed(df)
    assert dict(out.dtypes)["embedding"] == "array<double>"
    got = {r["doc_id"]: r["embedding"] for r in out.collect()}
    assert got == {1: [0.0] * 8, 2: [0.0] * 8, 3: hash_embed("hello", 8),
                   4: None, 5: hash_embed("\t", 8)}


# Characters that tokenizing or SQL quoting could get wrong: Spark's
# separators, Unicode whitespace that is part of a token, astral
# characters, quotes, backslashes and ``$``.
_HARD = " \t\n\x0b\x0c\r\x1c\x1f\x85\xa0\u3000\U0001d11e\U0001f600'\\$`{}ab"
_rnd = random.Random(8)
_EDGE_TEXTS = [None, "", "   ", "\t", " a\t", "\na b", "a b\r\n",
               "\x0b\x0c", "a\xa0b", "a\u3000b", "\x1c\x1f\x85",
               "\U0001d11e \U0001f600x", "it's", "'", "\\", "a\\b",
               "$1", "${x}", "${spark.app.name}", "x" * 1000,
               "".join(_rnd.choice(_HARD) for _ in range(1000)),
               " ".join(_rnd.choice(["a", "b", "ab"]) for _ in range(500))]
_DIMS = (1, 8, 16, 33)
_ESCAPED = "spark.sql.parser.escapedStringLiterals"


@settings(max_examples=10, deadline=None)
@given(st.lists(st.one_of(st.none(), _texts), max_size=8))
def test_embed_equals_hash_embed(spark, texts):
    """``HashingEmbedder(dim).embed`` equals ``hash_embed`` by ``repr``
    at dims 1, 8, 16 and 33, with the expression parsed under both
    ``escapedStringLiterals`` settings, for a text column whose name
    holds a backtick; it replaces an existing ``embedding`` column in
    place and appends new ones, as ``withColumn`` does. Both settings'
    columns are collected in one job."""
    rows = [(i, t, "old", i) for i, t in enumerate(_EDGE_TEXTS + texts)]
    out = spark.createDataFrame(
        rows, "k long, `te``xt` string, embedding string, z long")
    cols = []
    for conf in ("false", "true"):
        spark.conf.set(_ESCAPED, conf)
        try:
            for dim in _DIMS:
                col = "embedding" if not cols else f"e{conf}{dim}"
                out = HashingEmbedder(dim).embed(out, "te`xt", col)
                cols.append((col, dim))
        finally:
            spark.conf.unset(_ESCAPED)
    assert out.columns == ["k", "te`xt", "embedding", "z"] + \
        [c for c, _ in cols[1:]]
    assert {t for c, t in out.dtypes if c != "te`xt"} == \
        {"bigint", "array<double>"}
    for r in out.collect():
        for col, dim in cols:
            assert repr(r[col]) == repr(hash_embed(r["te`xt"], dim)), \
                (col, r["te`xt"])


def test_embed_runs_in_the_jvm(spark, sf_dir):
    """The embedding is a JVM expression: no Python evaluation node in
    the executed plan, and each token is hashed once (the optimizer
    does not copy the token hashing into the per-bucket lambda)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qe = HashingEmbedder(16).embed(docs)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert qe.optimizedPlan().toString().count("md5(") == 1


def test_embed_columns_match_with_column(spark):
    """``embed`` names and places its column as ``withColumn`` does,
    under either ``spark.sql.caseSensitive`` setting (no job runs)."""
    df = spark.createDataFrame([], "k long, text string, Embedding string")
    for conf in ("false", "true"):
        spark.conf.set("spark.sql.caseSensitive", conf)
        try:
            for out in ("embedding", "Embedding", "text", "v"):
                assert HashingEmbedder(8).embed(df, "text", out).columns \
                    == df.withColumn(out, F.lit(None)).columns, (conf, out)
        finally:
            spark.conf.unset("spark.sql.caseSensitive")


def test_dim_below_one_is_value_error(spark, sf_dir, tmp_path):
    for dim in (0, -3):
        for call in (lambda: hash_embed("", dim),
                     lambda: hash_embed("a", dim),
                     lambda: hash_embed(None, dim),
                     lambda: hash_embed_sql("`text`", dim),
                     lambda: HashingEmbedder(dim)):
            with pytest.raises(ValueError, match="dim"):
                call()
    store = tmp_path / "store"
    with pytest.raises(ValueError, match="dim"):
        cli.run_ingest(spark, sf_dir, str(store), dim=0,
                       print_fn=lambda s: None)
    assert not store.exists()


def test_normalized(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    out = HashingEmbedder(dim=16).embed(docs).collect()
    for r in out:
        n = sum(x * x for x in r["embedding"])
        assert n == pytest.approx(1.0, abs=1e-12)


def test_embed_query_is_hash_embed(spark):
    q = "How do I patch CVE-2021-44228? now"
    assert cli.embed_query(spark, q, 16) == hash_embed(q, 16)


def test_run_ingest_stores_hash_embed(spark, sf_dir, tmp_path):
    store = str(tmp_path / "store")
    cli.run_ingest(spark, sf_dir, store, chunk_size=400, chunk_overlap=50,
                   dim=16, print_fn=lambda s: None)
    stored = spark.read.parquet(store)
    assert dict(stored.dtypes)["embedding"] == "array<double>"
    rows = stored.select("chunk_text", "embedding").collect()
    assert rows
    for r in rows:
        assert r["embedding"] == hash_embed(r["chunk_text"], 16)


def test_real_backend_gated():
    with pytest.raises(NotImplementedError):
        SentenceTransformerEmbedder()
