"""The hashing embedder has one definition, ``hash_embed``: pinned
exactly to the Spark-side sparse embedding the DuckDB parity suite
checks, with defined results on edge inputs, and run unchanged by the
ingest UDF."""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import given, settings, strategies as st

from rag_vector_database_spark import cli
from rag_vector_database_spark.embedding import (HashingEmbedder,
                                                 SentenceTransformerEmbedder,
                                                 hash_embed)
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


def test_embed_ships_hash_embed_by_value(spark, tmp_path):
    """Executors need not import this package: embed() registers the
    module for pickle-by-value, so hash_embed travels with the UDF to a
    worker whose sys.path lacks the package."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    HashingEmbedder(8).embed(spark.createDataFrame([("a",)], "text string"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", "import pickle, sys; "
         "print(pickle.loads(sys.stdin.buffer.read())('a b', 8))"],
        input=cloudpickle.dumps(hash_embed), cwd=tmp_path, env=env,
        capture_output=True, check=True, timeout=60)
    assert out.stdout.decode().strip() == str(hash_embed("a b", 8))


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
