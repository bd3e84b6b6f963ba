"""Chunking invariants (FIXTURES.md #3): coverage, overlap, numbering,
id uniqueness, empty-input filtering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_vector_database_spark.operators.chunking import chunk_documents


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a" * 50),          # shorter than size -> 1 chunk
        (2, "b" * 120),         # exactly size -> 1 chunk
        (3, "c" * 121),         # size+1 -> 2 chunks
        (4, "x" * 1000),        # many chunks
        (5, "   "),             # whitespace-only -> filtered
        (6, "short"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


SIZE, OVERLAP = 120, 20
STRIDE = SIZE - OVERLAP


@pytest.fixture(scope="module")
def chunks(docs):
    return chunk_documents(docs, size=SIZE, overlap=OVERLAP).cache()


def test_whitespace_docs_filtered(chunks):
    assert chunks.where(F.col("doc_id") == 5).count() == 0


def test_chunk_counts(chunks):
    got = {r["doc_id"]: r["n"] for r in
           chunks.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 10, 6: 1}
    # law: 1000 chars -> ceil((1000-120)/100)+1 = 10


def test_ids_unique_and_deterministic(chunks):
    n = chunks.count()
    assert chunks.select("chunk_id").distinct().count() == n
    first = chunks.where((F.col("doc_id") == 3) & (F.col("chunk_number") == 1)).first()
    assert first["chunk_id"] == "3_chunk_1"


def test_numbering_consistent(chunks):
    bad = chunks.where(
        (F.col("chunk_number") < 1) | (F.col("chunk_number") > F.col("total_chunks")))
    assert bad.count() == 0
    # total_chunks equals the actual per-doc count
    agg = (chunks.groupBy("doc_id", "total_chunks")
           .agg(F.count("*").alias("n"))
           .where(F.col("n") != F.col("total_chunks")))
    assert agg.count() == 0


def test_overlap_reconstruction(chunks, docs):
    """Dropping the leading `overlap` chars of chunks 2..n and
    concatenating reconstructs the original text exactly."""
    rebuilt = (chunks
               .withColumn("piece",
                           F.when(F.col("chunk_number") == 1, F.col("chunk_text"))
                            .otherwise(F.expr(f"substring(chunk_text, {OVERLAP + 1})")))
               .groupBy("doc_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("chunk_number", "piece"))),
                       lambda s: s["piece"]), "").alias("rebuilt")))
    joined = rebuilt.join(docs, "doc_id").where(F.col("rebuilt") != F.col("text"))
    assert joined.count() == 0


def test_consecutive_overlap(chunks):
    """Consecutive chunks share exactly `overlap` chars (when the next
    chunk is full-stride away)."""
    w = chunks.select("doc_id", "chunk_number", "chunk_text")
    nxt = w.select(F.col("doc_id").alias("d"),
                   (F.col("chunk_number") - 1).alias("cn"),
                   F.col("chunk_text").alias("next_text"))
    pairs = w.join(nxt, (w["doc_id"] == nxt["d"]) & (w["chunk_number"] == nxt["cn"]))
    bad = pairs.where(
        F.expr(f"substring(chunk_text, {STRIDE + 1}, {OVERLAP})")
        != F.expr(f"substring(next_text, 1, {OVERLAP})"))
    assert bad.count() == 0


def test_param_validation(docs):
    with pytest.raises(ValueError):
        chunk_documents(docs, size=100, overlap=100)


@pytest.fixture(scope="module")
def worded_docs(spark):
    rows = [
        (10, "the quick brown fox jumps over the lazy dog " * 20),
        (11, "a" * 500),                       # one unbroken token
        (12, "word " * 100),                   # boundary-aligned
        (13, "mixed " + "y" * 200 + " tail words here " * 10),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_soft_chunks_invariants(worded_docs):
    hard = chunk_documents(worded_docs, size=SIZE, overlap=OVERLAP).collect()
    soft = chunk_documents(worded_docs, size=SIZE, overlap=OVERLAP,
                           soft=True).collect()
    hard_by_id = {r["chunk_id"]: r for r in hard}
    assert set(hard_by_id) == {r["chunk_id"] for r in soft}  # same ids
    texts = {r["doc_id"]: r["text"] for r in worded_docs.collect()}
    for s in soft:
        h = hard_by_id[s["chunk_id"]]
        # soft chunk is a prefix of the hard chunk, never longer
        assert h["chunk_text"].startswith(s["chunk_text"])
        assert s["chunk_len"] <= SIZE
        assert (s["chunk_number"], s["total_chunks"]) == \
            (h["chunk_number"], h["total_chunks"])
        # non-final chunks end on a word boundary unless the chunk is
        # one unbroken token (doc 11)
        if s["chunk_number"] < s["total_chunks"] and " " in s["chunk_text"]:
            # either the hard cut already landed on a boundary (kept
            # whole) or the trim left no trailing whitespace/partial word
            assert (len(s["chunk_text"]) == SIZE
                    or not s["chunk_text"][-1].isspace())
            if len(s["chunk_text"]) < SIZE:
                # what was dropped is whitespace + at most one partial
                # word — re-covered by the next chunk's overlap
                dropped = h["chunk_text"][len(s["chunk_text"]):]
                assert " " not in dropped.strip()
    assert texts  # fixture sanity


def test_soft_single_token_keeps_hard_cut(worded_docs):
    soft = chunk_documents(worded_docs.where("doc_id = 11"),
                           size=SIZE, overlap=OVERLAP, soft=True).collect()
    for r in soft:
        if r["chunk_number"] < r["total_chunks"]:
            assert r["chunk_len"] == SIZE  # no whitespace to break at


def test_input_with_output_column_names(spark):
    """An input that already carries total_chunks / chunk_number columns
    chunks like any other: only the key, text and keep_cols are read."""
    docs = spark.createDataFrame(
        [(1, "a" * 150, 99, 7, "en")],
        "doc_id long, text string, total_chunks int, chunk_number int, "
        "lang string")
    out = chunk_documents(docs, size=SIZE, overlap=OVERLAP,
                          keep_cols=("lang",))
    assert out.columns == ["chunk_id", "doc_id", "chunk_number",
                           "total_chunks", "chunk_text", "chunk_len", "lang"]
    assert [tuple(r) for r in out.select(
        "chunk_id", "chunk_number", "total_chunks", "lang").collect()] == \
        [("1_chunk_1", 1, 2, "en"), ("1_chunk_2", 2, 2, "en")]
