"""Incremental-ingest semantics: run-twice-adds-zero (SURVEY §5.4) and
the metadata coercion matrix (ingest_chunks_to_chromadb.py:133-155)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

from rag_vector_database_spark.operators.ingest import (
    coerce_metadata, idempotent_append, incremental_filter,
    read_store_or_none)


def test_incremental_filter(spark):
    incoming = spark.createDataFrame([(i,) for i in range(10)], ["id"])
    log = spark.createDataFrame([(i,) for i in range(0, 10, 2)], ["key"])
    out = incremental_filter(incoming, log, key="id", processed_key="key")
    assert sorted(r["id"] for r in out.collect()) == [1, 3, 5, 7, 9]


def test_idempotent_append(spark):
    with tempfile.TemporaryDirectory() as d:
        store = f"{d}/store"
        batch1 = spark.createDataFrame([(i, f"t{i}") for i in range(5)], ["id", "text"])
        assert idempotent_append(batch1, store, "id") == 5
        # second run: same input -> +0 rows
        assert idempotent_append(batch1, store, "id") == 0
        assert spark.read.parquet(store).count() == 5
        # overlapping batch: only the new keys land
        batch2 = spark.createDataFrame([(i, f"t{i}") for i in range(3, 8)], ["id", "text"])
        assert idempotent_append(batch2, store, "id") == 3
        assert spark.read.parquet(store).count() == 8


def test_idempotent_append_corrupt_store_raises(spark):
    """Only a MISSING store is 'first run'. A corrupt store must raise,
    not silently re-ingest the whole batch as if empty (which would
    duplicate every row once the store reads healthily again)."""
    import pytest

    with tempfile.TemporaryDirectory() as d:
        store = f"{d}/store"
        batch = spark.createDataFrame([(1, "a")], ["id", "text"])
        import os
        os.makedirs(store)
        with open(f"{store}/part-00000.parquet", "wb") as f:
            f.write(b"this is not a parquet file")
        with pytest.raises(Exception) as exc:
            idempotent_append(batch, store, "id")
        assert "PATH_NOT_FOUND" not in str(exc.value)
        # the corrupt store was not appended to
        assert os.listdir(store) == ["part-00000.parquet"]


def test_coercion_matrix(spark):
    schema = StructType([
        StructField("id", IntegerType()),
        StructField("tags", ArrayType(StringType())),
        StructField("note", StringType()),
        StructField("cnt", IntegerType()),
    ])
    df = spark.createDataFrame(
        [(1, ["a", "b"], "hi", 3),
         (2, [], None, None),
         (3, None, "", 0)], schema)
    out = {r["id"]: r for r in coerce_metadata(df, ["tags", "note", "cnt"]).collect()}
    assert out[1]["tags"] == "a, b" and out[1]["note"] == "hi" and out[1]["cnt"] == "3"
    assert out[2]["tags"] == "N/A" and out[2]["note"] == "N/A" and out[2]["cnt"] == "N/A"
    assert out[3]["tags"] == "N/A" and out[3]["note"] == "" and out[3]["cnt"] == "0"


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """Bloom's contract: every processed key MUST pass the filter (no
    false negatives — missing one would silently re-ingest); bitmap
    size is bounded by m_bits/32 rows; and both probe joins broadcast
    (the big side never shuffles)."""
    from pyspark.sql import functions as F

    from rag_vector_database_spark.operators import ingest

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    processed = d.where(F.col("doc_id") % 3 == 0)
    bitmap = ingest.bloom_bitmap(processed, "doc_id")
    assert bitmap.count() <= 4096 // 32

    tested = ingest.bloom_test(d, bitmap, "doc_id")
    missed = tested.where((F.col("doc_id") % 3 == 0)
                          & ~F.col("bloom_pass")).count()
    assert missed == 0

    plan = tested._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_read_store_or_none_corrupt_under_ignore_corrupt_files(
        spark, tmp_path):
    """With spark.sql.files.ignoreCorruptFiles=true a fully-corrupt
    store raises UNABLE_TO_INFER_SCHEMA just like an empty dir; the
    directory listing must disambiguate — data files present means
    the error PROPAGATES (the store is damaged, not absent)."""
    import pytest

    from rag_vector_database_spark.operators.ingest import (
        read_store_or_none)

    bad = tmp_path / "corrupt_store"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"garbage not parquet")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        with pytest.raises(Exception):
            df = read_store_or_none(spark, str(bad))
            assert df is not None  # must not classify as first-run
            df.count()
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    # and a genuinely EMPTY dir still reads as first-run
    empty = tmp_path / "empty_store"
    empty.mkdir()
    assert read_store_or_none(spark, str(empty)) is None


def _files(path: str) -> dict[str, int]:
    return {f: os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)}


def test_incremental_filter_duplicate_and_null_keys(spark):
    """The anti-join needs no distinct on the processed side: a key the
    log holds twice drops its rows and no others, a NULL log key matches
    nothing, a NULL incoming key is never processed, and incoming
    duplicates both stay."""
    rows = [(i, f"t{i}") for i in range(8)] + [(5, "dup"), (None, "null")]
    keys = (0, 0, 2, 2, 2, None, None, 4, 9)
    incoming = spark.createDataFrame(rows, "id long, text string")
    log = spark.createDataFrame([(k,) for k in keys], "key long")
    out = incremental_filter(incoming, log, key="id", processed_key="key")
    want = [r for r in rows if r[0] is None or r[0] not in keys]
    got = sorted(map(tuple, out.collect()), key=repr)
    assert got == sorted(want, key=repr)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan


def test_zero_row_append_leaves_store_files_unchanged(spark, tmp_path):
    """A batch whose keys are all stored adds no file and changes no
    byte: Spark's writer would commit an empty part-file for task 0."""
    store = str(tmp_path / "store")
    batch = spark.createDataFrame([(i, f"t{i}") for i in range(5)],
                                  "id long, text string")
    assert idempotent_append(batch, store, "id") == 5
    before = _files(store)
    again = idempotent_append(batch, store, "id")
    assert (again, again.offered, again.total) == (0, 5, 5)
    assert _files(store) == before
    # an empty incoming frame is a zero-row batch too; an empty scan
    # lets Spark prune the store side, which is then counted apart
    empty = spark.read.parquet(store).where("id < 0")
    none = idempotent_append(empty, store, "id")
    assert (none, none.offered, none.total) == (0, 0, 5)
    assert _files(store) == before
    # a first run that adds nothing leaves no store to read
    other = str(tmp_path / "other")
    assert idempotent_append(empty, other, "id") == 0
    assert read_store_or_none(spark, other) is None


def test_append_counts_exact_under_shuffled_antijoin(spark, tmp_path):
    """With both broadcast thresholds off the anti-join shuffles; the
    observed added/offered/total still equal the Python set sums."""
    store = str(tmp_path / "store")
    stored = set(range(0, 50, 10))
    incoming = set(range(0, 400)) | {1000}
    spark.createDataFrame([(i, "s") for i in sorted(stored)],
                          "id long, text string").write.parquet(store)
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        added = idempotent_append(
            spark.createDataFrame([(i, "t") for i in sorted(incoming)],
                                  "id long, text string"), store, "id")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert added == len(incoming - stored)
    assert added.offered == len(incoming)
    assert added.total == len(incoming | stored)
    ids = [r[0] for r in spark.read.parquet(store).select("id").collect()]
    assert sorted(ids) == sorted(incoming | stored)


def _n_chunks(length: int, size: int = 1000, overlap: int = 150) -> int:
    """The chunker's chunk-count law."""
    if length <= size:
        return 1
    return -(-(length - size) // (size - overlap)) + 1


@pytest.mark.parametrize("committer", ["1", "2"])
def test_aborted_append_then_rerun_stores_each_chunk_once(
        spark, tmp_path, committer):
    """A write that fails after some tasks committed, then a re-run
    without the fault: the store holds the chunk-count law's ids exactly
    once and the re-run's counts are exact. Committer v2 moves each
    committed task's file into the store at task commit, so the failed
    job leaves part of its rows behind; v1 leaves none."""
    from rag_vector_database_spark.operators.chunking import chunk_documents

    lengths = {d: 300 + 700 * (d % 4) for d in range(16)}
    rows = [(d, "x" * n) for d, n in lengths.items()]
    docs = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 8), "doc_id long, text string")
    want = {f"{d}_chunk_{i}" for d, n in lengths.items()
            for i in range(1, _n_chunks(n) + 1)}
    store = str(tmp_path / "store")
    first = chunk_documents(docs.where("doc_id < 4"))
    assert idempotent_append(first, store, "chunk_id") == sum(
        _n_chunks(n) for d, n in lengths.items() if d < 4)
    stored_before = {r[0] for r in spark.read.parquet(store)
                     .select("chunk_id").collect()}

    marker = 15  # in the last of the 8 input partitions

    @F.udf("string")
    def fail_on_marker(chunk_id):
        if chunk_id.startswith(f"{marker}_chunk_"):
            raise RuntimeError("injected write fault")
        return chunk_id

    key = "mapreduce.fileoutputcommitter.algorithm.version"
    spark.conf.set(key, committer)
    try:
        chunks = chunk_documents(docs)
        faulty = chunks.withColumn("chunk_id", fail_on_marker("chunk_id"))
        with pytest.raises(Exception, match="injected write fault"):
            idempotent_append(faulty, store, "chunk_id")
        after_fault = [r[0] for r in spark.read.parquet(store)
                       .select("chunk_id").collect()]
        assert len(after_fault) == len(set(after_fault))
        if committer == "1":
            assert set(after_fault) == stored_before
        else:
            assert set(after_fault) > stored_before
        again = idempotent_append(chunk_documents(docs), store, "chunk_id")
    finally:
        spark.conf.unset(key)
    assert again == len(want - set(after_fault))
    assert (again.offered, again.total) == (len(want), len(want))
    ids = [r[0] for r in spark.read.parquet(store)
           .select("chunk_id").collect()]
    assert len(ids) == len(set(ids)) and set(ids) == want
