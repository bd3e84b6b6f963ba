"""The store's vector width, read from parquet footers on the driver:
``read_parquet(..., vectors=...)`` records it as column metadata, and
``cli._embedding_dim`` falls back to its one-row probe job only where
the footers cannot tell."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rag_vector_database_spark import cli
from rag_vector_database_spark.operators.storage import (VECTOR_WIDTH,
                                                         read_parquet)

from .conftest import SF_DIR


def footer_width(spark, path):
    """The width ``read_parquet`` records for ``embedding``, or None."""
    return read_parquet(spark, path, ("embedding",)) \
        .schema["embedding"].metadata.get(VECTOR_WIDTH)


def probed_width(spark, path):
    """The first row's vector width, as the loop probed it before."""
    return spark.read.parquet(path).select(F.size("embedding")).first()[0]


def write_vectors(path, rows, value_type=pa.float32()):
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(rows)), pa.int64()),
        "embedding": pa.array(rows, pa.list_(value_type))}), path)


@pytest.mark.parametrize("value_type", [pa.float32(), pa.float64()],
                         ids=["float", "double"])
@pytest.mark.parametrize("dim", [1, 8, 16, 33, 64])
def test_pyarrow_file_width(spark, tmp_path, job_count, dim, value_type):
    path = str(tmp_path / "embeddings.parquet")
    write_vectors(path, [[float(i + j) for j in range(dim)]
                         for i in range(5)], value_type)
    group = f"width-{uuid.uuid4()}"
    spark.sparkContext.setJobGroup(group, "footer width")
    try:
        got = footer_width(spark, path)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert job_count(group) == 0
    assert got == probed_width(spark, path) == dim


def test_ingest_store_width(spark, sf_dir, tmp_path):
    """Three ``run_ingest`` batches, the last adding nothing: the store
    has several part-files and the footer width is the ingest dim."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    even, odd = str(tmp_path / "even"), str(tmp_path / "odd")
    docs.where("doc_id % 2 = 0").write.parquet(f"{even}/documents.parquet")
    docs.where("doc_id % 2 = 1").write.parquet(f"{odd}/documents.parquet")
    store = str(tmp_path / "store")
    added = [cli.run_ingest(spark, d, store, dim=24,
                            print_fn=lambda s: None)["added"]
             for d in (even, odd, even)]
    assert added[0] > 0 and added[1] > 0 and added[2] == 0
    parts = [p for p in (tmp_path / "store").iterdir()
             if p.name.startswith("part-")]
    assert len(parts) >= 2
    assert footer_width(spark, store) == probed_width(spark, store) == 24


def test_spark_store_with_several_row_groups(spark, tmp_path):
    path = str(tmp_path / "groups")
    spark.range(3000).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 40), x -> CAST(id * x AS DOUBLE)) "
        "AS embedding") \
        .coalesce(1).write.option("parquet.block.size", 65536).parquet(path)
    [part] = (tmp_path / "groups").glob("part-*.parquet")
    assert pq.read_metadata(part).num_row_groups > 1
    assert footer_width(spark, path) == probed_width(spark, path) == 40


def test_sf_test_data_width(spark):
    path = f"{SF_DIR}/embeddings.parquet"
    assert footer_width(spark, path) == probed_width(spark, path)


def test_first_file_without_rows_is_skipped(spark, tmp_path):
    """The walk goes on to the next file in Spark's order when the
    least one holds no row; a table of row-less files is width 0."""
    table = tmp_path / "table"
    table.mkdir()
    write_vectors(str(table / "part-0.parquet"), [])
    assert footer_width(spark, str(table)) == 0
    write_vectors(str(table / "part-1.parquet"), [[1.0, 2.0, 3.0]] * 4)
    write_vectors(str(table / "part-2.parquet"), [[1.0] * 5] * 4)
    assert footer_width(spark, str(table)) == 3


@pytest.mark.parametrize("first", [None, [], [1.0, None, 3.0]],
                         ids=["null", "empty", "null-element"])
def test_unreadable_width_falls_back_to_the_probe(spark, tmp_path, first):
    """A NULL or empty vector or a NULL element in the first row group
    leaves the width to the probe, whose answer ``_embedding_dim``
    returns."""
    path = str(tmp_path / "embeddings.parquet")
    write_vectors(path, [first, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
    assert footer_width(spark, path) is None
    embeddings = read_parquet(spark, path, ("embedding",))
    assert cli._embedding_dim(embeddings, str(tmp_path)) == \
        probed_width(spark, path)


def test_recorded_width_is_not_trusted(spark, tmp_path):
    """A width the writer recorded in the file's schema is replaced by
    the measured one, or dropped where nothing is measured (a NULL
    vector first, or a glob that Spark infers from)."""
    path = str(tmp_path / "claimed")
    spark.createDataFrame([(0, None), (1, [1.0, 2.0])],
                          "vec_id long, embedding array<double>") \
        .withMetadata("embedding", {VECTOR_WIDTH: 7}) \
        .coalesce(1).write.parquet(path)
    assert spark.read.parquet(path).schema["embedding"].metadata \
        == {VECTOR_WIDTH: 7}
    assert footer_width(spark, path) is None
    assert footer_width(spark, f"{path}/part-*") is None
    spark.createDataFrame([(0, [1.0, 2.0])],
                          "vec_id long, embedding array<double>") \
        .withMetadata("embedding", {VECTOR_WIDTH: 7}) \
        .coalesce(1).write.mode("overwrite").parquet(path)
    assert footer_width(spark, path) == 2
