"""``storage.read_parquet``: the schema Spark's inference job would give,
read on the driver from one footer, with no job; Spark's own errors
where no single footer answers."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from rag_vector_database_spark import cli
from rag_vector_database_spark.operators.ingest import read_store_or_none
from rag_vector_database_spark.operators.storage import read_parquet
from rag_vector_database_spark.session import load_tables, read_events
from rag_vector_database_spark.streaming import events as se

from .conftest import SF_DIR

SF_TABLES = sorted(glob.glob(f"{SF_DIR}/*.parquet"))


def assert_same_as_spark(spark, path):
    got, want = read_parquet(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect()), key=repr) == \
        sorted(map(tuple, want.collect()), key=repr)


@pytest.fixture()
def conf(spark):
    """``conf(key, value)`` sets a session conf for one test."""
    before = {}

    def set_conf(key, value):
        before.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)
    yield set_conf
    for key, value in before.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.mark.parametrize("path", SF_TABLES, ids=os.path.basename)
def test_sf_tables_match_spark(spark, path):
    assert_same_as_spark(spark, path)


def test_pyarrow_float_list_matches_spark(spark, tmp_path):
    path = str(tmp_path / "vectors.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array([1, 2, 3], pa.int64()),
        "embedding": pa.array([[0.5, -1.0], None, [2.0, 0.25]],
                              pa.list_(pa.float32()))}), path)
    assert_same_as_spark(spark, path)


def test_run_ingest_store_matches_spark(spark, sf_dir, tmp_path):
    store = str(tmp_path / "store")
    cli.run_ingest(spark, sf_dir, store, dim=8, print_fn=lambda s: None)
    assert_same_as_spark(spark, store)


def test_partitioned_sink_matches_spark(spark, tmp_path):
    """A ``_bucket=`` partitioned sink: the footer gives the data
    columns, Spark's file index adds the partition column."""
    out = str(tmp_path / "sink")
    merge = se.keep_latest_merge_partitioned(out, "user_id", "seq",
                                             n_buckets=4)
    merge(spark.createDataFrame([(u, 1, "a") for u in range(12)],
                                "user_id long, seq long, v string"), 0)
    assert "_bucket" in read_parquet(spark, out).columns
    assert_same_as_spark(spark, out)


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_nanos_as_long_matches_spark(spark, sf_dir, tmp_path, conf,
                                     nanos_as_long):
    """The session's converter settings apply: a TIMESTAMP(NANOS)
    column is a long under nanosAsLong and the same error without it."""
    conf("spark.sql.legacy.parquet.nanosAsLong", nanos_as_long)
    assert_same_as_spark(spark, f"{sf_dir}/events.parquet")
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"id": [1, 2], "ts": pa.array(
        [1, 2], pa.timestamp("ns"))}), path)
    if nanos_as_long == "true":
        assert_same_as_spark(spark, path)
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
    else:
        for read in (read_parquet, lambda s, p: s.read.parquet(p)):
            with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
                read(spark, path)


def _two_partitions(spark, path):
    """Partitions ``k=1`` and ``k=2`` under ``path``, one part-file
    each, whose data columns differ."""
    spark.createDataFrame([(1, "x")], "id long, a string") \
        .coalesce(1).write.parquet(f"{path}/k=1")
    spark.createDataFrame([(2, 2.5)], "id long, b double") \
        .coalesce(1).write.parquet(f"{path}/k=2")


def test_merge_schema_matches_spark(spark, tmp_path, conf):
    """No single footer gives a merged schema: Spark infers it."""
    path = str(tmp_path / "merged")
    _two_partitions(spark, path)
    conf("spark.sql.parquet.mergeSchema", "true")
    assert read_parquet(spark, path).columns == ["id", "a", "b", "k"]
    assert_same_as_spark(spark, path)


def test_first_file_is_sparks_pick(spark, tmp_path):
    """Spark reads the footer of the least data file by path string:
    hidden names are skipped, partition directories entered, and the
    listing's own order does not matter."""
    path = str(tmp_path / "picked")
    _two_partitions(spark, path)
    assert read_parquet(spark, path).columns == ["id", "a", "k"]
    assert_same_as_spark(spark, path)

    flat = tmp_path / "flat"
    flat.mkdir()
    tables = {"part-b.parquet": {"id": [1], "b": [2.5]},
              "part-a.parquet": {"id": [2], "a": ["x"]},
              "_hidden.parquet": {"id": [3], "h": [1]},
              ".dot.parquet": {"id": [4], "d": [1]}}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), str(flat / name))
    assert read_parquet(spark, str(flat)).columns == ["id", "a"]
    assert_same_as_spark(spark, str(flat))


def test_glob_and_summary_file_are_left_to_spark(spark, sf_dir, tmp_path):
    """Spark reads a ``_common_metadata`` summary before any data file,
    also one whose name sorts first, and expands a glob into several
    roots: both keep Spark's answer."""
    table = tmp_path / "summary"
    table.mkdir()
    pq.write_table(pa.table({"id": [1]}), str(table / "0.parquet"))
    pq.write_metadata(pa.schema([("id", pa.int64()), ("extra", pa.string())]),
                      str(table / "_common_metadata"))
    assert read_parquet(spark, str(table)).columns == ["id", "extra"]
    assert_same_as_spark(spark, str(table))
    assert_same_as_spark(spark, f"{sf_dir}/documents.parq*")


def test_open_runs_no_job(spark, sf_dir, tmp_path, job_count):
    store = str(tmp_path / "store")
    cli.run_ingest(spark, sf_dir, store, dim=8, print_fn=lambda s: None)
    sc = spark.sparkContext
    group = f"open-{uuid.uuid4()}"
    sc.setJobGroup(group, "read_parquet")
    try:
        for path in SF_TABLES + [store]:
            read_parquet(spark, path)
        assert read_store_or_none(spark, store) is not None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert job_count(group) == 0


def test_table_opens_run_no_job(spark, sf_dir, job_count):
    """The driver's tables and a stream's schema probe open from the
    footer: no job before any stream starts."""
    sc = spark.sparkContext
    group = f"opens-{uuid.uuid4()}"
    sc.setJobGroup(group, "table opens")
    try:
        assert len(load_tables(spark, sf_dir)) == 10
        stream = se.read_parquet_stream(spark, sf_dir, "documents")
        assert stream.isStreaming
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert job_count(group) == 0


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("vectorized", ["true", "false"])
@pytest.mark.parametrize("before", [None, "false", "true"])
def test_read_events_leaves_nanos_as_long(spark, sf_dir, tmp_path, conf,
                                          before, vectorized):
    """``read_events`` sets nanosAsLong only to open the table: the
    caller's value (or its absence) reads the same afterwards, and a
    TIMESTAMP(NANOS) ``ts`` still collects as DuckDB's floor to micros
    once the value is back."""
    conf(NANOS_AS_LONG, "false")
    if before is None:
        spark.conf.unset(NANOS_AS_LONG)
    else:
        conf(NANOS_AS_LONG, before)
    conf("spark.sql.parquet.enableVectorizedReader", vectorized)
    assert spark.conf.get(NANOS_AS_LONG, None) == before
    read_events(spark, sf_dir)
    assert spark.conf.get(NANOS_AS_LONG, None) == before

    nanos = tmp_path / "nanos"
    nanos.mkdir()
    path = str(nanos / "events.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3], "ts": pa.array(
        [1_700_000_000_123_456_789, 1_700_000_000_999_999_999, 1_000],
        pa.timestamp("ns"))}), path)
    events = read_events(spark, str(nanos))
    assert spark.conf.get(NANOS_AS_LONG, None) == before
    got = [tuple(r) for r in events.selectExpr(
        "id", "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')")
        .orderBy("id").collect()]
    want = duckdb.sql(
        f"SELECT id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')"
        f" FROM '{path}' ORDER BY id").fetchall()
    assert got == want


@pytest.mark.parametrize("vectorized", ["true", "false"])
@pytest.mark.parametrize("before", [None, "false"])
def test_read_events_stream_leaves_nanos_as_long(spark, sf_dir, tmp_path,
                                                 conf, before, vectorized):
    """``read_events_stream`` sets nanosAsLong only for its schema probe:
    the caller's value reads the same afterwards, and the micro-batches
    of a TIMESTAMP(NANOS) ``events`` copy, run without the value, give
    ``read_events``' batch counts and ``ts`` range."""
    conf(NANOS_AS_LONG, "false")
    if before is None:
        spark.conf.unset(NANOS_AS_LONG)
    conf("spark.sql.parquet.enableVectorizedReader", vectorized)
    nanos = tmp_path / "nanos"
    nanos.mkdir()
    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    pq.write_table(t.set_column(i, "ts", t.column(i).cast(
        pa.timestamp("ns"))), str(nanos / "events.parquet"))

    def summary(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)), F.min("ts"), F.max("ts")) \
            .orderBy("event_type").collect()

    stream = se.read_events_stream(spark, str(nanos))
    assert spark.conf.get(NANOS_AS_LONG, None) == before
    name = f"nanos_{uuid.uuid4().hex}"
    q = stream.writeStream.format("memory").queryName(name) \
        .trigger(availableNow=True).start()
    try:
        q.awaitTermination()
        got = summary(spark.table(name))
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
    assert got == summary(read_events(spark, str(nanos)))
    assert sum(r[1] for r in got) == t.num_rows


# ---------------------------------------------------------------------------
# error contract

@pytest.mark.parametrize("run", ["ingest", "query", "auto"])
def test_missing_documents_is_path_not_found(spark, sf_dir, tmp_path, run):
    """``run_ingest`` and both loops name the missing table."""
    empty = str(tmp_path / "no_tables")
    os.mkdir(empty)
    calls = {
        "ingest": lambda: cli.run_ingest(spark, empty, str(tmp_path / "s"),
                                         print_fn=lambda s: None),
        "query": lambda: cli.run_query_loop(spark, empty,
                                            input_fn=lambda p: "exit",
                                            print_fn=lambda s: None),
        "auto": lambda: cli.run_auto_loop(spark, empty,
                                          input_fn=lambda p: "exit",
                                          print_fn=lambda s: None)}
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND") as e:
        calls[run]()
    assert f"{empty}/documents.parquet" in str(e.value)


def test_store_of_markers_only_reads_as_none(spark, tmp_path):
    """A store directory holding only ``_SUCCESS`` and ``.crc`` files
    has no data file: no store yet."""
    store = tmp_path / "markers"
    store.mkdir()
    for name in ("_SUCCESS", "._SUCCESS.crc",
                 ".part-00000-x.snappy.parquet.crc"):
        (store / name).write_bytes(b"")
    assert read_store_or_none(spark, str(store)) is None


@pytest.mark.parametrize("ignore_corrupt", ["true", "false"])
def test_corrupt_first_footer_raises(spark, sf_dir, tmp_path, conf,
                                     ignore_corrupt):
    """A damaged store fails loudly whatever ignoreCorruptFiles says,
    also when a readable file follows the corrupt one."""
    store = tmp_path / "store"
    shutil.copy(f"{sf_dir}/region.parquet", store.parent / "good")
    store.mkdir()
    (store / "part-00000-bad.parquet").write_bytes(b"garbage not parquet")
    shutil.copy(store.parent / "good", store / "part-00001-good.parquet")
    conf("spark.sql.files.ignoreCorruptFiles", ignore_corrupt)
    with pytest.raises(Exception, match="part-00000-bad.parquet"):
        read_parquet(spark, str(store))
    with pytest.raises(Exception, match="part-00000-bad.parquet"):
        read_store_or_none(spark, str(store))
