"""SparkSession builder with scale-oriented defaults.

The reference runs everything in one Python process and holds the whole
corpus in RAM (ingest_chunks_to_chromadb.py:112-114); here the same
pipelines are partitioned executor-side. These conf defaults are the ones
that matter at 100 TB: AQE (runtime coalescing + skew-join splitting),
Arrow for the few pandas-UDF boundaries, and a UTC session timezone so
results are reproducible against any oracle.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators.storage import read_parquet

# Sized for the local[32] test harness; on a real cluster
# spark.sql.shuffle.partitions should be ~2-3x total executor cores and
# AQE coalesces the excess. Callers can override any of these.
DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # 64 MiB input splits: at sf0.1 everything is one partition anyway;
    # at 100 TB this yields ~1.6M splits, which the listing layer and AQE
    # handle; raise to 256m on a real cluster if file count dominates.
    "spark.sql.files.maxPartitionBytes": "67108864",
    # Broadcast thresholds are SPLIT on purpose (round-10 scale
    # lesson, caught by the flagship's 100x probe): the STATIC
    # planner's size estimates are compressed-file-size based, and a
    # text/array derivation (e.g. the exploded shingle table) expands
    # 10-20x into a driver-side HashedRelation — a 57 MB parquet
    # became a ~1 GiB broadcast build and OOMed. AQE can NEVER demote
    # a statically-chosen broadcast (there is no shuffle to re-read
    # sizes from), so the static threshold must be conservative; the
    # ADAPTIVE threshold works on actual post-projection shuffle
    # bytes and stays aggressive — runtime-small tables still
    # broadcast, which is where the bench wins come from.
    "spark.sql.autoBroadcastJoinThreshold": str(16 * 1024 * 1024),
    "spark.sql.adaptive.autoBroadcastJoinThreshold":
        str(64 * 1024 * 1024),
    "spark.driver.memory": "8g",
}


def get_spark(app_name: str = "rag-vector-database-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*"))
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextlib.contextmanager
def nanos_as_long(spark: SparkSession):
    """Set ``spark.sql.legacy.parquet.nanosAsLong`` to true for a table
    open, then put back the caller's value (or its absence). The schema
    read at the open is what decides that a TIMESTAMP(NANOS) column is a
    long; later reads of that DataFrame, batch or stream, do not need
    the value."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def read_events(spark: SparkSession, sf_dir: str):
    """Read events.parquet with `ts` normalized to a microsecond
    session-tz timestamp. The dataset has shipped with two physical
    encodings for `ts`: TIMESTAMP(NANOS), which Spark's vectorized
    reader only accepts as a long (nanosAsLong) and we floor-convert —
    exactly what DuckDB's reader does — and plain TIMESTAMP(MICROS),
    which reads natively as TIMESTAMP_NTZ. Handle both.

    nanosAsLong is set only while the table is opened
    (``nanos_as_long``)."""
    with nanos_as_long(spark):
        e = read_parquet(spark, f"{sf_dir}/events.parquet")
    if dict(e.dtypes)["ts"] == "bigint":
        return e.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return e.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = (
                    "region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents",
                    "embeddings")) -> dict:
    """Load the driver's parquet tables as DataFrames keyed by name
    (events via read_events, which normalizes the ts encoding). No
    table open runs a Spark job."""
    return {n: read_events(spark, sf_dir) if n == "events"
            else read_parquet(spark, f"{sf_dir}/{n}.parquet")
            for n in names}
