"""Incremental-ingest operators: the reference's processing discipline.

The reference's core operational idea (SURVEY.md section 2 #28-31, #59)
is "only new inputs each run": every script keeps an append-only log of
completed keys and anti-filters its input against it
(chunk_cisa_kev.py:96,113; ingest_chunks_to_chromadb.py:175-186), and
the ingester additionally dedups against the vector store's existing ids.

Spark-first: both halves are one ``left_anti`` join. At scale the log /
id side is read as a key-only parquet projection (column pruning means
the scan touches one column); when small it broadcasts, when huge AQE
picks a shuffled hash join — no driver-side ID fetch, which was the
reference's documented bottleneck (ingest_chunks_to_chromadb.py:95-96).

``idempotent_append`` is one write job: the rows it offers, the rows
already stored and the rows it adds are counted by ``observe`` inside
that job, so neither a count before the write nor a recount of the
store after it runs. A batch that adds no row leaves the store's files
as they were.

The metadata coercion matrix (ingest_chunks_to_chromadb.py:133-155):
list -> ', '-joined string; None/empty -> 'N/A'; scalar -> str().
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from .observe import observed, with_observation
from .storage import VECTOR_WIDTH, read_parquet

NA = "N/A"  # the reference's null sentinel (chunk_cisa_kev.py:*'N/A'*)


def incremental_filter(incoming: DataFrame, processed: DataFrame,
                       key: str, processed_key: str | None = None) -> DataFrame:
    """Rows of ``incoming`` whose key is not yet in ``processed`` (#28/#30).
    A NULL key is never in ``processed``. Duplicate keys in ``processed``
    change nothing, so they are not removed first (a shuffle aggregate)."""
    processed_key = processed_key or key
    log = processed.select(F.col(processed_key).alias(key))
    return incoming.join(log, on=key, how="left_anti")


def mark_processed(processed_log_path: str, batch: DataFrame, key: str) -> None:
    """Append this run's completed keys to the log table (#29). Append-only
    directory of parquet — the Spark-shaped version of the reference's
    shared append file (SURVEY.md section 7 'single-file append sink')."""
    batch.select(key).distinct().write.mode("append").parquet(processed_log_path)


def coerce_metadata_column(c: Column, dtype) -> Column:
    """One column of the ChromaDB scalar-coercion matrix."""
    if isinstance(dtype, ArrayType):
        joined = F.concat_ws(", ", c.cast("array<string>"))
        return F.when(c.isNull() | (F.size(c) == 0), F.lit(NA)).otherwise(joined)
    return F.coalesce(c.cast("string"), F.lit(NA))


def coerce_metadata(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Apply the coercion matrix to ``cols`` (default: all non-id columns),
    yielding an all-string metadata surface like the reference's store."""
    target = cols or df.columns
    out = df
    for name in target:
        dtype = df.schema[name].dataType
        out = out.withColumn(name, coerce_metadata_column(F.col(name), dtype))
    return out


def append_jsonl(df: DataFrame, path: str) -> None:
    """#10: the shared chunk-corpus sink. The reference appends every
    chunker's output to ONE mutable JSONL file (chunk_cisa_kev.py:158) —
    a write-contention anti-pattern at any parallelism. Same semantics
    (union of all runs, line-delimited JSON), Spark-shaped layout: an
    append-only directory each run adds part-files to; readers see the
    union via a directory scan, writers never touch each other's files."""
    df.write.mode("append").json(path)


def write_grouped_json(df: DataFrame, path: str, *group_cols: str,
                       mode: str = "overwrite") -> None:
    """#11: the per-record JSON layout (one file per video under a
    channel folder, scrape_youtube_metadata.py:146-152,257). The
    per-RECORD granularity is an artifact; the semantic — records
    grouped by key, JSON on disk — is partitionBy, which also buys
    partition pruning on the group key at read time."""
    df.write.mode(mode).partitionBy(*group_cols).json(path)


def _bloom_hashes(key: Column, m_bits: int) -> tuple[Column, Column]:
    """Two independent md5-derived bit positions in [0, m_bits)."""
    from ..functions.hashing import md5_long
    s = key.cast("string")
    return (md5_long(F.concat(F.lit("b0:"), s)) % m_bits,
            md5_long(F.concat(F.lit("b1:"), s)) % m_bits)


def bloom_bitmap(processed: DataFrame, key: str,
                 m_bits: int = 4096) -> DataFrame:
    """Build a Bloom filter over ``processed[key]`` as a (bucket, word)
    table: ``m_bits`` bits in 32-bit words (32-bit so every mask stays
    positive in an int64), k=2 md5-derived hash functions. The bitmap
    is ``m_bits/32`` rows REGARDLESS of the processed-set size — the
    runtime-filter side of the incremental-ingest anti-join (#28/#30):
    at 100 TB the processed log is billions of keys, but this summary
    always broadcasts."""
    h0, h1 = _bloom_hashes(F.col(key), m_bits)
    bits = (processed.select(h0.alias("h"))
            .unionAll(processed.select(h1.alias("h"))))
    return (bits
            .select((F.col("h") / 32).cast("long").alias("bucket"),
                    F.expr("shiftleft(1L, cast(h % 32 as int))").alias("m"))
            .groupBy("bucket")
            .agg(F.bit_or("m").alias("w")))


def bloom_test(incoming: DataFrame, bitmap: DataFrame, key: str,
               m_bits: int = 4096) -> DataFrame:
    """Annotate ``incoming`` with ``bloom_pass``: false means the key
    is DEFINITELY not in the processed set (skip the exact anti-join
    entirely); true means possibly-processed (the small candidate
    slice that still needs the exact check). The bitmap BROADCASTs and
    both probes are map-side hash joins — the big side never shuffles,
    which is the whole point of a Bloom pre-filter at scale (Spark's
    AQE runtime filters apply the same idea to join keys
    automatically; this is the explicit, oracle-checkable form)."""
    h0, h1 = _bloom_hashes(F.col(key), m_bits)
    probed = (incoming
              .withColumn("__h0", h0).withColumn("__h1", h1)
              .withColumn("__m0",
                          F.expr("shiftleft(1L, cast(__h0 % 32 as int))"))
              .withColumn("__m1",
                          F.expr("shiftleft(1L, cast(__h1 % 32 as int))")))
    b0 = F.broadcast(bitmap.select(F.col("bucket").alias("__bk0"),
                                   F.col("w").alias("__w0")))
    b1 = F.broadcast(bitmap.select(F.col("bucket").alias("__bk1"),
                                   F.col("w").alias("__w1")))
    out = (probed
           .join(b0, (F.col("__h0") / 32).cast("long") == F.col("__bk0"),
                 "left")
           .join(b1, (F.col("__h1") / 32).cast("long") == F.col("__bk1"),
                 "left")
           .withColumn(
               "bloom_pass",
               F.col("__w0").isNotNull() & F.col("__w1").isNotNull()
               & (F.col("__w0").bitwiseAND(F.col("__m0")) != 0)
               & (F.col("__w1").bitwiseAND(F.col("__m1")) != 0)))
    return out.drop("__h0", "__h1", "__m0", "__m1",
                    "__bk0", "__w0", "__bk1", "__w1")


def read_store_or_none(spark, store_path: str, vectors=()):
    """Read a parquet store WE own, or None when it provably doesn't
    exist yet. "Doesn't exist" means a missing path (PATH_NOT_FOUND)
    or a directory with no data files at all — the state a crashed
    first write leaves behind, which Spark reports as
    UNABLE_TO_INFER_SCHEMA. Anything else (corrupt footer, permission
    error, transient FS failure) PROPAGATES: treating an unreadable
    store as "first run" would silently discard or duplicate its
    contents on the next healthy pass.

    The store is opened with ``storage.read_parquet``: its schema is
    read on the driver from the footer of the store's first data file,
    so no schema-inference job runs. That footer read is also what
    keeps a damaged store loud: a corrupt first footer raises there
    even under ``spark.sql.files.ignoreCorruptFiles=true``, where
    Spark's own inference would skip the file. With no data file,
    ``read_parquet`` hands the path to ``spark.read.parquet``, whose
    two errors above are classified here. ``vectors`` is passed on to
    ``read_parquet``: the named columns carry their measured width.

    UNABLE_TO_INFER_SCHEMA alone is NOT proof of emptiness: under
    ``spark.sql.files.ignoreCorruptFiles=true`` (with
    ``spark.sql.parquet.mergeSchema``, which ``read_parquet`` leaves to
    Spark's inference) a store whose every file is corrupt raises the
    same error. So the empty-dir claim is verified against the
    directory listing — if any data-looking file exists, the error
    propagates. (Listing via os: this engine's stores are file://
    paths; an object-store port would swap in the Hadoop FS API here.)
    Shared by every merge/append sink in the engine so the failure
    policy can't drift per-call-site."""
    import os

    from pyspark.errors import AnalysisException

    def _has_data_files(path: str) -> bool:
        try:
            entries = os.listdir(path)
        except OSError:
            return False
        for e in entries:
            full = os.path.join(path, e)
            if e.startswith(("_", ".")):
                continue
            if os.path.isdir(full):
                if _has_data_files(full):  # partitioned layout
                    return True
            else:
                return True
        return False

    try:
        return read_parquet(spark, store_path, vectors)
    except AnalysisException as e:
        s = str(e)
        if "PATH_NOT_FOUND" in s:
            return None
        if "UNABLE_TO_INFER_SCHEMA" in s and not _has_data_files(
                store_path.removeprefix("file:")):
            return None
        raise


class Appended(int):
    """The rows one ``idempotent_append`` added, with the other counts of
    its write job: ``offered`` (incoming rows) and ``total`` (store rows
    after the append)."""

    def __new__(cls, added: int, offered: int, total: int):
        self = super().__new__(cls, added)
        self.offered, self.total = offered, total
        return self


def _rows(df: DataFrame):
    """``df`` with an observation of its row count, and the observation."""
    return with_observation(df, [F.count(F.lit(1)).alias("rows")])


def _observed_rows(obs) -> int | None:
    m = observed(obs)
    return None if m is None else m["rows"]


def _remove_empty_parts(path: str, before: set[str]) -> None:
    """Delete the row-less part-files (and their checksums) that appeared
    in ``path`` since ``before`` was listed. Spark's writer always commits
    task 0's file, even with no rows, so that an empty result keeps its
    schema; a batch that adds nothing must not grow the store."""
    import pyarrow.parquet as pq

    for name in set(os.listdir(path)) - before:
        part = os.path.join(path, name)
        if name.startswith("part-") and pq.read_metadata(part).num_rows == 0:
            os.remove(part)
            crc = os.path.join(path, f".{name}.crc")
            if os.path.exists(crc):
                os.remove(crc)


def idempotent_append(incoming: DataFrame, store_path: str, key: str,
                      spark=None) -> Appended:
    """Run-twice-adds-zero ingest (#30 + #12): anti-join against the
    store's existing keys, append only the new rows, in ONE write job.
    Returns the rows added as an ``Appended`` (an int that also carries
    ``offered`` and ``total``).

    The counts are observed in the write job itself: incoming rows, the
    store's key scan that feeds the anti-join, and the written rows, so
    ``total`` = stored before + added with no count job. Spark drops an
    observed subtree it proves empty, or a join side opposite an empty
    side; a missing count is therefore 0, except the store's when the
    incoming side was empty: only then is the store counted.

    Zero-row rule: a batch that adds nothing leaves no part-file, so a
    store's file listing stays unchanged (the empty part-file the write
    commits is removed; see ``_remove_empty_parts``). A first run that
    adds nothing leaves a directory with no data file, which
    read_store_or_none still reads as no store.

    First-run detection via read_store_or_none: a missing or
    never-committed store starts fresh; a corrupt store or a
    permission error propagates instead of silently re-ingesting the
    whole batch (which would duplicate every row on the next healthy
    read).

    Width rule: an ``incoming`` column that carries its vector width
    (column metadata ``VECTOR_WIDTH``, as ``HashingEmbedder.embed``
    sets it) must match the width the store's footers give for that
    column, or a ``ValueError`` naming both is raised before any job;
    a store whose footers cannot tell its width is not checked."""
    spark = spark or incoming.sparkSession
    widths = {f.name: f.metadata[VECTOR_WIDTH] for f in incoming.schema
              if VECTOR_WIDTH in f.metadata}
    store = read_store_or_none(spark, store_path, tuple(widths))
    for f in store.schema if store is not None and widths else ():
        stored = f.metadata.get(VECTOR_WIDTH)
        if stored and widths.get(f.name, stored) != stored:
            raise ValueError(
                f"{store_path} holds {f.name} vectors of width {stored}; "
                f"this batch's are {widths[f.name]} wide")
    incoming, offered_obs = _rows(incoming)
    fresh = incoming
    if store is not None:
        existing, stored_obs = _rows(store.select(key))
        fresh = incremental_filter(incoming, existing, key)
    fresh, added_obs = _rows(fresh)
    local = store_path.removeprefix("file:")
    before = set(os.listdir(local)) if os.path.isdir(local) else set()
    fresh.write.mode("append").parquet(store_path)
    offered = _observed_rows(offered_obs) or 0
    added = _observed_rows(added_obs) or 0
    stored = 0 if store is None else _observed_rows(stored_obs)
    if stored is None:  # Spark pruned the key scan: store or batch empty
        stored = store.count() if offered == 0 else 0
    if added == 0:
        _remove_empty_parts(local, before)
    return Appended(added, offered, stored + added)
