"""Storage-layout operators: bucketing, partitioning, skew salting.

None of these change results — they change where rows live, which is
what decides whether the 100 TB plan shuffles. The reference has no
storage layout at all (one shared JSONL file, SURVEY.md section 7); at
scale the corpus lives as:

- **partitioned** parquet (coarse, low-cardinality keys like
  source_type / date) -> partition PRUNING at the scan;
- **bucketed** tables (high-cardinality join keys like doc_id) ->
  co-located, shuffle-free joins between tables bucketed the same way;
- **salted** keys where one value dominates (the empty-text
  fingerprint, a boilerplate dup cluster) -> two-phase aggregation
  that spreads the hot key over ``n_salts`` reducers.

``read_parquet`` is the engine's table open: ``spark.read.parquet``
without the one-task schema-inference job. Asked for a vector column,
it also reads the width of that column's vectors from the same parquet
footers, the row count and the array leaf's value and null counts of
the first row group that holds rows, so that a loop start or an ingest
batch learns the store's width without a job. Where those counts cannot
tell (a NULL or empty vector or a NULL element in that row group, no
recorded null count, a ratio that is not whole) or Spark infers the
schema (a glob, ``mergeSchema``, a summary file), no width is recorded
and the caller falls back (``cli._embedding_dim`` probes the first row).
"""

from __future__ import annotations

import itertools
import json
import threading
from collections.abc import Collection

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."
_GLOB_CHARS = frozenset("{}[]*?\\")  # SparkHadoopUtil.isGlobPath
_SUMMARY_FILES = ("_metadata", "_common_metadata")
# column metadata key: the width of an array column's vectors, set by
# read_parquet(..., vectors=...) and by HashingEmbedder.embed
VECTOR_WIDTH = "vector_width"


def _java(spark, name: str):
    """JVM class ``name``, bound without py4j's one lookup per package
    level (about 1 ms each)."""
    from py4j.java_gateway import JavaClass
    return JavaClass(name, spark.sparkContext._gateway._gateway_client)


def read_parquet(spark, path: str,
                 vectors: Collection[str] = ()) -> DataFrame:
    """``spark.read.parquet(path)`` with its schema read on the driver,
    so opening the table runs no Spark job.

    Spark's inference (``mergeSchema`` off) runs a one-task job that
    reads the footer of the table's first data file, the least by path
    string, and converts it. This reads that same footer through py4j:
    the file comes from ``HadoopFSUtils.parallelListLeafFiles``, the
    listing Spark's file index uses (``_``/``.`` names skipped,
    partition directories entered; like the index, it lists in a job
    only past ``parallelPartitionDiscovery.threshold`` directories),
    and the footer is converted by
    ``ParquetFileFormat.readSchemaFromFooter`` with the session's
    ``ParquetToSparkSchemaConverter``, so ``binaryAsString``,
    ``int96AsTimestamp``, ``inferTimestampNTZ`` and ``nanosAsLong``
    apply as they do there. The result is
    ``spark.read.schema(that).parquet(path)``.

    Each column named in ``vectors`` also gets the width of its vectors
    as column metadata ``VECTOR_WIDTH``, from the same listing and
    footers (see ``_vector_width``): 0 when no data file holds a row,
    and no ``VECTOR_WIDTH`` where the footers cannot tell. A width a
    writer recorded in the schema is never kept: only a measured one.

    A corrupt first footer raises from the footer read, whatever
    ``spark.sql.files.ignoreCorruptFiles`` says. Where no single footer
    is Spark's answer, ``spark.read.parquet(path)`` runs unchanged: a
    glob, ``spark.sql.parquet.mergeSchema``, a summary file, or no data
    file at all (a missing path or an empty directory, for which Spark
    raises ``PATH_NOT_FOUND`` or ``UNABLE_TO_INFER_SCHEMA`` without a
    job)."""
    jss = spark._jsparkSession
    sql_conf = jss.sessionState().conf()
    if sql_conf.isParquetSchemaMergingEnabled() or _GLOB_CHARS & set(path):
        return _unmeasured(spark.read.parquet(path), vectors)
    hadoop_conf = jss.sessionState().newHadoopConf()
    roots = _java(spark, "scala.jdk.javaapi.CollectionConverters").asScala(
        _java(spark, "java.util.Collections").singletonList(
            _java(spark, "org.apache.hadoop.fs.Path")(path))).toSeq()
    leaves = _java(spark, "org.apache.spark.util.HadoopFSUtils") \
        .parallelListLeafFiles(
            jss.sparkContext(), roots, hadoop_conf, None, False, True,
            sql_conf.parallelPartitionDiscoveryThreshold(),
            sql_conf.parallelPartitionDiscoveryParallelism()) \
        .head()._2()
    files = leaves.toArray(_java(spark, "scala.reflect.ClassTag").apply(
        _java(spark, "java.lang.Class").forName(
            "org.apache.hadoop.fs.FileStatus")))
    # Spark orders by Path.toString: fetch every one in one call (NUL
    # is in no path; FileStatus.toString would stat each local file)
    listed = _java(spark, "scala.collection.immutable.ArraySeq") \
        .unsafeWrapArray(_java(spark, "org.apache.hadoop.fs.FileUtil")
                         .stat2Paths(files)).mkString("\0")
    paths = listed.split("\0") if listed else []
    if not paths or any(p.rsplit("/", 1)[-1] in _SUMMARY_FILES
                        for p in paths):
        return _unmeasured(spark.read.parquet(path), vectors)
    converter = _java(spark, "org.apache.parquet.format.converter."
                             "ParquetMetadataConverter")
    # row groups are read only when a width is asked for
    row_groups = converter.NO_FILTER if vectors else converter.SKIP_ROW_GROUPS

    def footer_of(status):
        return _java(spark, _PARQUET + "ParquetFooterReader").readFooter(
            _java(spark, "org.apache.parquet.hadoop.util.HadoopInputFile")
            .fromStatus(status, hadoop_conf), row_groups)

    order = sorted(range(len(paths)), key=paths.__getitem__)
    first = files[order[0]]
    footer = footer_of(first)
    converted = _java(spark, _PARQUET + "ParquetFileFormat") \
        .readSchemaFromFooter(
            _java(spark, "org.apache.parquet.hadoop.Footer")(first.getPath(),
                                                             footer),
            _java(spark, _PARQUET + "ParquetToSparkSchemaConverter")(sql_conf))
    schema = json.loads(converted.json())
    if vectors:
        # the first row group that holds rows, in Spark's file order;
        # a later file's footer is read only if no earlier one has rows
        footers = itertools.chain(
            [footer], (footer_of(files[i]) for i in order[1:]))
        block = next((b for f in footers for b in f.getBlocks()
                      if b.getRowCount() > 0), None)
        for field in schema["fields"]:
            if field["name"] in vectors:
                field["metadata"].pop(VECTOR_WIDTH, None)
                width = 0 if block is None else _vector_width(block, field)
                if width is not None:
                    field["metadata"][VECTOR_WIDTH] = width
    return spark.read.schema(StructType.fromJson(schema)).parquet(path)


def _vector_width(block, field: dict) -> int | None:
    """The width of the vectors in array column ``field`` (a schema
    JSON field) of row group ``block``: its leaf's value count divided
    by the row count. A list leaf counts one value per element and one
    per NULL or empty vector, and counts the latter two and NULL
    elements as nulls; so the ratio is the width only where the leaf's
    null count is recorded and 0, and it must divide exactly. Otherwise,
    and for a column that is not an array of atomic values, None.

    The footer holds no per-row length, so a row group whose vectors
    differ in width but average a whole number reads as that number."""
    t = field["type"]
    if not (isinstance(t, dict) and t["type"] == "array"
            and isinstance(t["elementType"], str)):
        return None
    leaf = next((c for c in block.getColumns()
                 if c.getPath().toArray()[0] == field["name"]), None)
    stats = None if leaf is None else leaf.getStatistics()
    if stats is None or not stats.isNumNullsSet() or stats.getNumNulls():
        return None
    width, rest = divmod(leaf.getValueCount(), block.getRowCount())
    return width if rest == 0 else None


def _unmeasured(df: DataFrame, vectors: Collection[str]) -> DataFrame:
    """``df`` without the ``VECTOR_WIDTH`` its files' writer recorded on
    the columns named in ``vectors``: where Spark infers the schema no
    width is measured."""
    for f in df.schema.fields if vectors else ():
        if f.name in vectors and VECTOR_WIDTH in f.metadata:
            df = df.withMetadata(f.name, {k: v for k, v in f.metadata.items()
                                          if k != VECTOR_WIDTH})
    return df


def write_partitioned(df: DataFrame, path: str, *partition_cols: str,
                      mode: str = "overwrite") -> None:
    """Partition-by write: one directory level per key value; readers
    filtering on the key scan only matching directories."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int,
                   mode: str = "overwrite", path: str | None = None) -> None:
    """Bucketed saveAsTable: rows hash-distributed into fixed buckets by
    ``key``. Two tables bucketed identically join without any Exchange.
    Bucketing metadata lives in the catalog, so the write must go
    through ``saveAsTable``; pass ``path`` to make it an EXTERNAL
    table whose files land there instead of under the session's
    warehouse dir (which may be an unwritable cwd)."""
    w = df.write.mode(mode).bucketBy(n_buckets, key).sortBy(key) \
        .format("parquet")
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def salted_agg(df: DataFrame, key: str, agg_cols: list[Column],
               final_aggs: list[Column], n_salts: int = 16) -> DataFrame:
    """Two-phase aggregation for skewed keys: phase 1 groups on
    (key, salt) spreading a hot key over ``n_salts`` reducers; phase 2
    merges the partials on the key alone.

    ``agg_cols`` are the phase-1 partial aggregates; ``final_aggs`` the
    phase-2 merges over those partial columns.
    """
    salt = (F.rand(seed=7) * n_salts).cast("int").alias("_salt")
    partial = df.withColumn("_salt", salt).groupBy(key, "_salt").agg(*agg_cols)
    return partial.groupBy(key).agg(*final_aggs)


def salted_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Skew-safe count per key (count is the common hot-key victim)."""
    return salted_agg(
        df, key,
        agg_cols=[F.count(F.lit(1)).alias("_partial")],
        final_aggs=[F.sum("_partial").cast("long").alias("cnt")],
        n_salts=n_salts)


def zvalue(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Morton/Z-order interleave of the low ``bits`` bits of two
    non-negative integer columns: bit i of ``a`` lands at position 2i,
    bit i of ``b`` at 2i+1. Sorting (or range-partitioning) a table by
    this key clusters it along BOTH dimensions at once, so a parquet
    layout written in z-order serves min/max row-group skipping for
    range predicates on either column — the multi-dimensional
    clustering trick behind Delta/Iceberg OPTIMIZE ZORDER, here as a
    plain column expression (exact integer arithmetic, so the layout
    key is oracle-checkable).

    Inputs are masked to the declared width (taken modulo 2^bits):
    without the mask, Spark's shiftright sign-extends a negative key
    into all-ones bits and silently corrupts the interleave. A
    negative or too-wide key therefore clusters by its low bits —
    well-defined, though callers wanting locality should pre-shift
    such keys into [0, 2^bits)."""
    if not 1 <= bits <= 31:
        # 2*31+1 = 63 is the last interleaved position that fits a
        # signed int64; wider keys need two words (as the sign-bit
        # packer does)
        raise ValueError("zvalue supports 1..31 bits per dimension")
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    mask = F.lit((1 << bits) - 1).cast("long")
    a = a.cast("long").bitwiseAND(mask)
    b = b.cast("long").bitwiseAND(mask)
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (out
               + F.shiftright(a, i).bitwiseAND(F.lit(1)).cast("long")
               * F.lit(1 << (2 * i))
               + F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long")
               * F.lit(1 << (2 * i + 1)))
    return out


def plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate for a plan, without running a job
    (same stats source as retrieval.estimate_rows — file-scan plans
    report real file sizes; in-memory relations a placeholder)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


def compact(path: str, spark, target_bytes: int = 128 * 1024 * 1024,
            out_path: str | None = None) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_bytes)`` files (the maintenance job
    that keeps scan parallelism healthy — thousands of kilobyte files
    turn a 100 TB scan into a listing + task-overhead problem).

    Reads the dataset, computes the output file count from the plan's
    size statistics (no data job), and writes with ``coalesce`` —
    a narrow, shuffle-free re-grouping of input splits. Writes to
    ``out_path`` (default: ``path + '_compacted'``; in production this
    is an atomic swap via a metastore table or a manifest). Returns
    the output file count."""
    df = spark.read.parquet(path)
    total = plan_size_bytes(df)
    n_files = max(1, -(-total // target_bytes))
    dest = out_path or (path.rstrip("/") + "_compacted")
    df.coalesce(n_files).write.mode("overwrite").parquet(dest)
    return n_files


def write_range_sorted(df: DataFrame, path: str, col: str,
                       n_files: int = 8, mode: str = "overwrite") -> None:
    """Globally range-sorted layout (the terasort shape):
    ``repartitionByRange`` samples range bounds (one sampling pass),
    then ``sortWithinPartitions`` orders every file internally. The
    result is a GLOBAL total order across files: per-file min/max on
    ``col`` are disjoint, so a range predicate prunes whole FILES at
    the listing level — coarser and cheaper than row-group skipping —
    and a reader that needs global order can merge files without a
    sort. This is the 1-D clustering twin of ``zvalue`` (2-D): use
    range-sort when one column dominates the read predicates, z-order
    when two do. At 100 TB the bound-sampling job reads a fraction of
    a percent of the input; skew in ``col`` lands contiguous ranges in
    one file, which AQE's range-partition split or a higher
    ``n_files`` absorbs."""
    (df.repartitionByRange(n_files, F.col(col))
     .sortWithinPartitions(col)
     .write.mode(mode).parquet(path))


_V1_LIST_KEY = "spark.sql.sources.useV1SourceList"
_AGG_PD_KEY = "spark.sql.parquet.aggregatePushdown"
_INFER_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"
# One private session per (SparkContext, caller thread), reused
# across calls: creating a newSession() per footer probe / GDPR
# delete accumulates JVM session state in a long-lived driver. Keyed
# per THREAD as well as per applicationId so two concurrent callers
# (e.g. delete_keys_partitioned inside a streaming foreachBatch while
# another thread runs a footer probe) can never interleave one
# session's conf sync/unset with the other's reads — a per-appId-only
# cache reintroduced exactly the race the old per-call newSession was
# immune to. Value is (session, synced_keys) where synced_keys is the
# set of conf keys copied on the last sync — needed to UNSET confs
# the caller has since unset.
_ISOLATED: dict = {}
# Guards _ISOLATED's lookup/purge/store: each thread owns its OWN
# cached session (the key includes the thread id), but the dict itself
# is shared — an unguarded first-call purge racing another thread's
# insert raises "dictionary changed size during iteration". The lock
# covers only dict bookkeeping, never the SET collect or conf sync.
_ISOLATED_LOCK = threading.Lock()


def _isolated_session(spark):
    """A private session that still SEES the caller's runtime SQL
    confs: ``newSession()`` inherits only builder-time configs, so a
    caller who e.g. set ``spark.sql.legacy.parquet.nanosAsLong`` at
    runtime would lose it — the private session's reads would fail
    where the caller's succeed.
    Copy every explicitly-set conf (``SET`` lists exactly those) before
    applying this module's own overrides on top.

    The session is CACHED per (SparkContext, thread) — applicationId
    keying ties the entry to a live context, the thread component makes
    concurrent callers race-free by construction (each thread owns
    its session's conf; see _ISOLATED comment) — and re-synced on
    every acquisition: (a) this module's own overrides and any conf
    copied on a previous sync but no longer set on the caller are
    unset back to their builder-time values, then (b) the caller's
    currently-set runtime confs are copied. Repeated footer probes /
    partitioned deletes in a long-lived driver therefore reuse one
    private session per calling thread instead of leaking one per
    call (a finished thread's session lingers until the context
    changes — bounded by thread count, same order as the old
    per-call leak's single call)."""
    app_id = spark.sparkContext.applicationId
    cache_key = (app_id, threading.get_ident())
    with _ISOLATED_LOCK:
        cached = _ISOLATED.get(cache_key)
        if cached is None:
            # a new context means any prior one is dead; drop its entries
            for stale in [k for k in _ISOLATED if k[0] != app_id]:
                del _ISOLATED[stale]
    if cached is None:
        cached = (spark.newSession(), set())
    s, prev_keys = cached
    live = {}
    for row in spark.sql("SET").collect():
        if "(redacted)" in str(row["value"]):
            # SET redacts credential-like values (spark.redaction.regex);
            # copying the literal '*********(redacted)' would CORRUPT
            # the conf in the private session. Such confs keep their
            # builder-time value, which newSession already inherits.
            continue
        live[row["key"]] = row["value"]
    for conf_key in (prev_keys | {_V1_LIST_KEY, _AGG_PD_KEY, _INFER_KEY}) \
            - set(live):
        try:
            s.conf.unset(conf_key)
        except Exception:
            pass  # static/read-only entries can't be unset
    for conf_key, value in live.items():
        try:
            s.conf.set(conf_key, value)
        except Exception:
            pass  # static/read-only entries can't be re-set
    with _ISOLATED_LOCK:
        _ISOLATED[cache_key] = (s, set(live))
    return s


def footer_stats(spark, path: str, aggs: list[Column]):
    """COUNT/MIN/MAX answered from parquet FOOTERS, not row scans: the
    DataSource-V2 parquet reader with aggregate pushdown compiles
    whole-table count/min/max into a metadata walk — on a 100 TB store
    that's reading file footers instead of 100 TB of pages (the same
    trick metastore-backed engines play with table statistics, but
    always-fresh because it reads the files themselves).

    Returns ``(stats_df, pushed)``: a LOCAL one-row DataFrame with the
    computed stats, plus whether the aggregation was ACTUALLY pushed —
    a V2 scan prints ``PushedAggregation: []`` even on fallback, so the
    flag requires a non-empty pushed list. Pushdown silently falls
    back to a full scan for unsupported shapes (sum/avg, filters,
    nested fields, and non-numeric types like timestamps); callers
    assert the flag when they depend on the metadata-walk cost model.
    The result is materialized before the session's source confs are
    restored, because pushdown is decided at plan time.

    Concurrency: the V1-list/pushdown conf overrides run in a PRIVATE
    ``spark.newSession()`` (same SparkContext, isolated SQL conf), so
    queries planned concurrently on the caller's session — any thread
    — never see them. The returned DataFrame is rebuilt on the
    caller's session from the (1-row) collected stats."""
    import re

    s = _isolated_session(spark)
    s.conf.set(_V1_LIST_KEY, "")
    s.conf.set(_AGG_PD_KEY, "true")
    df = s.read.parquet(path).agg(*aggs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows = df.collect()
    schema = df.schema
    pushed = re.search(r"PushedAggregation: \[(?!\])", plan) is not None
    return spark.createDataFrame(rows, schema), pushed


def delete_keys_partitioned(spark, store_path: str, keys: DataFrame,
                            key: str, partition_col: str) -> dict:
    """Targeted delete propagation (the GDPR / right-to-be-forgotten
    rewrite): remove every row whose ``key`` appears in ``keys`` from a
    ``partition_col``-partitioned parquet store by REWRITING ONLY THE
    PARTITIONS THAT CONTAIN A DOOMED KEY. Parquet is immutable, so a
    delete is a rewrite — the difference between rewriting 100 TB and
    rewriting the handful of partitions a delete set touches is this
    function.

    Steps: (1) one scan joins the broadcast delete set to find
    affected partition values (a driver-side list of partition VALUES,
    bounded by partition cardinality, never rows); (2) each affected
    partition directory — resolved from the actual on-disk listing by
    UNESCAPING Hive path encoding (%XX escapes, NULL as
    __HIVE_DEFAULT_PARTITION__), never by re-formatting the value into
    a path — is anti-joined against the delete set and written to a
    staging area OUTSIDE the store root (a sibling `..._staging` dir,
    so a concurrent reader of the store can never pick up staged files
    as a phantom partition); (3) the original partition dir is renamed
    aside to a sibling trash dir and the staged dir renamed into
    place, then trash is dropped.

    Filesystem renames are not transactional: a crash between the two
    renames of step (3) leaves that one partition absent from the
    store but fully preserved in the trash dir (recoverable by hand;
    nothing is ever deleted before its replacement is in place). True
    atomic swap needs a manifest/metastore commit — exactly what
    sources/manifest_sink.py models; this function is the
    plain-directory variant. Untouched partitions are never read,
    written, or moved. Returns {"partitions_rewritten", "rows_deleted"}
    (rows_deleted comes from the discovery scan's per-partition doomed
    counts — valid under this function's single-writer contract).

    Concurrency: the partition-type-inference toggle for the
    discovery read runs in a PRIVATE ``spark.newSession()`` (same
    SparkContext, isolated SQL conf), so concurrent queries on the
    caller's session never execute under the altered conf.
    """
    import os
    import shutil
    import urllib.parse

    def unescape(dirname: str):
        """Hive path-encoding inverse: %XX escapes; the NULL marker."""
        if dirname == "__HIVE_DEFAULT_PARTITION__":
            return None
        return urllib.parse.unquote(dirname)

    prefix = f"{partition_col}="
    dirs_by_value = {
        unescape(d[len(prefix):]): os.path.join(store_path, d)
        for d in os.listdir(store_path)
        if d.startswith(prefix)
           and os.path.isdir(os.path.join(store_path, d))}

    # partition values must round-trip to their directory names, so
    # type inference is off for the DISCOVERY read: with it on, a
    # string partition like '001' reads back as int 1, whose str()
    # matches the wrong directory (or none) — silent misses. The
    # toggle lives in a private session so it can never leak.
    import uuid

    s = _isolated_session(spark)
    s.conf.set(_INFER_KEY, "false")
    store = s.read.parquet(store_path)
    # the keys DataFrame belongs to the caller's session; a GLOBAL
    # temp view is visible to every session of the SparkContext, so
    # the private session can read the delete set without ever
    # materializing it on the driver — the set stays distributed no
    # matter how large it grows
    view = f"gdpr_delete_keys_{uuid.uuid4().hex}"
    keys.select(key).createOrReplaceGlobalTempView(view)
    try:
        keys_shared = s.table(f"global_temp.{view}")
        # one job yields both the affected partition VALUES and the
        # doomed row count per partition (= rows_deleted, single-writer
        # store), so the rewrite loop below never runs count jobs
        doomed = (store.join(F.broadcast(keys_shared), key, "left_semi")
                  .groupBy(partition_col).count())
        doomed_counts = {r[0]: r[1] for r in doomed.collect()}
    finally:
        spark.catalog.dropGlobalTempView(view)
    affected = list(doomed_counts)
    missing = [v for v in affected
               if (None if v is None else str(v)) not in dirs_by_value]
    if missing:
        raise ValueError(
            f"partition value(s) {missing!r} not found on disk under "
            f"{store_path!r} — listing/encoding mismatch; aborting "
            "before any rewrite")

    staging_root = store_path.rstrip("/") + "__delete_staging"
    trash_root = store_path.rstrip("/") + "__delete_trash"
    deleted = sum(doomed_counts.values())
    for val in affected:
        part_dir = dirs_by_value[None if val is None else str(val)]
        base = os.path.basename(part_dir)
        part = spark.read.parquet(part_dir)
        kept = part.join(F.broadcast(keys), key, "left_anti")
        staged = os.path.join(staging_root, base)
        kept.write.mode("overwrite").parquet(staged)
        trashed = os.path.join(trash_root, base)
        os.makedirs(trash_root, exist_ok=True)
        os.rename(part_dir, trashed)   # original preserved until...
        os.rename(staged, part_dir)    # ...its replacement is in place
    shutil.rmtree(trash_root, ignore_errors=True)
    shutil.rmtree(staging_root, ignore_errors=True)
    return {"partitions_rewritten": len(affected), "rows_deleted": deleted}


def salted_join(fact: DataFrame, dim: DataFrame, key: str,
                n_salts: int = 16) -> DataFrame:
    """Skew-safe fact-to-dim join for keys too hot to hash-join and
    dims too large (or plans too constrained) to broadcast: the fact
    side gets a random salt in [0, n_salts), the dim side is
    replicated once per salt, and the join runs on (key, salt) — each
    hot key's rows spread over ``n_salts`` reducers instead of
    hammering one. Result is row-identical to the plain join; cost is
    n_salts x |dim| build rows, which is why the salt count is a
    dial, not a constant. (AQE's skew-join split is the automatic
    alternative for sort-merge plans; salting also covers
    aggregations and works with AQE off.)"""
    spark = fact.sparkSession
    salt = (F.rand(seed=7) * n_salts).cast("int")
    salts = spark.range(n_salts).select(
        F.col("id").cast("int").alias("_salt"))
    return (fact.withColumn("_salt", salt)
            .join(dim.crossJoin(salts), [key, "_salt"])
            .drop("_salt"))
