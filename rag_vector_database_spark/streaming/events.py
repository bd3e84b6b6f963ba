"""Structured Streaming over the events table.

The reference's incremental discipline — process only new inputs,
append to the sink, remember completions (SURVEY.md section 2 #59,
processed-logs at chunk_cisa_kev.py:40-66 etc.) — is exactly what a
file-source stream + checkpoint gives for free: the checkpoint IS the
processed-log, the file source IS the anti-join against it.

Batch/stream parity: every windowed aggregation here has a batch twin
in plans/registry.py (events_tumbling / events_sessionize); tests run
the stream with Trigger.AvailableNow into a memory sink and assert
equality with the batch result — the Kappa-architecture check.

Scale notes: watermarks bound state (late rows beyond the watermark
are dropped, so state size is O(active windows x keys), not O(input));
``maxFilesPerTrigger`` paces backfill; ``session_window`` state is
per-user and merges on gap overlap.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StructField, StructType,
                               TimestampType)

from ..operators.storage import read_parquet
from ..session import nanos_as_long


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events parquet (one file = one batch
    of history; in production this is a directory receiving new files).
    The stream source needs a user-specified schema; probe the footer
    batch-side so it matches whichever ts encoding this dataset has.
    nanosAsLong is set only for that probe (``session.nanos_as_long``):
    the micro-batches of a TIMESTAMP(NANOS) copy read its ``ts`` as the
    schema's long without it."""
    with nanos_as_long(spark):
        raw = read_parquet_stream(spark, sf_dir, "events",
                                  max_files_per_trigger=max_files_per_trigger)
    if isinstance(raw.schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling 1h window counts per event type — the
    streaming twin of plans.registry.q_events_tumbling."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
                    "event_type", "n", "sum_value"))


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked sliding windows (1h length / 30m slide): each event
    lands in two overlapping windows — the streaming twin of
    plans.registry.q_events_sliding."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.avg("value"), 6).alias("avg_value"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
                    "n", "avg_value"))


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup — the stream form of the ingest anti-join
    (#30, ingest_chunks_to_chromadb.py:175-186): dropDuplicates on the
    record key with a watermark bounding the dedup state (keys older
    than the watermark age out — at 100 TB the state store holds the
    active horizon, not history; the historical guard stays the batch
    anti-join against the sink)."""
    return (events.withWatermark("ts", watermark)
            .dropDuplicates(["event_id"]))


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    """Native session windows (gap-merged) per user — the streaming twin
    of the batch lag+cumsum sessionizer."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            .select("user_id",
                    F.unix_micros("w.start").alias("session_start_us"),
                    F.unix_micros("w.end").alias("session_end_us"),
                    "n_events"))


def run_available_now(stream_df: DataFrame, output_mode: str = "complete",
                      name: str | None = None) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into a memory sink and
    return the result as a batch DataFrame (blocks until done)."""
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def keep_latest_merge(path: str, key: str, order_col: str):
    """The per-micro-batch MERGE used by ``foreach_batch_upsert``,
    exposed so tests (and callers composing their own writeStream) can
    wrap it. IDEMPOTENT by construction: keep-latest-per-key over
    (sink ∪ batch) yields the same sink whether a batch runs once or —
    after a crash before the checkpoint commit — is replayed; that
    idempotence is exactly what upgrades foreachBatch's at-least-once
    delivery to exactly-once sink contents."""
    from pyspark.sql import Window

    def merge(batch: DataFrame, _epoch: int) -> None:
        from ..operators.ingest import read_store_or_none

        spark = batch.sparkSession
        # only a provably-absent sink means "first batch" — a corrupt
        # or unreadable sink must fail the batch, not be overwritten
        current = read_store_or_none(spark, path)
        merged = batch if current is None else current.unionByName(batch)
        w = Window.partitionBy(key).orderBy(F.desc(order_col))
        latest = (merged.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") == 1).drop("_rn"))
        # materialize before overwrite (reading and overwriting the
        # same path in one plan would race)
        latest.localCheckpoint(eager=True) \
            .write.mode("overwrite").parquet(path)

    return merge


def keep_latest_merge_partitioned(path: str, key: str, order_col: str,
                                  n_buckets: int = 16):
    """The SCALE form of ``keep_latest_merge``: the sink is laid out
    partitioned by a stable hash bucket of the key, and each
    micro-batch (a) computes which buckets it touches, (b) reads ONLY
    those partitions back (partition pruning), (c) merges
    keep-latest-per-key, and (d) rewrites ONLY those partitions via
    dynamic partition overwrite — untouched buckets' files are never
    read, never rewritten. Per-batch cost scales with the batch's key
    spread, not the sink size: the difference between O(|batch|) and
    O(|table|) per micro-batch at 100 TB. Same idempotence argument
    as keep_latest_merge, so crash-replay stays exactly-once."""
    from pyspark.sql import Window

    def bucket_of(col):
        return F.pmod(F.xxhash64(col), F.lit(n_buckets))

    def merge(batch: DataFrame, _epoch: int) -> None:
        from ..operators.ingest import read_store_or_none

        spark = batch.sparkSession
        b = batch.withColumn("_bucket", bucket_of(F.col(key)))
        touched = [r["_bucket"] for r in
                   b.select("_bucket").distinct().collect()]
        # a corrupt/unreadable sink fails the batch rather than being
        # treated as empty (which would rewrite touched buckets with
        # only the batch's rows, deleting every other stored key there)
        store = read_store_or_none(spark, path)
        merged = b if store is None else (
            store.where(F.col("_bucket").isin(touched)).unionByName(b))
        w = Window.partitionBy(key).orderBy(F.desc(order_col))
        latest = (merged.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") == 1).drop("_rn"))
        old = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                             "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        try:
            # dynamic mode replaces exactly the partitions present in
            # the written data — the untouched buckets stay as-is
            latest.localCheckpoint(eager=True) \
                .write.mode("overwrite").partitionBy("_bucket") \
                .parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    return merge


def foreach_batch_upsert(stream_df: DataFrame, path: str, key: str,
                         order_col: str, checkpoint: str) -> None:
    """Streaming keep-latest MERGE into a parquet table via
    ``foreachBatch`` — the stream form of the batch upsert (#31) and
    the vector-store batch write (#12): each micro-batch unions with
    the current sink and keeps the max-``order_col`` row per key
    (the Delta-less MERGE emulation from SURVEY section 2 #31).
    Blocks until AvailableNow drains; restarted on the same
    ``checkpoint`` it resumes AFTER the last committed batch (see
    ``keep_latest_merge`` for why an uncommitted batch's replay is
    safe). At scale the rewrite step is a partition-scoped overwrite
    (partition by a stable bucket of the key), not a full-table
    rewrite."""
    q = (stream_df.writeStream
         .foreachBatch(keep_latest_merge(path, key, order_col))
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    cumulative event count. This is the engine's arbitrary-state
    surface — the shape the reference's conversation memory (#60) or
    any bespoke per-key accumulator takes when it must live IN the
    stream rather than driver-side. State is one struct per user_id
    (O(distinct keys), partitioned by the groupBy hash — no skew beyond
    the key distribution itself); each micro-batch emits the updated
    running total, so the LAST (= max, counts are monotone) emission
    per key equals the batch groupBy count — which is what the oracle
    checks (Kappa parity, same as the windowed twins above).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = StructType([StructField("user_id", LongType()),
                             StructField("n_events", LongType())])
    state_schema = StructType([StructField("n", LongType())])

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def idle_session_timeouts(events: DataFrame, gap_minutes: int = 30,
                          watermark: str = "1 hour") -> DataFrame:
    """Emit-on-timeout stateful operator (EventTimeTimeout): per-user
    state accumulates (n_events, last event time) and registers an
    event-time timeout at last_ts + gap. When the WATERMARK passes
    that timestamp — i.e. the stream has provably moved beyond any
    event that could extend the session — the state times out, is
    evicted, and ONE row (user_id, n_events, last_ts) is emitted for
    the closed session. Rows are produced by the timeout path only,
    never by data batches: this is the arbitrary-state analog of
    session_window's late-binding close, and the shape for any
    "detect absence" operator (abandoned carts, stalled ingests).

    Scale: state is one struct per ACTIVE key and eviction is driven
    by the watermark, so state size tracks concurrent sessions, not
    stream history. Timeout timestamps live in the state store with
    the struct — no extra shuffle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = StructType([StructField("user_id", LongType()),
                             StructField("n_events", LongType()),
                             StructField("last_ts", TimestampType())])
    state_schema = StructType([StructField("n", LongType()),
                               StructField("last_us", LongType())])
    gap_ms = gap_minutes * 60 * 1000

    def update(key, pdfs, state):
        if state.hasTimedOut:
            n, last_us = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [key[0]], "n_events": [n],
                "last_ts": [pd.Timestamp(last_us * 1000)]})
            return
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            mx = pdf["ts"].max()
            last_us = max(last_us, mx.value // 1000)
        state.update((n, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)

    return (events.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "append",
                                    GroupStateTimeout.EventTimeTimeout))


def click_purchase_join(clicks: DataFrame, purchases: DataFrame,
                        horizon: str = "30 minutes") -> DataFrame:
    """Stream-stream inner join with an event-time interval: each click
    pairs with the same user's purchases landing within ``horizon``
    after it — the streaming attribution join. Both sides are
    watermarked, and the time-bound join condition lets Spark expire
    buffered state: a click older than (purchase watermark - horizon)
    can never match again and is evicted, so state is O(events in the
    horizon window), not O(stream history). The batch twin is the
    events self-join in plans.registry.q_streaming_stream_join's
    oracle (Kappa parity)."""
    c = (clicks
         .select("user_id", F.col("ts").alias("c_ts"),
                 F.col("event_id").alias("c_id"))
         .withWatermark("c_ts", "1 hour"))
    p = (purchases
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("p_ts"),
                 F.col("event_id").alias("p_id"))
         .withWatermark("p_ts", "2 hours"))
    return c.join(
        p, F.expr(f"user_id = p_user AND p_ts >= c_ts "
                  f"AND p_ts <= c_ts + interval {horizon}"))


def enriched_nation_counts(events: DataFrame, nation: DataFrame) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a STATIC
    dimension (nation, keyed by user_id % 25) and aggregates per
    nation name — the canonical "enrich the firehose with a dim
    table" pattern. The static side is broadcast, so each micro-batch
    does a map-side hash join against an executor-resident table: no
    stream-side shuffle for the join, no state for it either (only
    the final aggregation keeps state, bounded by |dim|)."""
    joined = (events
              .withColumn("nk", F.pmod(F.col("user_id"), F.lit(25)))
              .join(F.broadcast(nation),
                    F.col("nk") == F.col("n_nationkey")))
    return (joined.groupBy("n_name")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .withColumnRenamed("n_name", "nation"))


def read_parquet_stream(spark: SparkSession, sf_dir: str, table: str,
                        max_files_per_trigger: int | None = None
                        ) -> DataFrame:
    """File-source stream over any of the driver's parquet tables —
    the table-agnostic core of ``read_events_stream`` (which adds
    events' ts-encoding handling on top of the same dir/file probe).
    A directory of part files streams one file per micro-batch (the
    production layout for a table receiving daily drops); the
    driver's single-file layout globs down to the one file.

    Single-file branch listing contract (round-7 advisor): the file
    stream source rejects a literal file as its path (it becomes the
    partition-discovery ``basePath``, which must be a directory), so
    the source points at ``sf_dir`` with a leaf-name glob — and pins
    the listing to THAT directory level via an explicit
    ``recursiveFileLookup=false`` (also Spark's default, asserted here
    so no future nested ``<table>.parquet`` under sf_dir can silently
    join the stream). Each micro-batch re-lists sf_dir's one level —
    ~10 entries in the driver layout; the production
    directory-of-parts branch never pays it."""
    base = f"{sf_dir}/{table}.parquet"
    schema = read_parquet(spark, base).schema
    reader = spark.readStream.schema(schema).format("parquet")
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(base)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.getFileStatus(p).isDirectory():
        load_path = base
    else:
        reader = (reader
                  .option("pathGlobFilter", f"{table}.parquet")
                  .option("recursiveFileLookup", "false"))
        load_path = sf_dir
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(load_path)


def late_audit_epoch_maxes(state_dir: str) -> dict:
    """Read the late-data audit's committed per-epoch max-event-time
    ledger ({epoch: max_ts_us}); empty if nothing committed yet. The
    CURRENT pointer names the last fully-written ledger file
    (streaming_kmv_merge's crash-safe store discipline).

    Only a MISSING CURRENT means fresh state. If CURRENT exists but
    the ledger it names cannot be read, that is a corrupted store —
    raise, never return {}: an empty dict silently resets the
    watermark to accept-everything, under-reporting drops in an audit
    whose contract is MUST-drop."""
    import json
    import os
    try:
        with open(os.path.join(state_dir, "CURRENT")) as f:
            name = f.read().strip()
    except FileNotFoundError:
        return {}
    try:
        with open(os.path.join(state_dir, name)) as g:
            return json.load(g)
    except (OSError, ValueError) as e:
        # ValueError covers json.JSONDecodeError: a torn/truncated
        # ledger (file exists but is invalid JSON — possible after
        # power loss, since neither write is fsynced) is the SAME
        # corrupted-store condition as an unreadable file and must
        # raise the same diagnostic (r10 advisor).
        raise RuntimeError(
            f"late-data audit state store corrupted: CURRENT names "
            f"{name!r} but it cannot be read under {state_dir!r} — "
            "refusing to reset the watermark to accept-everything"
        ) from e


def late_audit_process_batch(batch: DataFrame, epoch: int, state_dir: str,
                             out_dir: str, delay_us: int,
                             window_us: int = 3_600_000_000) -> None:
    """One micro-batch of the sink-enforced lateness protocol (see
    plans.registry.q_streaming_late_data_audit for why the sink, not
    withWatermark, carries the eviction rule on this Spark).

    The watermark for epoch N is max event time over epochs < N minus
    the bound — a pure function of PRIOR epochs — and the batch's
    accepted per-window counts overwrite an epoch-keyed output dir, so
    a crash-replayed epoch recomputes the identical accepted set and
    rewrites identical bytes: exactly-once with no dedup bookkeeping.
    State is one integer per epoch, committed via fresh-file +
    os.replace of a CURRENT pointer (never an in-place rewrite a
    reader may hold open)."""
    import json
    import os
    import uuid

    maxes = late_audit_epoch_maxes(state_dir)
    prior = [v for e, v in maxes.items() if int(e) < epoch]
    wm = (max(prior) - delay_us) if prior else None
    tsu = F.unix_micros(F.col("ts"))
    wend = (F.floor(tsu / window_us) + 1) * window_us
    acc = batch if wm is None else batch.where(wend > F.lit(wm))
    counts = (acc.groupBy(F.floor(F.unix_micros(F.col("ts")) / window_us)
                          .cast("long").alias("wh"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_accepted")))
    counts.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"ep{epoch}"))
    row = batch.agg(F.max(F.unix_micros(F.col("ts")))).first()
    if row[0] is not None:
        maxes[str(epoch)] = int(row[0])
    name = f"epoch_{epoch}_{uuid.uuid4().hex[:8]}"
    with open(os.path.join(state_dir, name), "w") as f:
        json.dump(maxes, f)
    tmp = os.path.join(state_dir, f"CURRENT.tmp.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(name)
    os.replace(tmp, os.path.join(state_dir, "CURRENT"))
