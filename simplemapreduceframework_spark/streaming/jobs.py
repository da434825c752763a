"""Structured Streaming tier (SURVEY.md section 2.4: absent in the
reference — batch-only, two fixed phases, jobtracker.py:48-49 — and
green-field here).

The `events` table doubles as a stream source: `readStream` over its
parquet files with `availableNow` gives exactly-once batch-equivalent
processing, which is how the streaming tier is validated (the DuckDB
oracle can only see the batch semantics). Watermarks bound state for
late data; windowed aggs use the same tumbling/sliding/session
definitions as the batch queries in operators/streamingq.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Stream-scan the events table (schema pinned from the batch
    read). Nanosecond `ts` arrives as int64 under nanosAsLong and is
    normalized to timestamp exactly like the batch reader.

    max_files_per_trigger bounds micro-batch size for a continuous
    deployment; the default (unset) lets Trigger.AvailableNow drain the
    static fixture in one batch — one state-store commit cycle instead
    of one per file, which is the fast shape for the batch-equivalence
    harness and exactly what a backfill run would use."""
    from ..sources.readers import _normalize_events

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalize_events(
        read_table_stream(
            spark, sf_dir, "events", max_files_per_trigger=max_files_per_trigger
        )
    )


def read_table_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-scan any fixture table (schema pinned from the batch
    read) — the generic ingest source for streaming pipeline stages
    (events, hygiene-at-ingest over `documents`). This is the ONE copy
    of the single-file-vs-directory layout handling; read_events_stream
    delegates here so the 0-row-glob regression class has a single fix
    point."""
    from ..sources.readers import _normalize_ntz

    # NTZ-annotated parquet must surface as plain TIMESTAMP: watermarks
    # reject TIMESTAMP_NTZ event-time columns (and the batch twins read
    # the same way via load_table).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    # Layout detection through the Hadoop FS (not os.path): sf_dir may
    # live on HDFS/S3 where a driver-local stat would always say "not
    # a directory" and silently re-trigger the 0-row glob regression.
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.getFileStatus(hpath).isDirectory():
        # Spark-written table: a DIRECTORY of part files — stream the
        # directory itself (a name glob would match no part file).
        src = path
    else:
        # Single-file fixture: the file-stream source lists a
        # directory, so list sf_dir and glob just this table's file.
        reader = reader.option("pathGlobFilter", f"{name}.parquet")
        src = sf_dir
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _normalize_ntz(reader.parquet(src))


def tumbling_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour tumbling windows with a watermark: state for a window is
    dropped once the watermark passes its end — bounded memory at any
    scale. Late events beyond the watermark are discarded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
        )
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour windows sliding every 30 minutes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
        )
    )


def sessionized_stream(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows (gap-based) per user — Spark's native stateful
    session operator; state per open session, closed by watermark. The
    batch events_session_10m runs this builder too: on a batch frame
    Spark's EliminateEventTimeWatermark rule drops the watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon
    (dropDuplicatesWithinWatermark): state holds one entry per key seen
    inside the horizon and is purged as the watermark advances —
    bounded state on an unbounded stream, unlike plain dropDuplicates
    whose state grows forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def interval_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each error joined to the purchases
    that preceded it by at most 30 minutes, per user. The live
    events_stream_join_live and the batch events_range_join both run
    it; on a batch frame Spark's EliminateEventTimeWatermark rule drops
    the watermarks and the plan is the plain range join.

    Both sides carry watermarks and the join condition is time-bounded,
    so each side buffers at most (watermark + interval) of state and
    rows age out as the watermark advances — the canonical bounded-
    state stream-stream join."""
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id"),
            F.col("ts").alias("ets"),
        )
        .withWatermark("ets", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("pts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pts") >= F.col("ets") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("pts") <= F.col("ets")),
    )
    # integer microsecond subtraction first, ONE float division after —
    # the same op order as the oracle's EXTRACT(EPOCH FROM interval)
    secs = (
        (F.unix_micros("ets") - F.unix_micros("pts")).cast("double") / 1_000_000.0
    )
    return joined.select(
        "error_id",
        "purchase_id",
        "user_id",
        secs.alias("seconds_before_error"),
        "purchase_value",
    )


# RocksDB state store: the right default on a real cluster — state
# lives on executor local disk (not the JVM heap) and changelog
# checkpointing ships per-batch deltas to the checkpoint location
# instead of full snapshots, so checkpoint cost tracks state CHURN
# rather than state SIZE. At 100 TB of stream state the default
# HDFS-backed in-memory provider is not an option.
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def state_store_confs(backend: str | None) -> dict[str, str]:
    """SQL confs for a state-store backend: ``"rocksdb"`` (local-disk
    state + changelog checkpointing) or ``None``/``"hdfs"`` for Spark's
    default heap-backed provider. Applied per streaming query start, so
    jobs with different state profiles can mix in one session."""
    if backend in (None, "", "hdfs"):
        return {}
    if backend == "rocksdb":
        return {
            "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        }
    raise ValueError(f"unknown state-store backend: {backend!r}")


def run_available_now(
    result: DataFrame,
    spark: SparkSession,
    table_prefix: str = "stream_out",
    output_mode: str | None = None,
    state_store: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame with Trigger.AvailableNow into a
    memory sink, wait for completion, return the materialized table.

    This is the batch-equivalence harness: process *all* currently
    available input exactly once, then stop — output equals the batch
    query over the same data (modulo watermark-dropped rows, which with
    a static complete file set means none).

    state_store selects the state backend for this run ("rocksdb" or
    default). Results are provider-independent (pinned by tests under
    both).
    """
    name = f"{table_prefix}_{uuid.uuid4().hex[:8]}"
    mode = output_mode or ("complete" if result.isStreaming else "append")
    # Stateful operators materialize one state-store instance per
    # shuffle partition per micro-batch; under a default 200-partition
    # session that is 200 store commit cycles for a fixture-sized
    # stream. Pin a modest count for the run (results are partition-
    # count invariant — pinned by the oracle gates and stress probes)
    # and restore the caller's setting afterwards.
    overrides: dict[str, str] = {"spark.sql.shuffle.partitions": "16"}
    overrides.update(state_store_confs(state_store))
    prev: dict[str, str | None] = {}
    for k, v in overrides.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        q: StreamingQuery = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.table(name)
