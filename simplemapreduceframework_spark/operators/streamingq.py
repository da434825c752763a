"""Streaming-tier queries over the `events` table.

Batch-equivalence mode: each windowed aggregation is declared as a batch
DataFrame query (window / session_window work identically on batch
inputs) with a DuckDB oracle, which is how the driver's correctness gate
can check streaming semantics. The *live* Structured Streaming variant
(readStream + watermark + availableNow) registers as a rows-only query
and is additionally asserted equal to the batch result in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..functions.scale import broadcast_dim, table_rows
from ..session_memo import per_session
from ..sources import load_table
from .llmfilters import _DECON_ORACLE, _REP_ORACLE


@query(
    "events_tumbling_1h",
    oracle="""
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
WHERE ts IS NOT NULL  -- window() drops NULL event time
GROUP BY date_trunc('hour', ts), event_type
""",
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows by event type (batch-equivalence form of
    the streaming job, streaming/jobs.py:tumbling_counts_stream).

    window() is epoch-aligned in a UTC session = date_trunc('hour').
    Values are 2-decimal doubles -> the DECIMAL(18,2) cast is exact and
    the sum order-independent.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("tv"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "n_users",
            F.col("tv").cast("double").alias("total_value"),
            "min_value",
            "max_value",
        )
    )


@query(
    "events_sliding_1h_30m",
    oracle="""
WITH w AS (
    SELECT e.value,
           make_timestamp(CAST((FLOOR(epoch(ts) / 1800) * 1800 - off) * 1000000 AS BIGINT)) AS wstart,
           ts
    FROM events e CROSS JOIN (SELECT UNNEST([0, 1800]) AS off) o
    WHERE ts IS NOT NULL  -- window() drops NULL event time
)
SELECT STRFTIME(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM w
GROUP BY wstart
""",
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1 hour long, every 30 minutes — each event lands
    in exactly two windows (the oracle materializes both memberships via
    the 0/-30min offset trick)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("tv"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            F.col("tv").cast("double").alias("total_value"),
        )
    )


# Shared by the batch query and its streaming_session_live twin: the
# gaps-and-islands formulation of session_window's merge rule.
_SESSION_ORACLE = """
WITH marked AS (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WHERE ts IS NOT NULL  -- session_window() drops NULL event time
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM marked
)
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       STRFTIME(MAX(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sess_id
"""


@query("events_session_10m", oracle=_SESSION_ORACLE)
def events_session_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 10-minute gap per user (batch form of the
    stateful streaming operator).

    Spark's session_window merges an event into the current session iff
    ts < previous_end (= prev_ts + gap), i.e. a gap of exactly 10:00
    starts a new session — the oracle's gaps-and-islands uses `>=`
    accordingly. Session end = last event + gap in both.

    Runs the same builder as streaming_session_live
    (streaming.sessionized_stream) on the batch table: Spark's
    EliminateEventTimeWatermark rule drops its withWatermark on a
    non-streaming frame, so the batch plan is a plain session_window
    aggregation.
    """
    from ..streaming import sessionized_stream

    return sessionized_stream(load_table(spark, sf_dir, "events"))


# Shared by events_range_join, its live twin events_stream_join_live
# and its bucketed formulation events_range_join_bucketed.
_RANGE_JOIN_ORACLE = """
SELECT e.event_id AS error_id,
       p.event_id AS purchase_id,
       e.user_id,
       CAST(EXTRACT(EPOCH FROM e.ts - p.ts) AS DOUBLE) AS seconds_before_error,
       p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'error') e
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id
 AND p.ts >= e.ts - INTERVAL 30 MINUTE
 AND p.ts <= e.ts
"""


@query("events_range_join", oracle=_RANGE_JOIN_ORACLE)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: every purchase within the 30 minutes before each
    error, per user (the batch form of a stream-stream interval join).

    Plan shape: equi-join on user_id carries the shuffle; the interval
    predicate evaluates as a post-join filter within each user's
    co-partitioned rows — no cross join. At 100 TB add a coarse time-
    bucket to the join key so each side co-partitions by (user, hour)
    and the range only scans adjacent buckets
    (events_range_join_bucketed).

    Runs the same builder as events_stream_join_live
    (streaming.interval_join_stream) on the batch table: Spark's
    EliminateEventTimeWatermark rule drops both sides' withWatermark on
    a non-streaming frame, so the batch plan is the plain range join.
    """
    from ..streaming import interval_join_stream

    return interval_join_stream(load_table(spark, sf_dir, "events"))


@query(
    "events_dedup",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
)
def events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with controlled duplicate injection: the input is the
    events table UNIONed with itself, dropDuplicates on event_id (the
    table's unique key) must restore the original exactly — so the
    post-dedup aggregate hash-matches the plain-events oracle. Batch
    form of streaming_dedup_live; the dedup is a hash groupBy on the
    key, partial-agg collapsed before the exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    deduped = doubled.dropDuplicates(["event_id"])
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("tv"),
        )
        .select(
            "event_type",
            "n_events",
            "n_users",
            F.col("tv").cast("double").alias("total_value"),
        )
    )


@query(
    "streaming_dedup_live",
    oracle="""
SELECT event_id, event_type, user_id, value FROM events
""",
)
def streaming_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live streaming dedup: two stream scans of the same source
    unioned (guaranteed duplicate delivery), deduped by
    dropDuplicatesWithinWatermark — per-key state bounded by the
    watermark horizon.

    Oracle-gated: the source is the static events table doubled, the
    dedup key (event_id) is the table's unique key, and availableNow
    processes every file before the watermark can drop anything — so
    the streamed output is exactly the original table.
    """
    from ..streaming import dedup_stream, read_events_stream, run_available_now

    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    deduped = dedup_stream(doubled).select(
        "event_id", "event_type", "user_id", "value"
    )
    return run_available_now(deduped, spark, output_mode="append")


@query("events_stream_join_live", oracle=_RANGE_JOIN_ORACLE)
def events_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stream-stream interval join (watermarked on both sides,
    time-bounded condition -> bounded buffer state).

    Oracle-gated with the same SQL as the batch events_range_join,
    which runs the same builder: on a static availableNow source every
    match is emitted before the final watermark advance, so the
    streamed inner join equals the batch join.
    """
    from ..streaming import interval_join_stream, read_events_stream, run_available_now

    events = read_events_stream(spark, sf_dir)
    return run_available_now(
        interval_join_stream(events), spark, output_mode="append"
    )


@query(
    "streaming_tumbling_live",
    oracle="""
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE ts IS NOT NULL  -- window() drops NULL event time
GROUP BY date_trunc('hour', ts), event_type
""",
)
def streaming_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The *actual* Structured Streaming pipeline: readStream(parquet)
    -> watermark -> tumbling window agg -> availableNow -> memory sink.

    Oracle-gated with the batch events_tumbling_1h SQL restricted to
    the streamed columns: the static fixture fits in the availableNow
    run's first batches, complete output mode emits every window, and
    the watermark drops nothing — so streaming equals batch.
    """
    from ..streaming import read_events_stream, run_available_now, tumbling_counts_stream

    events = read_events_stream(spark, sf_dir)
    result = tumbling_counts_stream(events)
    return run_available_now(result, spark)


@query("streaming_session_live", oracle=_SESSION_ORACLE)
def streaming_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows on a LIVE stream: readStream(parquet) ->
    watermark -> session_window(gap 10m) agg -> availableNow -> memory
    sink — Spark's native stateful session operator, one state entry
    per OPEN session, closed (and emitted) as the watermark passes
    gap-end.

    Gated against the SAME gaps-and-islands oracle as the batch
    events_session_10m: the static fixture arrives within the
    availableNow run, complete output mode emits every closed-or-open
    session, and the 1h watermark drops nothing — streaming equals
    batch equals oracle.
    """
    from ..streaming import read_events_stream, run_available_now, sessionized_stream

    events = read_events_stream(spark, sf_dir)
    return run_available_now(sessionized_stream(events), spark)


@query("streaming_hygiene_live", oracle=_REP_ORACLE)
def streaming_hygiene_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hygiene-at-ingest: the repetition filter applied to a LIVE
    document stream — readStream(parquet) -> stateless per-row metrics
    -> availableNow -> memory sink.

    Because every repetition metric depends on one document only, the
    streaming formulation is a pure projection over per-row arrays
    (llmfilters.repetition_metrics_row_local): append output mode, no
    state store, no watermark — the filter runs at ingest wire speed
    with zero streaming state at any scale. The batch
    text_repetition_filter serves the same projection from the hygiene
    frame and is gated against the SAME oracle, so one hash-match
    proves batch == streaming == oracle.
    """
    from ..streaming import read_table_stream, run_available_now
    from .llmfilters import repetition_metrics_row_local

    docs = read_table_stream(spark, sf_dir, "documents")
    out = repetition_metrics_row_local(docs)
    return run_available_now(out, spark, output_mode="append")


@query("streaming_decontaminate_live", oracle=_DECON_ORACLE)
def streaming_decontaminate_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at ingest: a LIVE document stream checked
    against the static benchmark gram set — readStream(parquet) ->
    broadcast-set membership in an Arrow-batched pandas UDF ->
    availableNow -> memory sink.

    The benchmark index is collected once from the static eval split
    and broadcast (bounded by the eval corpus, not the stream); each
    streamed document then answers its own contamination question
    row-locally — append mode, zero streaming state. Gated against the
    SAME oracle as the batch text_decontaminate (an inverted-index
    join), so one hash-match proves join formulation == broadcast-set
    formulation == oracle.
    """
    from ..streaming import read_table_stream, run_available_now
    from .llmfilters import benchmark_gram_set, decontaminate_row_local

    bench = benchmark_gram_set(spark, sf_dir)
    docs = read_table_stream(spark, sf_dir, "documents")
    out = decontaminate_row_local(docs, bench)
    return run_available_now(out, spark, output_mode="append")


def _nfc_oracle() -> str:
    from .textnorm import _NFC_ORACLE

    return _NFC_ORACLE


@query("streaming_normalize_live", oracle=_nfc_oracle())
def streaming_normalize_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization at ingest: the NFC projection applied to
    a LIVE document stream — readStream(parquet) -> Arrow-batched
    pandas UDF -> availableNow -> memory sink.

    This is the streaming tier's Python-UDF exercise: normalization is
    row-local, so the plan is a stateless projection in append mode
    (no state store, no watermark) with the same vectorized UDF the
    batch path uses — proving pandas UDFs run unchanged inside
    Structured Streaming micro-batches. Gated against the SAME oracle
    as batch text_normalize_unicode, so one hash-match proves batch ==
    streaming == oracle."""
    from ..streaming import read_table_stream, run_available_now
    from .textnorm import normalize_projection

    docs = read_table_stream(spark, sf_dir, "documents")
    return run_available_now(
        normalize_projection(docs), spark, output_mode="append"
    )


def _customer_nation_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer -> nation enrichment dimension (c_custkey, n_name),
    shared by streaming_enrich_live and the composed ingest pipeline so
    both enrich through ONE definition."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_name")


@query(
    "streaming_enrich_live",
    oracle="""
SELECT e.event_id, e.event_type, e.value, n.n_name AS user_nation
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
""",
)
def streaming_enrich_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the LIVE event stream joined at ingest
    to static dimension tables (customer -> nation) — the classic
    enrich-on-the-wire shape (clickstream + user profile). The static
    side is a broadcast hash join rebuilt per micro-batch; the stream
    side carries NO state (append mode, no watermark needed for a
    stateless join), so throughput is wire-speed at any scale and the
    dimension refreshes by re-reading the static table.

    Gated against the equivalent batch join oracle: static input +
    append mode => streaming equals batch row-for-row.
    """
    from ..streaming import read_events_stream, run_available_now

    events = read_events_stream(spark, sf_dir)
    dim = _customer_nation_dim(spark, sf_dir)
    enriched = events.join(
        broadcast_dim(dim, table_rows(spark, sf_dir, "customer")),
        events.user_id == dim.c_custkey,
    ).select(
        "event_id",
        "event_type",
        "value",
        F.col("n_name").alias("user_nation"),
    )
    return run_available_now(enriched, spark, output_mode="append")


@query("events_range_join_bucketed", oracle=_RANGE_JOIN_ORACLE)
def events_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB formulation of events_range_join (same oracle, same
    rows): widen the equi-key with a coarse 30-minute time bucket so
    the shuffle co-partitions by (user_id, bucket), not user_id alone.

    A plain user-keyed range join funnels a power user's entire history
    through one reducer and compares every error x purchase pair in it;
    bucketing bounds each task's comparisons to two bucket-widths of
    data. Because the probe interval [ts-30m, ts] spans exactly two
    30-minute buckets, each error row expands to 2 bucket keys (a
    bounded, constant-factor explode on the SMALLER filtered side) and
    every qualifying purchase matches on exactly one of them — no
    duplicates, no post-dedup. The exact interval predicate still
    applies after the join; only its search space shrank.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.unix_micros(F.col("ts")) / F.lit(1_800_000_000)).cast("long")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("ets"),
            bucket.alias("eb"),
        )
        .withColumn("bucket", F.explode(F.array(F.col("eb") - 1, F.col("eb"))))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("value").alias("purchase_value"),
        bucket.alias("p_bucket"),
    )
    joined = errors.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("bucket") == F.col("p_bucket"))
        & (F.col("pts") >= F.col("ets") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("pts") <= F.col("ets")),
    )
    secs = (
        (F.unix_micros("ets") - F.unix_micros("pts")).cast("double")
        / 1_000_000.0
    )
    return joined.select(
        "error_id",
        "purchase_id",
        "user_id",
        secs.alias("seconds_before_error"),
        "purchase_value",
    )


@query(
    "streaming_stateful_totals_live",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
GROUP BY user_id
""",
)
def streaming_stateful_totals_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSTOM stateful streaming (applyInPandasWithState) under the
    driver gate: per-user running totals folded in Arrow batches with
    two integers of state per user, run with availableNow in update
    mode. The memory sink accumulates one emission per (user, batch);
    the final state per user is the row with the max running count
    (n_events is strictly monotone per user), which must equal the
    batch COUNT/SUM oracle exactly — the integer-cents state makes the
    total independent of micro-batch boundaries, so this is a full
    value gate over an arbitrary-state operator.
    """
    from ..streaming import read_events_stream, run_available_now
    from ..streaming.stateful import running_user_totals_exact

    events = read_events_stream(spark, sf_dir)
    updates = run_available_now(
        running_user_totals_exact(events), spark, output_mode="update"
    )
    final = F.max(F.struct("n_events", "total_cents")).alias("m")
    return updates.groupBy("user_id").agg(final).select(
        "user_id",
        F.col("m.n_events").alias("n_events"),
        F.col("m.total_cents").alias("total_cents"),
    )


@query(
    "streaming_sliding_live",
    oracle="""
WITH w AS (
    SELECT make_timestamp(CAST((FLOOR(epoch(ts) / 1800) * 1800 - off)
                               * 1000000 AS BIGINT)) AS wstart
    FROM events e CROSS JOIN (SELECT UNNEST([0, 1800]) AS off) o
    WHERE ts IS NOT NULL  -- window() drops NULL event time
)
SELECT STRFTIME(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events
FROM w
GROUP BY wstart
""",
)
def streaming_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows on a LIVE stream: readStream -> watermark ->
    window(1h, slide 30m) agg -> availableNow -> memory sink. Each
    event lands in exactly two overlapping windows; the oracle
    materializes both memberships with the 0/-30min offset trick —
    same gate shape as the batch events_sliding_1h_30m, restricted to
    the streamed columns."""
    from ..streaming import read_events_stream, run_available_now, sliding_counts_stream

    events = read_events_stream(spark, sf_dir)
    return run_available_now(sliding_counts_stream(events), spark)


@query(
    "streaming_ingest_pipeline_live",
    oracle="""
SELECT e.event_id, e.event_type, e.value, n.n_name AS user_nation
FROM (SELECT DISTINCT ON (event_id) event_id, event_type, value, user_id
      FROM events) e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE e.value > 100.0
""",
)
def streaming_ingest_pipeline_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A COMPOSED ingest pipeline on one live stream: exact dedup
    within the watermark horizon -> broadcast dimension enrichment ->
    value filter, in a single streaming query — the
    pipeline_clean_corpus of the streaming tier (each stage is an
    individually-gated operator; this pins that they compose).

    State is the dedup key set only (purged as the watermark advances);
    the join and filter are stateless per micro-batch. Event ids are
    unique in the fixture, so dedup is the identity and the batch
    oracle's DISTINCT ON picks the same rows — with real duplicate
    traffic the streaming semantics (first arrival wins) are the
    operator contract, per events_dedup.
    """
    from ..streaming import dedup_stream, read_events_stream, run_available_now

    events = read_events_stream(spark, sf_dir)
    deduped = dedup_stream(events)
    dim = _customer_nation_dim(spark, sf_dir)
    out = (
        deduped.join(
            broadcast_dim(dim, table_rows(spark, sf_dir, "customer")),
            deduped.user_id == dim.c_custkey,
        )
        .filter(F.col("value") > 100.0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.col("n_name").alias("user_nation"),
        )
    )
    return run_available_now(out, spark, output_mode="append")


@query(
    "events_session_stats",
    oracle="""
WITH marked AS (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM marked
),
per_session AS (
    SELECT user_id, sess_id, COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
    FROM sess GROUP BY user_id, sess_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events_per_session,
       CAST(MAX(span_us) AS BIGINT) AS max_span_us
FROM per_session
GROUP BY user_id
""",
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level engagement summary per user: session count, total
    and average events per session, and the longest session span — the
    rollup a product-analytics dashboard reads on top of
    sessionization.

    Composes the session_window operator with a second per-user
    aggregate: both group on user-rooted keys, so the rollup reuses
    the session exchange. Spans are integer MICROSECOND differences
    (epoch_us/unix_micros — no fractional-second doubles); the average
    divides identical integers — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    per_session = (
        ev.groupBy(
            F.session_window("ts", "10 minutes").alias("sw"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("span_us"),
        )
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias(
            "avg_events_per_session"
        ),
        F.max("span_us").cast("bigint").alias("max_span_us"),
    )


from ..sources.maintenance import MV_ORACLE as _MV_ORACLE  # noqa: E402
from ..sources.maintenance import MV_SCHEMA as _MV_SCHEMA  # noqa: E402


@query("streaming_mv_refresh_live", oracle=_MV_ORACLE)
@per_session("mv_stream")
def streaming_mv_refresh_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized-view maintenance: the historical orders
    seed a versioned summary store; the "new" orders arrive as a LIVE
    multi-file stream (repartitioned to 4 files, maxFilesPerTrigger=1,
    so the merge really runs across several micro-batches), and each
    foreachBatch merges its batch's partial aggregate into the store —
    version v{batch_id} in, v{batch_id+1} out, so a redelivered batch
    overwrites its own output instead of double-counting (the
    idempotent-versioning exactly-once pattern). The final store state
    must hash-match the SAME full-recompute oracle as the batch
    incremental_mv_refresh: stream-merge == batch-merge == rebuild.

    Shape at scale: per batch, the delta aggregate touches only that
    batch's files and the merge is summary-sized — history is never
    rescanned; the store versions are what a table format (Delta/
    Iceberg) calls snapshots.
    """
    import atexit
    import os
    import shutil
    import tempfile

    from ..sources import load_table
    from ..sources.maintenance import (
        _MV_MOD,
        merge_mv,
        summarize_orders_monthly,
    )
    from ..streaming import read_table_stream

    root = tempfile.mkdtemp(prefix="smrf_mv_stream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    hist = orders.filter(
        F.coalesce(F.col("o_orderkey") % _MV_MOD != 0, F.lit(True))
    )
    summarize_orders_monthly(hist).write.mode("overwrite").parquet(
        f"{root}/store/v0"
    )
    # the arriving batch, laid out as 4 files so availableNow +
    # maxFilesPerTrigger=1 yields 4 real micro-batches
    delta_dir = f"{root}/delta.parquet"  # read_table_stream's layout
    orders.filter(F.col("o_orderkey") % _MV_MOD == 0).repartition(
        4
    ).write.mode("overwrite").parquet(delta_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = spark.read.schema(_MV_SCHEMA).parquet(
            f"{root}/store/v{batch_id}"
        )
        nxt = merge_mv(cur, summarize_orders_monthly(batch_df))
        nxt.write.mode("overwrite").parquet(
            f"{root}/store/v{batch_id + 1}"
        )

    stream = read_table_stream(
        spark, root, "delta", max_files_per_trigger=1
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = sorted(
        int(d[1:])
        for d in os.listdir(f"{root}/store")
        if d.startswith("v")
    )
    from ..sources.maintenance import finalize_mv

    return finalize_mv(
        spark.read.schema(_MV_SCHEMA).parquet(
            f"{root}/store/v{versions[-1]}"
        )
    )


from .timeseries import _CAPPED_ORACLE, _capped_rollup  # noqa: E402


@query("streaming_capped_contrib_live", oracle=_CAPPED_ORACLE)
def streaming_capped_contrib_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contribution bounding on a LIVE stream — the streaming twin of
    events_capped_contributions: readStream -> stateful
    (user_id, event_type) count aggregation (complete mode, one
    availableNow drain) -> the cap-and-rollup applied to the
    materialized per-user counts. The state a continuous deployment
    carries is exactly the per-(user, type) counter — the same two
    integers the DP bounding literature assumes — and the cap is
    applied OUTSIDE the stream so re-tuning it never invalidates
    streaming state. Oracle identical to the batch twin; NULL
    user/type groups are bounded, not dropped, in both."""
    from ..streaming import read_events_stream, run_available_now

    events = read_events_stream(spark, sf_dir)
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return _capped_rollup(run_available_now(counts, spark))
