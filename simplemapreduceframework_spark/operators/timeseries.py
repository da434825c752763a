"""Time-series operators over the events stream: regular-grid
resampling with gap filling and forward fill — the densification pass a
metrics pipeline runs before charting or model features (every hour
gets a row, gaps carry the last observation forward).

The reference has no temporal tier; this extends its grouped
aggregation surface (reference README.md:25-36 grouped recipe) to
time-grid semantics, Spark-first: the hourly rollup is one
partial-aggregated groupBy, the grid is a generated `sequence()`
explode over a constant-size (type, bounds) frame, and the forward
fill is `last(ignorenulls)` over an unbounded-preceding running frame
— all built-ins, no Python.

Numeric policy: counts are integers; the filled metric is the DECIMAL
hourly sum (order-independent, engine-exact), never a double, so every
carried-forward value matches DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..session_memo import per_session
from ..sources import load_table


@query(
    "events_resample_ffill",
    oracle="""
WITH hourly AS (
    SELECT event_type,
           date_trunc('hour', ts) AS h,
           COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS sv
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
),
bounds AS (
    SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
    FROM hourly GROUP BY event_type
),
grid AS (
    SELECT event_type,
           UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
    FROM bounds
)
SELECT g.event_type,
       STRFTIME(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
       COALESCE(hy.n, 0) AS n_events,
       hy.n IS NULL AS is_gap,
       CAST(CAST(last_value(hy.sv IGNORE NULLS)
           OVER (PARTITION BY g.event_type ORDER BY g.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DECIMAL(18,2)) AS VARCHAR) AS sum_value_ffill
FROM grid g
LEFT JOIN hourly hy ON hy.event_type = g.event_type AND hy.h = g.h
""",
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to a dense per-type hourly grid: every hour
    between each type's first and last observation gets a row; empty
    hours are flagged as gaps with n_events 0 and the hourly value sum
    carried forward from the last observed hour.

    Shape at scale: the only fact-scale exchange is the hourly groupBy
    (partial-aggregated); bounds collapse to one row per type, the
    grid explode is |types| x |hours| (dimension-sized), and the
    left join broadcasts the hourly rollup (equally dimension-sized)
    under the grid. The forward-fill window partitions by type — with
    few hot types and years of hours that partition is the resample's
    inherent sequential pass; a 100 TB deployment would segment it
    (type, month) with a per-segment seed carried from the previous
    segment's last value.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # left-outer broadcast joins build the RIGHT side, so broadcast the
    # hourly rollup (also dimension-sized: |types| x |observed hours|).
    return (
        grid.join(F.broadcast(hourly), ["event_type", "h"], "left")
        .select(
            "event_type",
            # format to a string: a raw timestamp column would collect
            # in the CLIENT's local timezone (the TZ stress probe's
            # failure mode); every timestamp-emitting query formats
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
            # decimal INTERNALLY (order-independent exact sum), but
            # the output projection is a fixed-scale STRING: decimal
            # output columns never pass the driver's cross-engine
            # hash (VERDICT r6 — both engines render "14878650.27"
            # identically as text; their decimal serializations
            # differ no matter the pinned scale).
            F.last("sv", ignorenulls=True)
            .over(w)
            .cast("decimal(18,2)")
            .cast("string")
            .alias("sum_value_ffill"),
        )
    )


@query(
    "events_state_intervals",
    oracle="""
WITH runs AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS chg
    FROM events
    WHERE ts IS NOT NULL  -- run position undefined without a time; and
                          -- Spark orders NULLS FIRST vs DuckDB's LAST
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
grp AS (
    SELECT user_id, ts, event_type,
           SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS run_id
    FROM runs
),
intervals AS (
    SELECT user_id, event_type AS state, run_id,
           MIN(ts) AS valid_from, COUNT(*) AS n_events
    FROM grp GROUP BY user_id, event_type, run_id
)
SELECT user_id, state,
       STRFTIME(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       STRFTIME(LEAD(valid_from) OVER (PARTITION BY user_id
                                       ORDER BY valid_from, run_id),
                '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       n_events
FROM intervals
""",
)
def events_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history build from an event stream: collapse each user's
    consecutive same-type events into state intervals with
    [valid_from, valid_to) validity — valid_to NULL marks the current
    state. The change-data-capture shape a warehouse maintains for
    dimension history.

    Shape at scale: classic gaps-and-islands — one exchange on
    user_id, then every window and the run groupBy reuse that
    partitioning (the run aggregate keys on (user_id, ...) so no new
    shuffle); per-user sequential scans are the operator's inherent
    cost and users are plentiful, so parallelism is wide. All outputs
    are integers, strings, and formatted timestamps — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    grp = runs.select(
        "user_id",
        "ts",
        "event_type",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    )
    intervals = grp.groupBy("user_id", F.col("event_type").alias("state"), "run_id").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    # run_id tie-breaks two runs sharing an identical min ts (two
    # same-timestamp events of different types) — without it the LEAD
    # chain is nondeterministic on BOTH engines
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "run_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return intervals.select(
        "user_id",
        "state",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format(F.lead("valid_from").over(w2), fmt).alias("valid_to"),
        "n_events",
    )


@query(
    "events_cohort_retention",
    oracle="""
WITH firsts AS (
    SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS week
    FROM events
)
SELECT STRFTIME(f.cohort_week, '%Y-%m-%d') AS cohort_week,
       (CAST(epoch(a.week) AS BIGINT) - CAST(epoch(f.cohort_week) AS BIGINT))
           // 604800 AS week_offset,
       COUNT(*) AS n_users
FROM activity a JOIN firsts f ON f.user_id = a.user_id
GROUP BY f.cohort_week, week_offset
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    in each later week they return — the product-analytics triangle
    every activity warehouse serves.

    Shape at scale: both the first-touch aggregate and the distinct
    weekly-activity set are partial-aggregated groupBys on user_id
    (the SAME key, so AQE/co-partitioning reuses one exchange); the
    cohort join is user-keyed and the final rollup is cohort x offset
    (constant-size output). Week arithmetic is pure integer epoch
    division — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                (
                    F.unix_timestamp("week")
                    - F.unix_timestamp("cohort_week")
                )
                / F.lit(604800)
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "events_trend_slope",
    oracle="""
WITH m AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 - 473352) AS sx,
           SUM((CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 - 473352)
               * (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 - 473352)) AS sxx,
           SUM(CAST(value AS DECIMAL(18,2))) AS sy,
           SUM((CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 - 473352)
               * CAST(value AS DECIMAL(18,2))) AS sxy
    FROM events GROUP BY event_type
)
SELECT event_type, n,
       CAST(CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE) AS DOUBLE) AS slope_per_hour
FROM m
""",
)
def events_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend: the slope of metric value over
    time (units: value per hour) for each event type — the drift
    detector a metrics pipeline fits continuously.

    Numeric policy: x is INTEGER hours since the corpus epoch base
    (FLOOR(epoch) div 3600 - 473352 = hours since 2024-01-01; the
    explicit FLOOR matters — a bare DuckDB double->bigint cast ROUNDS
    sub-second timestamps while Spark's unix_timestamp truncates, and
    CENTERING matters — raw epoch hours make n*Sxx overflow int64 at
    sf0.1 already, where DuckDB silently promotes SUM to int128 and
    Spark throws ARITHMETIC_OVERFLOW; the slope is invariant to x
    translation), y is the DECIMAL(18,2) value, so all five regression
    moments (n, Sx, Sxx, Sy, Sxy) are integer/decimal sums —
    order-independent, exact, and int64-bounded through petabyte row
    counts (a production run over decades would widen to DECIMAL
    moments). The slope divides two exactly-computed values
    in one double division — engine-exact. ONE partial-aggregated
    groupBy over the fact scan; constant output.
    """
    ev = load_table(spark, sf_dir, "events")
    x = F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 3600 - 473352")
    y = F.col("value").cast("decimal(18,2)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return m.select(
        "event_type", "n", (num / den).cast("double").alias("slope_per_hour")
    )


@query(
    "events_transition_matrix",
    oracle="""
WITH ord AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
    WHERE ts IS NOT NULL  -- sequence position undefined without a time
),
trans AS (
    SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
    FROM ord WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE)
           / SUM(n) OVER (PARTITION BY from_type) AS probability
FROM trans
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current type) — the behavioral
    model a product-analytics or anomaly pipeline fits from the
    clickstream.

    Shape at scale: ONE exchange on user_id orders each user's
    sequence (lead is per-user, embarrassingly parallel across users);
    transitions then collapse to a |types|^2 aggregate, and the row
    normalization windows over that constant-size matrix, not the fact
    table. NULL event times are excluded on both engines (sequence
    position is undefined — and Spark orders NULLS FIRST where DuckDB
    defaults NULLS LAST, so leaving them in would diverge). Counts are
    integers; probabilities divide identical integers — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wn)).alias(
            "probability"
        ),
    )


@query(
    "part_monthly_demand_features",
    oracle="""
WITH monthly AS (
    SELECT l_partkey,
           STRFTIME(date_trunc('month', l_shipdate), '%Y-%m-%d') AS month,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM lineitem
    WHERE l_shipdate IS NOT NULL  -- a NULL month has no lag position
    GROUP BY l_partkey, date_trunc('month', l_shipdate)
)
SELECT l_partkey, month, qty,
       LAG(qty, 1) OVER w AS qty_lag1,
       LAG(qty, 2) OVER w AS qty_lag2,
       CAST(SUM(CAST(CAST(qty AS DECIMAL(18,2)) AS DECIMAL(18,2)))
                OVER (PARTITION BY l_partkey ORDER BY month
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS qty_rolling3,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS month_idx
FROM monthly
WINDOW w AS (PARTITION BY l_partkey ORDER BY month)
""",
)
def part_monthly_demand_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecasting feature engineering: per part per month, the demand
    plus its lag-1/lag-2 and rolling-3-month features — the wide table
    a demand-forecast model trains on, built in one declarative plan.

    Shape at scale: ONE partial-aggregated groupBy collapses the fact
    table to part x month (dimension-sized); every window then shares
    the single part-keyed exchange (lags, rolling sum, and index reuse
    one sort). Monthly sums are DECIMAL (exact) surfaced as doubles;
    lags/rolling re-enter decimal before summing so every feature is
    engine-exact. Months sort correctly as ISO strings.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    monthly = li.groupBy(
        "l_partkey",
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM-dd").alias(
            "month"
        ),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("double")
        .alias("qty")
    )
    w = Window.partitionBy("l_partkey").orderBy("month")
    wr = w.rowsBetween(-2, Window.currentRow)
    return monthly.select(
        "l_partkey",
        "month",
        "qty",
        F.lag("qty", 1).over(w).alias("qty_lag1"),
        F.lag("qty", 2).over(w).alias("qty_lag2"),
        F.sum(F.col("qty").cast("decimal(18,2)"))
        .over(wr)
        .cast("double")
        .alias("qty_rolling3"),
        F.row_number().over(w).cast("bigint").alias("month_idx"),
    )


@query(
    "events_hourly_seasonality",
    oracle="""
SELECT event_type,
       CAST(EXTRACT(HOUR FROM ts) AS INT) AS hour_of_day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS avg_value
FROM events
WHERE ts IS NOT NULL
GROUP BY event_type, EXTRACT(HOUR FROM ts)
""",
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal seasonality profile: event volume and value by hour of
    day per type — the seasonal decomposition input a forecasting or
    anomaly pipeline conditions on.

    One partial-aggregated groupBy to a types x 24 frame; the average
    divides an exact decimal-derived double by an integer count
    through identical trees. Hour extraction is UTC on both engines
    (session timezone pinned at the read layer).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    dec = F.col("value").cast("decimal(18,2)")
    return (
        ev.groupBy(
            "event_type", F.hour("ts").cast("int").alias("hour_of_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec).cast("double").alias("total_value"),
            (F.sum(dec).cast("double") / F.count(F.lit(1))).alias(
                "avg_value"
            ),
        )
    )


_FUNNEL_STAGES = ["view", "click", "purchase"]


@query(
    "events_funnel",
    family="selfcontained",
    oracle="""
WITH s0 AS (
    SELECT user_id, MIN(ts) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s1 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events e JOIN s0 ON s0.user_id = e.user_id
    WHERE e.event_type = 'click' AND e.ts > s0.t
    GROUP BY e.user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events e JOIN s1 ON s1.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s1.t
    GROUP BY e.user_id
),
counts AS (
    SELECT 1 AS stage_idx, 'view' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_users FROM s0
    UNION ALL
    SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s1
    UNION ALL
    SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s2
)
SELECT stage_idx, stage, n_users,
       -- NULLIF: with zero top-stage users DuckDB's 0/0 is NULL while
       -- an unguarded Spark 0/0 is NaN — both engines pin NULL
       CAST(n_users AS DOUBLE)
           / NULLIF((SELECT n_users FROM counts WHERE stage_idx = 1), 0)
           AS conversion_from_top
FROM counts
""",
)
@per_session("funnel")
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ordered funnel (view -> click -> purchase): a user
    converts a stage only with an event strictly AFTER their first
    event of the previous stage. This is the exact-reachability twin
    of q34_event_funnel's conditional-MIN form: q34 tests only each
    type's GLOBAL first timestamp (a user who clicked before their
    first view and again after is missed there — 3 timestamps of
    state, one pass); this query re-minimizes per stage over
    qualifying events only, so later in-order events count.

    Shape at scale: stage k is one fact-scan filter on its event type
    joined to the user-dimension-sized stage-(k-1) frame — broadcast
    below the size threshold, shuffle join above it (the
    decontaminate() dispatcher pattern: an adversarially large user
    dimension must not OOM the driver) — then a partial-agg MIN per
    user. No windows, no per-user sequences materialized; the funnel
    is |stages| chained filter+join+agg passes. Counts are integers;
    conversion ratios divide identical integers (engine-exact
    doubles), and a zero top stage yields NULL on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    frames, stage_counts = funnel_stage_frames(ev, _FUNNEL_STAGES)
    # the report is literal driver-side rows once the counts are
    # collected — the persisted stage frames have no further consumer,
    # so release their executor storage immediately (review r7: the
    # old memoized-lazy result kept them live; this one must not)
    for f in frames:
        f.unpersist()
    return _funnel_report(spark, _FUNNEL_STAGES, stage_counts)


# Above this many users in a stage frame, the next stage joins by
# shuffle instead of broadcast. 5M users x ~24 bytes is low-hundreds
# of MB executor-side — the ceiling for "safely broadcastable".
_FUNNEL_BROADCAST_MAX_USERS = 5_000_000


def funnel_stage_frames(
    ev: DataFrame,
    stages: list[str],
    broadcast_max_users: int = _FUNNEL_BROADCAST_MAX_USERS,
) -> tuple[list[DataFrame], list[int]]:
    """Build the chained per-stage (user_id, first qualifying ts)
    frames and their user counts. Each stage frame is consumed twice
    (next stage's build + its count), so it persists; the count action
    both materializes the persist and decides — size-gated — whether
    the NEXT stage joins it broadcast (small) or by shuffle (an
    adversarially large user dimension). Both paths are
    hash-equivalent (tests/test_linkage_timeseries.py)."""
    frames: list[DataFrame] = []
    counts: list[int] = []
    prev: DataFrame | None = None
    prev_n = 0
    for st in stages:
        cur = ev.filter(F.col("event_type") == st).select(
            "user_id", F.col("ts").alias("ets")
        )
        if prev is not None:
            # strict <: broadcast_max_users=0 must force EVERY join to
            # shuffle (the test's forced-shuffle mode), including an
            # empty stage frame
            right = (
                F.broadcast(prev)
                if prev_n < broadcast_max_users
                else prev
            )
            cur = (
                cur.join(right, "user_id")
                .filter(F.col("ets") > F.col("t"))
                .select("user_id", "ets")
            )
        stage = cur.groupBy("user_id").agg(F.min("ets").alias("t")).persist()
        n = stage.count()
        frames.append(stage)
        counts.append(n)
        prev, prev_n = stage, n
    return frames, counts


def _funnel_report(
    spark: SparkSession, stages: list[str], counts: list[int]
) -> DataFrame:
    """Assemble the |stages|-row funnel report from the already
    collected per-stage counts (3 scalars — no extra jobs)."""
    rows = spark.createDataFrame(
        [(i, st, n) for i, (st, n) in enumerate(zip(stages, counts), 1)],
        "stage_idx int, stage string, n_users bigint",
    )
    n_top = counts[0] if counts else 0
    ratio = F.when(
        F.lit(n_top) > 0,
        F.col("n_users").cast("double") / F.lit(n_top),
    )  # otherwise NULL — matches the oracle's NULLIF denominator
    return rows.select(
        "stage_idx", "stage", "n_users", ratio.alias("conversion_from_top")
    )


_ATTR_LOOKBACK = "INTERVAL 7 DAYS"  # Spark spelling; oracle uses 7 DAY


@query(
    "events_attribution",
    oracle="""
WITH touches AS (
    -- attribution needs all three keys: a NULL user can't join, a NULL
    -- ts can't order, a NULL event_id breaks the tiebreak — pin the
    -- contract identically on both engines (NULL-events fixture)
    SELECT user_id, ts, event_id, event_type FROM events
    WHERE event_type IN ('view', 'click')
      AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
),
conv AS (
    SELECT user_id, ts, event_id FROM events
    WHERE event_type = 'purchase'
      AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
),
attributed AS (
    SELECT t.event_type AS channel,
           ROW_NUMBER() OVER (PARTITION BY c.user_id, c.event_id
                              ORDER BY t.ts ASC, t.event_id ASC) AS rn_first,
           ROW_NUMBER() OVER (PARTITION BY c.user_id, c.event_id
                              ORDER BY t.ts DESC, t.event_id DESC) AS rn_last
    FROM conv c JOIN touches t
      ON t.user_id = c.user_id
     AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 7 DAY
)
SELECT channel,
       COUNT(CASE WHEN rn_first = 1 THEN 1 END) AS first_touch,
       COUNT(CASE WHEN rn_last = 1 THEN 1 END) AS last_touch
FROM attributed
GROUP BY channel
""",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase is credited to the FIRST
    and the LAST view/click touch by the same user in the 7 days up to
    (and including) the purchase; output is conversions credited per
    channel under each model. Ties on the touch timestamp break by
    event_id, so the credit assignment is total-ordered and hash-exact.

    Shape at scale: one equi-join on user_id (range predicate applied
    row-locally inside the join) — the per-user touches-x-purchases
    blowup is bounded by the 7-day window, the same containment
    argument as events_range_join; both ranking windows partition by
    (user_id, purchase event_id), a SUPERSET of the join key, so the
    join's hash partitioning already satisfies their distribution and
    neither window adds an exchange. The final groupBy collapses to
    |channels| rows. Counts are integers — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    keyed = (
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    # both sides derive from the same scan: rename the touch-side key so
    # the join predicate resolves by NAME, never by ambiguous lineage
    touches = ev.filter(
        F.col("event_type").isin("view", "click") & keyed
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    conv = ev.filter((F.col("event_type") == "purchase") & keyed).select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    joined = conv.join(
        touches,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_ts") <= F.col("c_ts"))
        & (F.col("t_ts") >= F.col("c_ts") - F.expr(_ATTR_LOOKBACK)),
    )
    by_conv = Window.partitionBy("user_id", "c_id")
    w_first = by_conv.orderBy(
        F.col("t_ts").asc(), F.col("t_id").asc()
    )
    w_last = by_conv.orderBy(
        F.col("t_ts").desc(), F.col("t_id").desc()
    )
    return (
        joined.select(
            "channel",
            F.row_number().over(w_first).alias("rn_first"),
            F.row_number().over(w_last).alias("rn_last"),
        )
        .groupBy("channel")
        .agg(
            F.count(F.when(F.col("rn_first") == 1, 1)).alias("first_touch"),
            F.count(F.when(F.col("rn_last") == 1, 1)).alias("last_touch"),
        )
    )


_CONTRIB_CAP = 20

# Shared with the live twin streaming_capped_contrib_live.
_CAPPED_ORACLE = f"""
WITH per_user AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id, event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n) AS BIGINT) AS raw_events,
       CAST(SUM(LEAST(n, {_CONTRIB_CAP})) AS BIGINT) AS capped_events,
       CAST(COUNT(CASE WHEN n > {_CONTRIB_CAP} THEN 1 END) AS BIGINT)
           AS n_capped_users
FROM per_user GROUP BY event_type
"""


def _capped_rollup(per_user: DataFrame) -> DataFrame:
    """The cap-and-rollup over per-(user_id, event_type) counts ``n``:
    per event type, the user count, raw and capped event totals, and
    how many users hit _CONTRIB_CAP. Shared by the batch
    events_capped_contributions and the live
    streaming_capped_contrib_live, which differ only in where the
    counts come from (a table scan, or a drained stream aggregation)."""
    return per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("raw_events"),
        F.sum(F.least(F.col("n"), F.lit(_CONTRIB_CAP)))
        .cast("bigint")
        .alias("capped_events"),
        F.count(F.when(F.col("n") > _CONTRIB_CAP, 1))
        .cast("bigint")
        .alias("n_capped_users"),
    )


@query("events_capped_contributions", oracle=_CAPPED_ORACLE)
def events_capped_contributions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contribution bounding — the aggregation shape
    differential-privacy and abuse-robust analytics pipelines use: no
    user may contribute more than 20 events (_CONTRIB_CAP) to a
    per-type total, so one hyperactive user (or bot) cannot dominate the
    statistic. Reports, per event type, the user count, the raw and
    capped event totals, and how many users hit the cap — the clip
    rate an operator watches to tune the bound.

    Shape at scale: two chained partial-aggregable groupBys — first on
    (user_id, event_type) (the fact-table exchange; map-side combine
    collapses each user's events before shuffling), then the capped
    rollup on event_type over the user-sized intermediate. No window,
    no distinct, no join. NULL user_id and NULL event_type each form
    their own group on both engines, so unattributed events are
    bounded too rather than silently dropped. Counts are integers —
    engine-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return _capped_rollup(per_user)


@query(
    "experiment_readout",
    oracle="""
WITH users AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
arms AS (
    SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(converted) AS BIGINT) AS n_converted
    FROM users GROUP BY user_id % 2
),
ctl AS (SELECT n_users AS n0, n_converted AS c0 FROM arms WHERE arm = 0)
SELECT arm, n_users, n_converted,
       CAST(n_converted AS DOUBLE) / n_users AS conv_rate,
       CAST(n_converted AS DOUBLE) / n_users
           - CAST(c0 AS DOUBLE) / n0 AS lift_vs_control,
       CASE WHEN arm = 0 THEN NULL
            WHEN sqrt((CAST(n_converted + c0 AS DOUBLE) / (n_users + n0))
                      * (1 - CAST(n_converted + c0 AS DOUBLE)
                             / (n_users + n0))
                      * (1.0 / n_users + 1.0 / n0)) = 0 THEN NULL
            ELSE (CAST(n_converted AS DOUBLE) / n_users
                  - CAST(c0 AS DOUBLE) / n0)
                 / sqrt((CAST(n_converted + c0 AS DOUBLE) / (n_users + n0))
                        * (1 - CAST(n_converted + c0 AS DOUBLE)
                               / (n_users + n0))
                        * (1.0 / n_users + 1.0 / n0))
       END AS z_vs_control
FROM arms CROSS JOIN ctl
""",
)
def experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split into two arms by a
    deterministic id hash (user_id % 2 — in production a salted hash,
    same shape), conversion = the user has any purchase event; per arm
    the user count, conversions, conversion rate, lift vs the control
    arm, and the pooled two-proportion z statistic — the table an
    experimentation platform serves for every metric.

    Numeric policy: all counts are integers; every double is a single
    expression over identical integers written in the SAME operation
    order on both engines (IEEE division/multiplication and correctly
    rounded sqrt are bit-deterministic given identical operands), and
    the z denominator guards the all-or-none-converted case to NULL on
    both engines rather than Spark-Infinity vs DuckDB-NULL.

    Shape at scale: one partial-aggregable groupBy on user_id (the
    fact exchange; MAX(converted) collapses map-side), one 2-row arm
    rollup, and a broadcast of the 1-row control frame — no window, no
    fact-table join. NULL user_id is excluded on both engines: an
    unattributable event cannot belong to an arm.
    """
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
    )
    arms = users.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    ctl = arms.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("n0"), F.col("n_converted").alias("c0")
    )
    rate = F.col("n_converted").cast("double") / F.col("n_users")
    rate0 = F.col("c0").cast("double") / F.col("n0")
    pooled = (F.col("n_converted") + F.col("c0")).cast("double") / (
        F.col("n_users") + F.col("n0")
    )
    den = F.sqrt(
        pooled
        * (F.lit(1) - pooled)
        * (F.lit(1.0) / F.col("n_users") + F.lit(1.0) / F.col("n0"))
    )
    z = (
        F.when(F.col("arm") == 0, F.lit(None).cast("double"))
        .when(den == 0, F.lit(None).cast("double"))
        .otherwise((rate - rate0) / den)
    )
    return arms.crossJoin(F.broadcast(ctl)).select(
        "arm",
        "n_users",
        "n_converted",
        rate.alias("conv_rate"),
        (rate - rate0).alias("lift_vs_control"),
        z.alias("z_vs_control"),
    )
