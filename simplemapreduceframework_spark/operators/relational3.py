"""TPC-H "hard shape" queries (the decorrelation patterns a real user
hits next, reference ROADMAP #7), the other SQL-text capabilities, and
the data-quality and privacy reports.

The TPC-H shapes are Q2, Q7, Q8, Q9, Q11, Q13, Q15, Q17, Q19, Q20, Q21
and Q22, each re-anchored on lineitem where the synthetic schema lacks
partsupp or commit/receipt dates. They, the ordered funnel, GROUPING
SETS, LATERAL, RANGE frames, distribution windows, the recursive CTE
and the MAD outlier, skew and RFM reports are each one ``sql_query``
row: the DuckDB oracle is its SQL text, and Spark runs that text unless
the row names an engine text (a rewrite that hash-matches the oracle,
or a dialect shim) — proving Catalyst's subquery decorrelation
(scalar-subquery -> aggregate+join, EXISTS -> semi join, NOT EXISTS ->
anti join) yields exactly the ANSI semantics. The z-score outliers,
table profile, expectation suite and privacy triad are DataFrame-API
bodies.

Numeric policy per functions/columns.py: money sums in exact decimals,
doubles only at the output/comparison step, divisions of identical
values; l_quantity is integral (pinned by the probe in round 6), so
double AVG/SUM over it is order-independent and engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query, sql_query
from ..functions.scale import broadcast_dim, table_rows
from ..session_memo import per_session, shared_frame
from ..sources import load_table

# Q2 shape: for each large part, the supplier(s) selling it at the
# minimum observed unit price — a correlated scalar MIN subquery.
# Catalyst decorrelates to: per-part min aggregate + two joins (no
# per-row subquery execution); at 100 TB the aggregate is a partial/
# final hash agg on l_partkey and the equality join broadcasts
# part/supplier/nation dimensions.
_Q30_SQL = """
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
       l.l_extendedprice / l.l_quantity AS unit_price
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_size >= 48
  AND l.l_extendedprice / l.l_quantity = (
      SELECT MIN(l2.l_extendedprice / l2.l_quantity)
      FROM lineitem l2
      WHERE l2.l_partkey = p.p_partkey)
"""

# Q11 shape: per-part stock value filtered against a *global* scalar
# aggregate (HAVING sum > fraction-of-total). The inner CTE is shared
# by the group rows and the scalar; the value sums are exact decimals
# (integer-cent-safe), cast to double only for the output and the
# threshold comparison, so both engines compare identical doubles.
_Q31_SQL = """
WITH pv AS (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2))) AS v
    FROM lineitem
    GROUP BY l_partkey
)
SELECT l_partkey, CAST(v AS DOUBLE) AS stock_value
FROM pv
WHERE CAST(v AS DOUBLE) > CAST(0.0002 AS DOUBLE)
      * (SELECT CAST(SUM(v) AS DOUBLE) FROM pv)
"""

# Q21 shape: suppliers who were the sole "failing" supplier on a
# multi-supplier order — one EXISTS (another supplier participated)
# plus one NOT EXISTS (no other supplier failed). Catalyst plans the
# EXISTS as a left-semi and the NOT EXISTS as a left-anti join on
# l_orderkey; counts only, so the result is engine-exact.
_Q32_SQL = """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""

sql_query(
    "q30_min_cost_supplier", _Q30_SQL,
    """TPC-H Q2 shape: correlated scalar MIN subquery, decorrelated by
    Catalyst into a per-part min aggregate joined back to the probe.""")

sql_query(
    "q31_important_stock", _Q31_SQL,
    """TPC-H Q11 shape: group rows filtered against a global scalar
    subquery over the same aggregate (fraction-of-total HAVING).""")

sql_query(
    "q32_suppliers_who_kept_waiting", _Q32_SQL,
    """TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact table
    (semi join + anti join on the order key), top-20 by count.""")

# Q22 shape: scalar AVG subquery in the predicate + NOT EXISTS anti
# join, grouped by a derived segment key — the "global-threshold filter
# then anti join" decorrelation combo. Balance sums are exact decimals;
# the AVG threshold compares identical doubles in both engines.
_Q33_SQL = """
WITH rich AS (
    SELECT SUBSTR(c_mktsegment, 1, 2) AS seg, c_custkey, c_acctbal
    FROM customer
    WHERE CAST(c_acctbal AS DOUBLE) > (
        SELECT CAST(AVG(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey)
)
SELECT seg,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM rich
GROUP BY seg
ORDER BY seg
"""

sql_query(
    "q33_global_sales_opportunity", _Q33_SQL,
    """TPC-H Q22 shape: customers above the global positive-balance
    average with no orders — scalar AVG subquery (computed once,
    broadcast into the predicate) combined with a NOT EXISTS anti join,
    then a segment rollup.""")

# Funnel analysis over the event stream: users who completed
# view -> click -> purchase in timestamp order. Each step's earliest
# qualifying time is a conditional MIN — one shuffle on user_id, no
# self-joins — and step order is enforced by comparing those minima.
# (The classic sessionized funnel at 100 TB: conditional aggregation
# beats k-way self-joins because state per user is 3 timestamps.)
_Q34_SQL = """
WITH steps AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
),
funnel AS (
    SELECT user_id,
           t_view IS NOT NULL AS did_view,
           t_view IS NOT NULL AND t_click > t_view AS did_click,
           t_view IS NOT NULL AND t_click > t_view
             AND t_purchase > t_click AS did_purchase
    FROM steps
)
SELECT CAST(COUNT(CASE WHEN did_view THEN 1 END) AS BIGINT) AS n_view,
       CAST(COUNT(CASE WHEN did_click THEN 1 END) AS BIGINT) AS n_view_click,
       CAST(COUNT(CASE WHEN did_purchase THEN 1 END) AS BIGINT) AS n_full_funnel
FROM funnel
"""

sql_query(
    "q34_event_funnel", _Q34_SQL,
    """Ordered funnel (view -> click -> purchase) via conditional MIN
    aggregation: one exchange on user_id and three timestamps of state
    per user — the scalable alternative to k-way self-joins. NULL
    comparison semantics (NULL > x -> NULL -> false in the step flags)
    are identical in both engines.""")

# Custom GROUPING SETS (beyond rollup/cube): an explicit lattice of
# aggregation levels with GROUPING() flags disambiguating real NULLs
# from subtotal rows.
_Q35_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), (o_orderpriority))
"""

sql_query(
    "q35_grouping_sets", _Q35_SQL,
    """Explicit GROUPING SETS lattice with GROUPING() flags — the
    general form of rollup/cube (q10/q11): the engine expands the row
    once per set (Expand node) and aggregates all levels in one
    shuffle, instead of one job per level.""")

# LATERAL join: a correlated subquery in the FROM clause — per
# customer, their two most expensive orders. Catalyst decorrelates the
# lateral into a ranked window join; DuckDB executes the lateral
# directly; results agree exactly.
_Q36_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 2
) t
WHERE c.c_custkey % 100 = 0
"""

sql_query(
    "q36_lateral_topn", _Q36_SQL,
    """LATERAL (correlated table subquery in FROM): per-customer top-2
    orders. The declarative form a user writes; the engine plans the
    same ranked-window shape as q8 rather than executing the subquery
    per row.""")

# RANGE window frames (value-based, not row-based): per customer, the
# rolling 30-day order total — every ROWS frame in q20 bounds by row
# count; a RANGE frame bounds by ORDER-BY value, the shape rolling
# time-window analytics actually needs.
_Q37_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(o_orderdate AS DATE)
           RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rolling_30d_total,
       CAST(COUNT(*) OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(o_orderdate AS DATE)
           RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS rolling_30d_orders
FROM orders
WHERE o_custkey % 40 = 0
"""

sql_query(
    "q37_range_frame_window", _Q37_SQL,
    """RANGE window frame: the frame is bounded by ORDER-BY *value*
    (orders within the preceding 30 days), not row offsets — peers with
    the same date all see the same frame, which ROWS frames get wrong.
    Decimal sums keep the rolling totals engine-exact. Same SQL text in
    both engines.""")

# TPC-H Q19 shape: a disjunction of per-branch conjunctions mixing
# fact and dimension predicates — the classic test that the optimizer
# (a) pushes the dimension-only parts of the OR into the part scan,
# (b) derives the relaxed fact-side bound for the lineitem scan, and
# (c) still broadcasts the dimension. Same SQL text in both engines;
# money arithmetic all-decimal per the numeric policy.
_Q38_SQL = """
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(3,2)))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 5 AND 25)
   OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_type = 'PROMO' AND p_size BETWEEN 20 AND 40 AND l_quantity >= 20)
GROUP BY p_brand
"""

sql_query(
    "q38_disjunctive_predicate", _Q38_SQL,
    """Disjunctive mixed-table predicate (TPC-H Q19 shape): three OR'd
    branches, each a conjunction over both join sides. Catalyst
    factors the disjunction per table and pushes the RELAXED OR into
    BOTH parquet scans (the l_quantity branch-bounds reach lineitem,
    the brand/size branches reach part — asserted in test_plans), then
    applies the exact mixed predicate after the broadcast join. At
    100 TB that scan-level OR is the difference between reading three
    brands' row groups and reading the table: one pass over lineitem,
    one broadcast, one partial/final agg. Identical SQL text runs on
    both engines.""")


@query(
    "events_outlier_zscore",
    oracle="""
WITH stats AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS sv,
           SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxx
    FROM events GROUP BY event_type
),
m AS (
    SELECT event_type,
           CAST(sv AS DOUBLE) / n AS mean,
           sqrt(GREATEST(CAST(sxx AS DOUBLE) / n
                - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n),
                0.0)) AS sd
    FROM stats
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - m.mean) / m.sd AS z,
       ABS((e.value - m.mean) / m.sd) > 3.0 AS is_outlier
FROM events e JOIN m ON m.event_type = e.event_type
""",
)
def events_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group outlier detection: each event's z-score against its
    event_type's population mean/stddev, with a |z| > 3 flag — the
    monitoring pass a pipeline runs over metrics at ingest.

    Numeric policy: the moment sums are DECIMAL (order-independent,
    engine-exact); mean/variance/stddev then derive in doubles through
    identical expression trees, so every z and every boolean matches
    DuckDB bit-for-bit. Shape at scale: one partial-aggregated groupBy
    collapses the fact table to a per-type stats row (constant state),
    which broadcasts back onto the fact scan — no window over hot
    type-partitions, no second shuffle; the fact table is scanned, not
    shuffled.
    """
    from pyspark.sql import functions as F

    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("sv"),
        F.sum(dec * dec).alias("sxx"),
    )
    mean = F.col("sv").cast("double") / F.col("n")
    # clamp at 0: for a degenerate group (single row / constant value)
    # E[x^2] - mean^2 can cancel to a few ulps below zero, where DuckDB
    # sqrt raises and Spark returns NaN — GREATEST(..., 0.0) in the
    # identical position on both sides keeps them bit-equal (sd 0).
    m = stats.select(
        "event_type",
        mean.alias("mean"),
        F.sqrt(
            F.greatest(
                F.col("sxx").cast("double") / F.col("n") - mean * mean,
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    return (
        ev.join(F.broadcast(m), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            z.alias("z"),
            (F.abs(z) > 3.0).alias("is_outlier"),
        )
    )


# MAD outliers: one SQL text, run verbatim on both engines. Everything
# is decimal/integer-exact: medians are DISCRETE (percentile_disc picks
# an actual data value, no interpolation to disagree on — Spark returns
# it as a double, so the cast back to DECIMAL(18,2) re-pins the exact
# 2-decimal data value on both engines), deviations
# are decimal subtractions, and the 3 x 1.4826 sigma-equivalence factor
# enters as the exact integer cross-multiplication 10000*adev >
# 44478*mad — no doubles anywhere in the decision.
_MAD_SQL = """
WITH med AS (
    SELECT event_type,
           CAST(percentile_disc(0.5)
               WITHIN GROUP (ORDER BY CAST(value AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS med
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_id, e.event_type, e.value, m.med,
           ABS(CAST(e.value AS DECIMAL(18,2)) - m.med) AS adev
    FROM events e JOIN med m ON m.event_type = e.event_type
),
mad AS (
    SELECT event_type,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)
               AS DECIMAL(18,2)) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value,
       -- decimal stays INTERNAL (the exact integer cross-multiply
       -- below); the projection pins med/mad to fixed-scale STRING
       -- (an alias both engines accept) — DecimalType output columns
       -- are banned registry-wide (testing.type_pin_problems)
       CAST(d.med AS STRING) AS med, CAST(a.mad AS STRING) AS mad,
       10000 * d.adev > 44478 * a.mad AS is_outlier
FROM dev d JOIN mad a ON a.event_type = d.event_type
"""


# Engine-side text (r17): the oracle's `dev` CTE is referenced twice
# (the MAD aggregate and the final projection) and its own `med` scan
# makes FOUR fact scans once Spark inlines the CTEs. Folding med into
# the MAD aggregate (MAX over the per-type-constant med) and
# recomputing the deviation inline in the final projection drops that
# to THREE scans: med, the MAD aggregate's deviation pass, and the
# output pass — each remaining scan does irreducible work (two exact
# per-type medians need two ordered passes; the per-row verdict needs
# the rows). All decimal arithmetic is identical expression-for-
# expression with the oracle, so the hash contract is unchanged.
_MAD_ENGINE_SQL = """
WITH med AS (
    SELECT event_type,
           CAST(percentile_disc(0.5)
               WITHIN GROUP (ORDER BY CAST(value AS DECIMAL(18,2)))
               AS DECIMAL(18,2)) AS med
    FROM events GROUP BY event_type
),
mad AS (
    SELECT e.event_type,
           CAST(percentile_disc(0.5) WITHIN GROUP (
               ORDER BY ABS(CAST(e.value AS DECIMAL(18,2)) - m.med))
               AS DECIMAL(18,2)) AS mad,
           MAX(m.med) AS med
    FROM events e JOIN med m ON m.event_type = e.event_type
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       CAST(a.med AS STRING) AS med, CAST(a.mad AS STRING) AS mad,
       10000 * ABS(CAST(e.value AS DECIMAL(18,2)) - a.med)
           > 44478 * a.mad AS is_outlier
FROM events e JOIN mad a ON a.event_type = e.event_type
"""

sql_query(
    "events_outlier_mad", _MAD_SQL, engine=_MAD_ENGINE_SQL,
    doc="""Robust per-group outlier detection: median absolute deviation
    with the 1.4826 normal-consistency factor — the heavy-tail-safe
    twin of events_outlier_zscore (a single wild value shifts a mean
    and explodes a stddev, but moves neither median).

    Shape at scale: two partial-aggregated groupBys over the fact scan
    (median, then MAD of deviations) each collapsing to one row per
    type, broadcast back onto the scan; exact medians sort within
    groups only. The monitoring deployment at 100 TB would swap
    percentile_disc for approx_percentile (the approx_distinct_gate
    pattern) once group cardinality exceeds executor sort memory.
    The engine text folds med into the MAD aggregate so the plan scans
    the fact table 3x instead of the oracle text's 4x (see
    _MAD_ENGINE_SQL); every decimal expression is identical, so
    results hash-match the oracle.
    """)

# Data profiling: per-column statistics as one UNION ALL of per-column
# aggregates, each a partial-aggregated scan — the ANALYZE TABLE /
# data-catalog pass. Exact distinct counts here (each column its own
# aggregate, so no multi-distinct Expand blowup); the 100 TB default
# would flip to approx_count_distinct per the approx_distinct_gate
# pattern. One SQL text, both engines; min/max rendered as strings so
# every profiled type shares a schema.
_PROFILE_COLS = ["l_returnflag", "l_shipdate", "l_quantity", "l_partkey"]
_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value
FROM lineitem"""
    for c in _PROFILE_COLS
)


# r17 optimization, step 2 (step 1 batched all 4 columns into one
# scan): the batched countDistinct+min/max aggregate compiled to a
# fact-scale SORT — Catalyst's multi-distinct rewrite groups the
# Expand output by (value columns, gid), and min/max over the STRING
# column's immutable buffer pushes the whole partial aggregate from
# HashAggregate to SortAggregate, i.e. 5N expanded rows sorted before
# aggregating. The explicit grouping-sets form below keeps the
# fact-scale pass all-long-buffer (count only -> HashAggregate, no
# Sort anywhere at fact scale) and computes min/max/distinct on the
# second-stage input, which is one row per DISTINCT VALUE (min over
# the distinct values == min over all values): Expand x4 instead of
# x5, scans unchanged at 1. A deployment profiling MANY columns rides
# the same dial (Expand factor = column count) or flips to
# approx_count_distinct (no Expand at all).


def _profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Profile ``cols`` in ONE scan and NO fact-scale sort: a
    grouping-sets aggregate (one set per column) counts rows per
    distinct value — string grouping KEYS hash fine; it is string
    aggregation BUFFERS that force SortAggregate — then a global
    aggregate over the distinct-value rows derives each column's
    stats (n_rows = sum of its set's counts, n_null = the NULL-key
    count, n_distinct = non-null key count, min/max over the keys on
    the NATIVE type, stringified after). The 1-row result unpivots
    into one row per column via an explode over literal structs (a
    projection of the SAME 1-row frame — never a self-union, which
    Catalyst would inline into a second scan)."""
    n = len(cols)
    sets = (
        df.groupingSets([[c] for c in cols], *[F.col(c) for c in cols])
        .agg(F.count(F.lit(1)).alias("cnt"), F.grouping_id().alias("gid"))
    )
    # grouping_id bit i (MSB-first over ``cols``) is 0 iff that column
    # is grouped; each single-column set therefore has all bits set
    # except its own.
    gids = {c: (2**n - 1) ^ (1 << (n - 1 - i)) for i, c in enumerate(cols)}
    aggs = []
    for c in cols:
        gid = F.col("gid") == gids[c]
        aggs += [
            # coalesce: over an EMPTY table the grouping-sets frame has
            # zero rows, so every sum is NULL while the oracle's
            # COUNT(*) arms yield 0 (the documented all-zero identity
            # row per column)
            F.coalesce(
                F.sum(F.when(gid, F.col("cnt"))), F.lit(0)
            ).alias(f"nr_{c}"),
            F.coalesce(
                F.sum(F.when(gid & F.col(c).isNull(), F.col("cnt"))),
                F.lit(0),
            ).alias(f"nn_{c}"),
            F.count(F.when(gid, F.col(c))).alias(f"nd_{c}"),
            F.min(F.when(gid, F.col(c))).cast("string").alias(f"min_{c}"),
            F.max(F.when(gid, F.col(c))).cast("string").alias(f"max_{c}"),
        ]
    one = sets.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"nr_{c}").alias("n_rows"),
            F.col(f"nn_{c}").alias("n_null"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"min_{c}").alias("min_value"),
            F.col(f"max_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


@query("table_profile", oracle=_PROFILE_SQL)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the fact table: row count, null
    count, exact distinct cardinality, and min/max per profiled column
    — the statistics a catalog (or a CBO) maintains per table.

    All 4 profiled columns share ONE fact scan (plan-asserted) and the
    fact-scale pass is a pure HashAggregate: an explicit grouping-sets
    aggregate (one set per column, Expand x4) counts rows per distinct
    value, and the per-column stats — including min/max, whose string
    buffers would otherwise force a fact-scale SortAggregate+Sort —
    are derived from the distinct-value rows in the second stage (see
    _profile_columns). A run profiling many more columns rides the
    Expand-factor dial (one replica per column) or flips to
    approx_count_distinct (no Expand at all) per the
    approx_distinct_gate pattern. The
    oracle keeps the one-arm-per-column UNION ALL form (DuckDB has no
    Expand concern); min/max stringified so heterogeneous column types
    union cleanly — Spark's CAST AS STRING renders dates/decimals
    identically to DuckDB's AS VARCHAR for these types, and min/max
    evaluate on the NATIVE type before the cast so numeric columns
    never compare lexicographically.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return _profile_columns(li, list(_PROFILE_COLS))


_Q39_SQL = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - CAST(l.l_discount AS DECIMAL(3,2)) AS DECIMAL(3,2)))
            AS DOUBLE) AS volume,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE sn.n_name IN ('NATION_18', 'NATION_19')
  AND cn.n_name IN ('NATION_18', 'NATION_19')
  AND sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name, o_year
"""

sql_query(
    "q39_nation_volume", _Q39_SQL,
    """Cross-nation shipping volume (TPC-H Q7 shape): revenue flowing
    between two chosen nations, by direction and order year — the
    two-aliases-of-one-dimension pattern (nation joins the fact twice,
    once through supplier, once through customer).

    Shape at scale: supplier, customer, and both nation aliases are
    broadcast (the nation IN-filters prune each alias before its
    broadcast builds, and Catalyst pushes the derived supplier/customer
    key sets down); the only fact-scale exchange is orders<->lineitem
    on the order key. Decimal revenue sums are order-independent.
    Identical SQL text runs on both engines.
    """)

_Q40_SQL = """
SELECT o_custkey, o_orderkey,
       PERCENT_RANK() OVER wp AS price_pct_rank,
       CUME_DIST() OVER wp AS price_cume_dist,
       FIRST_VALUE(o_orderkey) OVER wf AS cheapest_order,
       LAST_VALUE(o_orderkey) OVER wf AS priciest_order,
       NTH_VALUE(o_orderkey, 2) OVER wf AS second_cheapest_order
FROM orders
WHERE o_custkey % 20 = 0
WINDOW wp AS (PARTITION BY o_custkey
              ORDER BY o_totalprice ASC, o_orderkey ASC),
       wf AS (PARTITION BY o_custkey
              ORDER BY o_totalprice ASC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

sql_query(
    "q40_window_distribution", _Q40_SQL,
    """Distribution-function window gauntlet: PERCENT_RANK, CUME_DIST,
    FIRST_VALUE / LAST_VALUE / NTH_VALUE over an explicit unbounded
    frame — the window family q20_window_suite doesn't cover.

    Both distribution functions are ratios of the SAME integers
    ((rank-1)/(n-1), rows<=current/n) so the doubles match DuckDB
    bit-for-bit; the value functions pick actual o_orderkey values
    under a tie-broken total order. All windows share one partition
    key -> one exchange + sort. Identical SQL text on both engines.
    """)

_SKEW_COLS = ["l_returnflag", "l_suppkey", "l_partkey", "l_quantity"]
_SKEW_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       t.n_rows,
       m.top_value,
       m.top_count,
       CAST(m.top_count AS DOUBLE) / t.n_rows AS top_share
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem) t
CROSS JOIN (
    SELECT CAST({c} AS VARCHAR) AS top_value,
           CAST(COUNT(*) AS BIGINT) AS top_count
    FROM lineitem GROUP BY {c}
    ORDER BY top_count DESC, top_value ASC LIMIT 1
) m"""
    for c in _SKEW_COLS
)
_SKEW_ENGINE_SQL = _SKEW_SQL.replace("AS VARCHAR", "AS STRING")

sql_query(
    "table_skew_report", _SKEW_SQL, engine=_SKEW_ENGINE_SQL,
    doc="""Hot-key skew report: each grouping candidate column's most
    frequent value and its share of the table — the statistic that
    decides between a plain groupBy, AQE skew handling, and the salted
    two-stage aggregate (skewed_agg_salted): l_returnflag's top share
    is ~1/3 (salt it), l_partkey's is ~1/|parts| (don't).

    Each UNION ALL arm is one partial-aggregated groupBy collapsing to
    a single TakeOrdered row plus a count — never a global sort; at
    100 TB the same report runs with approx top-k (CMS heavy hitters)
    per the cms_heavy_hitters pattern. Ratios divide identical
    integers. Spark runs _SKEW_ENGINE_SQL, the oracle text with the
    dialect's string cast (AS STRING for AS VARCHAR).
    """)

_Q41_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(3,2)))
               AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM supplier s
JOIN revenue r ON r.supplier_no = s.s_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""

sql_query(
    "q41_top_supplier", _Q41_SQL,
    """Top supplier by quarterly revenue (TPC-H Q15 shape): an
    aggregate view consumed twice — once joined to the dimension, once
    reduced to a global scalar MAX that filters it.

    Catalyst plans the scalar subquery as a one-row subquery reuse
    (the revenue aggregate computes once under AQE exchange reuse, not
    twice); revenue sums are DECIMAL so the MAX-equality filter
    compares exact values, never float-rounded ones — the classic Q15
    trap where a double revenue makes "equal to max" nondeterministic.
    The only fact-scale exchange is the groupBy on l_suppkey; the
    supplier dimension broadcasts. Identical SQL text on both engines.
    """)

# RFM segmentation: one SQL text, both engines. Quartile thresholds are
# three DISCRETE percentiles per metric (scalar subqueries -> broadcast
# one-row frame), and each customer's scores are row-local comparisons
# against them — the scale-correct alternative to a global NTILE
# window (which would funnel every customer through one task; compare
# curriculum_schedule's ranking note). percentile_disc returns DOUBLE
# in Spark, so each threshold re-pins to its exact integral/decimal
# type, the events_outlier_mad discipline.
_RFM_SQL = """
WITH base AS (
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary,
           MAX(o_orderdate) AS last_order
    FROM orders GROUP BY o_custkey
),
refd AS (SELECT MAX(last_order) AS ref FROM base),
rfm AS (
    SELECT b.o_custkey, b.frequency, b.monetary,
           (CAST(FLOOR(epoch(r.ref)) AS BIGINT)
            - CAST(FLOOR(epoch(b.last_order)) AS BIGINT)) // 86400
               AS recency_days
    FROM base b CROSS JOIN refd r
),
q AS (
    SELECT
      CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY recency_days) AS BIGINT) AS r1,
      CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY recency_days) AS BIGINT) AS r2,
      CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY recency_days) AS BIGINT) AS r3,
      CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY frequency) AS BIGINT) AS f1,
      CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY frequency) AS BIGINT) AS f2,
      CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY frequency) AS BIGINT) AS f3,
      CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY monetary) AS DECIMAL(18,2)) AS m1,
      CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY monetary) AS DECIMAL(18,2)) AS m2,
      CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY monetary) AS DECIMAL(18,2)) AS m3
    FROM rfm
)
SELECT rfm.o_custkey,
       rfm.recency_days, rfm.frequency,
       CAST(rfm.monetary AS DOUBLE) AS monetary,
       -- recency scores high when RECENT: invert the bucket
       4 - (CAST(rfm.recency_days > q.r1 AS INT)
            + CAST(rfm.recency_days > q.r2 AS INT)
            + CAST(rfm.recency_days > q.r3 AS INT)) AS r_score,
       1 + CAST(rfm.frequency > q.f1 AS INT)
         + CAST(rfm.frequency > q.f2 AS INT)
         + CAST(rfm.frequency > q.f3 AS INT) AS f_score,
       1 + CAST(rfm.monetary > q.m1 AS INT)
         + CAST(rfm.monetary > q.m2 AS INT)
         + CAST(rfm.monetary > q.m3 AS INT) AS m_score
FROM rfm CROSS JOIN q
"""
# dialect shims: DuckDB's epoch()/'//' -> Spark's unix_timestamp()/div
_RFM_ENGINE_SQL = _RFM_SQL.replace("epoch(", "unix_timestamp(").replace(
    " // ", " div "
)

sql_query(
    "customer_rfm_segments", _RFM_SQL, engine=_RFM_ENGINE_SQL,
    doc="""RFM segmentation: every customer scored 1-4 on recency,
    frequency, and monetary value against corpus quartiles — the
    marketing-analytics workload every activity warehouse runs.

    Shape at scale: the per-customer rollup is one partial-aggregated
    groupBy; the nine quartile thresholds collapse to a single row
    that CROSS JOINs (broadcasts) back onto the customer frame, where
    scoring is row-local integer comparisons — no global NTILE window,
    no per-metric sort of the full table beyond the three in-group
    percentile sorts. Recency is integer epoch-day arithmetic with the
    explicit FLOOR (DuckDB double->bigint casts round, Spark
    truncates). Spark runs _RFM_ENGINE_SQL, the oracle text with the
    dialect's epoch and integer division (unix_timestamp( for epoch(,
    div for //).
    """)

_Q42_SQL = """
SELECT n.n_name AS nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - CAST(l.l_discount AS DECIMAL(3,2)) AS DECIMAL(3,2))
                - CAST(ps_supplycost AS DECIMAL(12,2))
                  * CAST(l.l_quantity AS DECIMAL(12,2)))
            AS DOUBLE) AS profit,
       COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
CROSS JOIN (SELECT CAST(10.00 AS DECIMAL(12,2)) AS ps_supplycost) c
WHERE p.p_type LIKE '%ECONOMY%' OR p.p_name LIKE '%widget%'
GROUP BY n.n_name, o_year
"""

sql_query(
    "q42_product_profit", _Q42_SQL,
    """Product-line profit by supplier nation and year (TPC-H Q9
    shape): a five-table star with a LIKE filter on the part dimension
    and a profit expression mixing revenue and cost terms. The
    synthetic schema has no partsupp table, so supply cost enters as a
    constant dimension row (the join/filter/expression shape — LIKE
    pruning the part broadcast BEFORE the fact join, decimal profit
    arithmetic — is what this query pins; the exact cost source is
    orthogonal).

    Shape at scale: part/supplier/nation broadcast; the only
    fact-scale exchange is orders<->lineitem; profit terms stay
    all-decimal through the sum (order-independent) and surface as one
    double. Identical SQL text on both engines.
    """)

# Declarative data-quality expectations (the dbt-test / Great
# Expectations pass a warehouse runs after every load): each rule is an
# aggregate expression over ONE scan per table plus one anti-join for
# the referential rule — never a per-rule scan. The suite deliberately
# includes a rule that FAILS on the synthetic data ((l_orderkey,
# l_linenumber) is NOT unique) so the operator provably reports
# violations, not just green checkmarks.
_EXPECT_SQL = """
WITH li AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS qty_null,
           CAST(COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50
                           THEN 1 END) AS BIGINT) AS qty_range,
           CAST(COUNT(CASE WHEN l_discount < 0 OR l_discount > 1
                           THEN 1 END) AS BIGINT) AS disc_range,
           CAST(COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS BIGINT)
               AS ship_null
    FROM lineitem
),
dupkey AS (
    SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS extra
    FROM (SELECT COUNT(*) AS c FROM lineitem
          GROUP BY l_orderkey, l_linenumber)
    WHERE c > 1
),
orphan AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orphan
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
),
ord AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS BIGINT)
               AS nonpos
    FROM orders
),
rules AS (
    SELECT 'lineitem.l_quantity not_null' AS rule, li.n AS n_checked,
           li.qty_null AS n_violations FROM li
    UNION ALL
    SELECT 'lineitem.l_quantity between_1_50', li.n, li.qty_range FROM li
    UNION ALL
    SELECT 'lineitem.l_discount between_0_1', li.n, li.disc_range FROM li
    UNION ALL
    SELECT 'lineitem.l_shipdate not_null', li.n, li.ship_null FROM li
    UNION ALL
    SELECT 'lineitem.pk (l_orderkey,l_linenumber) unique', li.n,
           d.extra FROM li CROSS JOIN dupkey d
    UNION ALL
    SELECT 'lineitem.l_orderkey fk orders', li.n, o.n_orphan
    FROM li CROSS JOIN orphan o
    UNION ALL
    SELECT 'orders.o_totalprice positive', ord.n, ord.nonpos FROM ord
)
SELECT rule, n_checked, n_violations, n_violations = 0 AS passed
FROM rules
"""


@query("table_expectations", family="selfcontained", oracle=_EXPECT_SQL)
@per_session("selfcontained")
def table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite: not-null, range,
    primary-key uniqueness, referential-integrity, and positivity
    rules evaluated as one report (rule, n_checked, n_violations,
    passed) — the post-load validation pass a warehouse runs before
    publishing a table.

    Shape at scale: all four lineitem column rules share ONE scan (a
    single partial-aggregated pass emits every counter side by side,
    and the 1-row result unpivots into rule rows via explode — the
    table_profile pattern; a UNION-of-CTE-references formulation would
    be inlined by Catalyst into one scan PER rule); pk uniqueness is
    one groupBy on the key; the FK rule is one anti-join; orders rules
    are one scan — 5 scans for 7 rules, vs 10 for the naive SQL text.
    Every rule frame is one row, so the report is constant-size
    however large the tables. The pk rule REALLY fails here — the
    synthetic (l_orderkey, l_linenumber) is documented non-unique —
    proving the operator reports violations rather than
    rubber-stamping. The oracle keeps the readable CTE form (DuckDB
    materializes CTEs, no duplicate-scan concern).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    li_agg = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) - F.count("l_quantity"))
        .cast("bigint")
        .alias("qty_null"),
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        ).cast("bigint").alias("qty_range"),
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
        ).cast("bigint").alias("disc_range"),
        F.count(F.when(F.col("l_shipdate").isNull(), 1))
        .cast("bigint")
        .alias("ship_null"),
    )
    col_rules = li_agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(rule).alias("rule"),
                        F.col("n").alias("n_checked"),
                        F.col(viol).alias("n_violations"),
                    )
                    for rule, viol in [
                        ("lineitem.l_quantity not_null", "qty_null"),
                        ("lineitem.l_quantity between_1_50", "qty_range"),
                        ("lineitem.l_discount between_0_1", "disc_range"),
                        ("lineitem.l_shipdate not_null", "ship_null"),
                    ]
                ]
            )
        ).alias("s")
    ).select("s.*")
    # the pk and fk rules reuse li_agg's row count via a broadcast
    # 1-row cross join (a shared frame, so the shared lineitem scan
    # runs once) — never a second count() scan of the fact table
    li_agg = shared_frame(
        spark, ("selfcontained", "li_agg", sf_dir), lambda: li_agg
    )
    n_frame = li_agg.select(F.col("n").alias("n_checked"))
    dupkey = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.lit("lineitem.pk (l_orderkey,l_linenumber) unique").alias(
                "rule"
            ),
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_violations"),
        )
        .crossJoin(F.broadcast(n_frame))
    )
    orphan = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(
            F.lit("lineitem.l_orderkey fk orders").alias("rule"),
            F.count(F.lit(1)).cast("bigint").alias("n_violations"),
        )
        .crossJoin(F.broadcast(n_frame))
    )
    ord_rule = orders.agg(
        F.lit("orders.o_totalprice positive").alias("rule"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1))
        .cast("bigint")
        .alias("n_violations"),
    )
    report = (
        col_rules.unionByName(dupkey.select("rule", "n_checked", "n_violations"))
        .unionByName(orphan.select("rule", "n_checked", "n_violations"))
        .unionByName(ord_rule)
    )
    return report.select(
        "rule",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


# k-anonymity geometry: quasi-identifiers are the columns an adversary
# can link from the outside (demographics + a generalized balance
# bucket — bucketing IS the standard anonymization step); a class
# smaller than K re-identifies its members.
_KANON_K = 5
_KANON_BUCKET = 1000


@query(
    "privacy_k_anonymity",
    oracle=f"""
WITH classes AS (
    SELECT c_nationkey, c_mktsegment,
           FLOOR(c_acctbal / {_KANON_BUCKET}) AS bal_bucket,
           COUNT(*) AS cls
    FROM customer
    GROUP BY 1, 2, 3
)
SELECT CAST(SUM(cls) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(cls) AS BIGINT) AS achieved_k,
       CAST(COUNT(CASE WHEN cls < {_KANON_K} THEN 1 END) AS BIGINT)
           AS n_risky_classes,
       CAST(COALESCE(SUM(CASE WHEN cls < {_KANON_K} THEN cls END), 0)
           AS BIGINT) AS n_risky_rows,
       CAST(COUNT(CASE WHEN cls = 1 THEN 1 END) AS BIGINT)
           AS n_singletons,
       CAST(COALESCE(SUM(CASE WHEN cls < {_KANON_K} THEN cls END), 0)
           AS DOUBLE) / NULLIF(SUM(cls), 0) AS risky_row_share
FROM classes
""",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ANONYMITY report (data-governance tier): group the table by
    its quasi-identifier columns (nation, market segment, and the
    generalized account-balance bucket — bucketing is the standard
    k-anonymization generalization), then report the achieved k (the
    smallest equivalence class), how many classes and rows fall below
    the k=5 policy threshold (_KANON_K), and the singleton count — the
    directly re-identifiable rows a release gate must block.

    Shape at scale: two chained partial-aggregable aggregations (the
    per-class count map-side combines before its exchange; the report
    folds the class-sized frame to one row) — the same shape at 1,500
    customers or 1.5 billion. NULL quasi-identifier values form their
    own class on both engines (GROUP BY NULL-equality semantics), so
    missing demographics never silently vanish from the risk
    accounting; FLOOR on the double balance matches DuckDB's FLOOR
    exactly (both IEEE)."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _KANON_BUCKET).alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).alias("cls"))
    risky = F.when(F.col("cls") < _KANON_K, F.col("cls"))
    return classes.agg(
        F.sum("cls").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("cls").cast("bigint").alias("achieved_k"),
        F.count(risky).cast("bigint").alias("n_risky_classes"),
        F.coalesce(F.sum(risky), F.lit(0))
        .cast("bigint")
        .alias("n_risky_rows"),
        F.count(F.when(F.col("cls") == 1, 1))
        .cast("bigint")
        .alias("n_singletons"),
        (
            F.coalesce(F.sum(risky), F.lit(0)).cast("double")
            / F.nullif(F.sum("cls"), F.lit(0))
        ).alias("risky_row_share"),
    )


_LDIV_L = 2


@query(
    "privacy_l_diversity",
    oracle=f"""
WITH joined AS (
    SELECT c.c_nationkey, c.c_mktsegment,
           FLOOR(c.c_acctbal / {_KANON_BUCKET}) AS bal_bucket,
           o.o_orderpriority
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderpriority IS NOT NULL
),
classes AS (
    SELECT c_nationkey, c_mktsegment, bal_bucket,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderpriority) AS l
    FROM joined GROUP BY 1, 2, 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(l) AS BIGINT) AS achieved_l,
       CAST(COUNT(CASE WHEN l < {_LDIV_L} THEN 1 END) AS BIGINT)
           AS n_homogeneous_classes,
       CAST(COALESCE(SUM(CASE WHEN l < {_LDIV_L} THEN n_rows END), 0)
           AS BIGINT) AS n_exposed_rows
FROM classes
""",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY report — k-anonymity's companion against the
    HOMOGENEITY attack: a quasi-identifier class where every member
    shares the same SENSITIVE value discloses that value even when the
    class is large enough for k. The sensitive attribute here is order
    priority (joined through the customer FK); per QI class (same
    generalization as privacy_k_anonymity) the report carries the
    achieved l (minimum distinct sensitive values), the count of
    homogeneous classes (l < 2), and how many joined rows they expose.

    Shape at scale: one fact-dimension equi-join (orders shuffle on
    o_custkey, customer broadcast at dimension size), then a
    distinct-count aggregate on the class key and a one-row fold.
    NULL sensitive values are excluded on BOTH engines before the
    distinct count — Spark's count_distinct skips NULLs while a class
    of only-NULL priorities would otherwise differ between engines on
    the n_rows side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
    )
    joined = orders.join(
        broadcast_dim(cust, table_rows(spark, sf_dir, "customer")),
        orders.o_custkey == cust.c_custkey,
    ).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _KANON_BUCKET).alias("bal_bucket"),
        "o_orderpriority",
    )
    classes = joined.groupBy(
        "c_nationkey", "c_mktsegment", "bal_bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderpriority").alias("l"),
    )
    homog = F.when(F.col("l") < _LDIV_L, F.col("n_rows"))
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("l").cast("bigint").alias("achieved_l"),
        F.count(F.when(F.col("l") < _LDIV_L, 1))
        .cast("bigint")
        .alias("n_homogeneous_classes"),
        F.coalesce(F.sum(homog), F.lit(0))
        .cast("bigint")
        .alias("n_exposed_rows"),
    )


def tv_int64_guard(n_c: "Column", n_g: "Column") -> "Column":
    """Runtime overflow guard for the integer-exact t-closeness TV
    numerator: every cross product in the per-class fold is bounded by
    2 * n_c * n_g, so the computation is int64-exact iff that bound
    fits. Returns a NULL bigint column that RAISES (with the
    pre-normalization recipe) when the bound does not fit — add it to
    the numerator (``+ coalesce(guard, 0)``) so the optimizer cannot
    prune the check away. The bound itself is checked in DOUBLE
    arithmetic, which cannot wrap. A silent int64 wrap at ~1e12 joined
    rows would be a WRONG ANSWER; this turns the documented limit into
    a loud failure."""
    i64_max = float((1 << 63) - 1)
    return F.assert_true(
        2.0 * n_c.cast("double") * n_g.cast("double") < i64_max,
        F.lit(
            "t-closeness TV numerator exceeds int64 (2*n_c*n_g >= 2^63"
            " for some class). Pre-normalize before calling: divide the"
            " per-(class,value) counts by a common factor m (TV distance"
            " is invariant under uniform count scaling), e.g. m = 10^6"
            " at ~1e12 joined rows, then recompute."
        ),
    ).cast("bigint")


@query(
    "privacy_t_closeness",
    oracle=f"""
WITH joined AS (
    SELECT c.c_nationkey, c.c_mktsegment,
           FLOOR(c.c_acctbal / {_KANON_BUCKET}) AS bal_bucket,
           o.o_orderpriority AS p
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_orderpriority IS NOT NULL
),
per AS (
    SELECT c_nationkey, c_mktsegment, bal_bucket, p, COUNT(*) AS n_cp
    FROM joined GROUP BY 1, 2, 3, 4
),
cls AS (
    SELECT c_nationkey, c_mktsegment, bal_bucket, SUM(n_cp) AS n_c
    FROM per GROUP BY 1, 2, 3
),
gp AS (SELECT p, COUNT(*) AS n_gp FROM joined GROUP BY p),
g AS (SELECT COUNT(*) AS n_g FROM joined),
tv AS (
    SELECT per.c_nationkey, per.c_mktsegment, per.bal_bucket,
           CAST(MIN(cls.n_c) AS BIGINT) AS n_c,
           CAST(SUM(ABS(per.n_cp * g.n_g - gp.n_gp * cls.n_c))
                - SUM(gp.n_gp * cls.n_c)
                + MIN(cls.n_c) * MIN(g.n_g) AS BIGINT) AS tv_num
    FROM per
    JOIN cls USING (c_nationkey, c_mktsegment, bal_bucket)
    JOIN gp USING (p)
    CROSS JOIN g
    GROUP BY 1, 2, 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       MAX(CAST(tv_num AS DOUBLE) / (2.0 * n_c * (SELECT n_g FROM g)))
           AS achieved_t,
       CAST(COUNT(CASE WHEN 2 * tv_num > n_c * (SELECT n_g FROM g)
                  THEN 1 END) AS BIGINT) AS n_violating_classes
FROM tv
""",
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS report — completing the privacy triad (k-anonymity,
    l-diversity, t-closeness): l-diversity misses SKEWED classes where
    one sensitive value dominates; t-closeness bounds the total-
    variation distance between each quasi-identifier class's sensitive
    distribution (order priority) and the global one. Emits the
    achieved t (the worst class's TV distance) and how many classes
    exceed the t=0.25 policy.

    Exactness: the TV numerator is computed in cross-multiplied
    INTEGERS — sum over present values of |n_cp*n_g - n_gp*n_c|, the
    absent-value mass folded in algebraically as n_c*n_g - sum(n_gp*
    n_c) — so every term that crosses an exchange is an integer and
    the single per-class division (and the t > 1/4 comparison, done as
    2*tv_num > n_c*n_g in integers) is engine-identical. Scale note:
    the cross products stay within int64 up to ~10^9 joined rows;
    beyond that ``tv_int64_guard`` RAISES at runtime with the
    pre-normalize-per-million recipe (a loud documented limit, never a
    silent wrap — DuckDB's HUGEINT habit is the r5 pagerank lesson).

    Shape: the same broadcast dim join as l-diversity, a (class,
    value) pre-aggregate, a |values|-sized global distribution
    broadcast back, and a class-sized fold to one row."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
    )
    qi = [
        F.col("c_nationkey"),
        F.col("c_mktsegment"),
        F.floor(F.col("c_acctbal") / _KANON_BUCKET).alias("bal_bucket"),
    ]
    joined = orders.join(
        broadcast_dim(cust, table_rows(spark, sf_dir, "customer")),
        orders.o_custkey == cust.c_custkey,
    ).select(*qi, F.col("o_orderpriority").alias("p"))
    per = joined.groupBy(
        "c_nationkey", "c_mktsegment", "bal_bucket", "p"
    ).agg(F.count(F.lit(1)).alias("n_cp"))
    from pyspark.sql import Window as W

    keys = ["c_nationkey", "c_mktsegment", "bal_bucket"]
    # class totals via a window over the (class, value) pre-aggregate
    # (high-cardinality partition key); global distribution broadcast
    per = per.withColumn(
        "n_c", F.sum("n_cp").over(W.partitionBy(*keys))
    )
    # r17 optimization: the global distribution and total are exact
    # rollups of the (class, value) pre-aggregate — summing n_cp over
    # classes IS count(*) per value / overall — so derive both from
    # ``per`` instead of re-aggregating ``joined`` (which cost two
    # extra fact scans + dim broadcasts; runtime stage reuse now
    # collapses the shared pre-aggregate to ONE fact scan).
    gp = per.groupBy("p").agg(F.sum("n_cp").alias("n_gp"))
    g_row = gp.agg(F.sum("n_gp").alias("n_g"))
    tv = (
        per.join(F.broadcast(gp), "p")
        .crossJoin(F.broadcast(g_row))
        .groupBy(*keys)
        .agg(
            F.min("n_c").cast("bigint").alias("n_c"),
            (
                F.sum(
                    F.abs(
                        F.col("n_cp") * F.col("n_g")
                        - F.col("n_gp") * F.col("n_c")
                    )
                )
                - F.sum(F.col("n_gp") * F.col("n_c"))
                + F.min("n_c") * F.min("n_g")
                + F.coalesce(  # raises past the int64 bound; else +0
                    tv_int64_guard(F.min("n_c"), F.min("n_g")), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("tv_num"),
            F.min("n_g").alias("n_g"),
        )
    )
    return tv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.max(
            F.col("tv_num").cast("double")
            / (2.0 * F.col("n_c") * F.col("n_g"))
        ).alias("achieved_t"),
        F.count(
            F.when(2 * F.col("tv_num") > F.col("n_c") * F.col("n_g"), 1)
        )
        .cast("bigint")
        .alias("n_violating_classes"),
    )


# Q8 shape: for each order year, the share of ASIA customers' rod
# revenue supplied by NATION_7. Revenue is exact decimal; the nation
# slice uses the standard FILTER clause (both engines); share divides
# the same decimal pair as doubles.
_Q43_SQL = """
WITH rev AS (
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           sn.n_name AS supp_nation,
           CAST(l.l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - CAST(l.l_discount AS DECIMAL(3,2)) AS DECIMAL(3,2))
             AS volume
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey
    WHERE r.r_name = 'ASIA' AND p.p_name LIKE '%rod%'
)
SELECT o_year,
       CAST(COALESCE(SUM(volume) FILTER (WHERE supp_nation = 'NATION_7'),
                     0) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
       CAST(SUM(volume) AS DOUBLE) AS total_volume,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM rev
GROUP BY o_year
"""

sql_query(
    "q43_market_share", _Q43_SQL,
    """TPC-H Q8 shape: a nation's market share inside a region-scoped,
    part-filtered revenue stream, by order year — the
    conditional-slice-over-total ratio pattern (FILTER clause on both
    engines, numerator and denominator summed from the SAME decimal
    column so the double division is engine-exact).

    Shape at scale: part/supplier/customer/nation/region all broadcast
    (the LIKE filter prunes part before its build); the only
    fact-scale exchange is orders<->lineitem, then one partial-agg
    groupBy on the year.""")

# Q13 shape: distribution of per-customer order counts INCLUDING
# zero-order customers — the ON-clause predicate (filter the join, not
# the customers) is the semantic point: a WHERE would drop the zeros.
_Q44_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey
     AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
"""

sql_query(
    "q44_order_count_distribution", _Q44_SQL,
    """TPC-H Q13 shape: the customer-order-count histogram with the
    filter in the LEFT JOIN's ON clause, so customers with no
    qualifying orders survive as the c_count = 0 bucket (a WHERE would
    silently drop them — the classic outer-join-predicate-placement
    trap). COUNT(o.o_orderkey) counts matched rows only, never the
    null-extended row. Pure integer counts, engine-exact.

    Shape at scale: one exchange on the customer key for the join +
    first groupBy (AQE reuses the partitioning), then a tiny histogram
    aggregate.""")

# Q17 shape: revenue lost to small-quantity orders of one brand — the
# correlated scalar AVG subquery, decorrelated by Catalyst into a
# per-part aggregate joined back. l_quantity is integral, so the double
# AVG is an exact-sum / count — order-independent on both engines.
_Q45_SQL = """
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)))
                 AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13'
  AND l.l_quantity < (
      SELECT 0.2 * AVG(l2.l_quantity)
      FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey)
"""


# Engine-side text (r17): Catalyst decorrelates the scalar AVG into a
# per-part aggregate over the WHOLE fact table — the optimizer cannot
# see that only Brand#13 parts ever consume a threshold (guide §8:
# problem knowledge the optimizer does not have). Joining the filtered
# part dimension into the aggregate side first (a broadcast, so no
# extra fact exchange) cuts the avg-side groupBy's input and shuffle
# to the brand's fraction of the table. INNER join to the aggregate is
# exact: every probe row's part has at least one lineitem (itself), so
# the per-part threshold row always exists; AVG over that part's
# lineitems is over the identical row set (the brand filter prunes
# PARTS, never a part's lineitems) and the threshold expression is
# textually the oracle's.
_Q45_ENGINE_SQL = """
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)))
                 AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (
    SELECT l2.l_partkey, 0.2 * AVG(l2.l_quantity) AS thr
    FROM lineitem l2
    JOIN part p2 ON p2.p_partkey = l2.l_partkey
    WHERE p2.p_brand = 'Brand#13'
    GROUP BY l2.l_partkey
) a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13'
  AND l.l_quantity < a.thr
"""

sql_query(
    "q45_small_quantity_revenue", _Q45_SQL, engine=_Q45_ENGINE_SQL,
    doc="""TPC-H Q17 shape: correlated scalar AVG subquery (orders whose
    quantity is under 20% of the part's average), decorrelated into a
    per-part aggregate + join. Revenue sums in exact decimal; the
    threshold compares an exact integral-sum average.

    Shape at scale: the brand filter prunes the probe side before its
    join AND (engine text, r17) the aggregate side before the per-part
    AVG's groupBy — the avg-side shuffle carries the brand's fraction
    of the fact table instead of every part's rows (see
    _Q45_ENGINE_SQL; the oracle keeps the correlated-subquery form and
    results hash-match).""")

# Q20 shape: suppliers who shipped a large aggregate quantity of any
# widget part — nested IN subquery whose inner query is itself a
# grouped HAVING aggregate. Quantity sums in decimal for exactness.
_Q46_SQL = """
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(12,2))) > 100
)
ORDER BY s.s_suppkey
"""

sql_query(
    "q46_bulk_widget_suppliers", _Q46_SQL,
    """TPC-H Q20 shape: IN over a grouped-HAVING subquery (suppliers
    who moved >100 units of some widget part) — Catalyst plans the IN
    as a left-semi join against the aggregated subquery, never a
    per-row re-execution. Decimal quantity sums, integer keys —
    engine-exact.

    Shape at scale: the LIKE filter prunes part before its broadcast;
    the inner aggregate is one partial-agg groupBy on (suppkey,
    partkey); the outer semi join is supplier-dimension sized.""")

# Recursive CTE (Spark 4 WITH RECURSIVE): the reorder-streak walk — a
# linear successor traversal whose depth is data-dependent (the longest
# streak), which no fixed window/unroll can express. Spark 4 supports
# UNION ALL recursion only (UNION-dedup cycle-safe recursion is not in
# yet), so the relation walked must be acyclic — the per-customer
# next-order linked list is. o_orderkey is unique (expectation-suite
# adjacent fact), so the recursive join steps to exactly one row.
_Q47_ORD_SQL = """
    SELECT o_custkey, o_orderkey, o_orderdate,
           LAG(o_orderdate) OVER w AS prev_date,
           LEAD(o_orderkey) OVER w AS next_key,
           LEAD(o_orderdate) OVER w AS next_date
    FROM orders
    WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

_Q47_BODY = """
chain(o_custkey, cur_key, cur_date, next_key, next_date, len) AS (
    SELECT o_custkey, o_orderkey, o_orderdate, next_key, next_date, 1
    FROM ord
    WHERE prev_date IS NULL OR o_orderdate > prev_date + INTERVAL 90 DAY
    UNION ALL
    SELECT c.o_custkey, o.o_orderkey, o.o_orderdate, o.next_key,
           o.next_date, c.len + 1
    FROM chain c JOIN ord o ON o.o_orderkey = c.next_key
    WHERE c.next_date <= c.cur_date + INTERVAL 90 DAY
)
SELECT o_custkey,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(COUNT(CASE WHEN len = 1 THEN 1 END) AS BIGINT) AS n_streaks,
       CAST(COUNT(*) AS BIGINT) AS n_chain_rows
FROM chain
GROUP BY o_custkey
"""

# the one oracle text: ord inline as a plain CTE (DuckDB materializes
# CTEs once, so no re-execution concern there)
_Q47_SQL = (
    "WITH RECURSIVE ord AS (" + _Q47_ORD_SQL + "),\n" + _Q47_BODY
)

# Engine-side non-recursive formulation (r17 optimization): the
# recursion's continuation condition (next order within 90 days of the
# current one) is the exact complement of its anchor condition (an
# order more than 90 days after its predecessor starts a streak), so
# every filtered order lands in `chain` exactly once and its `len` is
# its 1-based position inside its streak. That position is pure window
# arithmetic: mark streak starts, carry the start's row number forward
# with a running MAX, and len = rn - cur_start + 1. Both window layers
# share one partition key and ORDER — one exchange, one sort — and the
# final groupBy reuses the window partitioning, so the whole query is
# a single shuffle (the recursive plan paid the window exchange + a
# persisted successor table + one frontier join PER recursion level,
# ~10 levels at sf0.1: 3.1s -> ~0.4s measured). All-integer streak
# statistics -> engine-exact vs the unchanged recursive oracle.
_Q47_FLAT_SQL = """
WITH ord AS (
    SELECT o_custkey, o_orderkey, o_orderdate,
           LAG(o_orderdate) OVER w AS prev_date,
           ROW_NUMBER() OVER w AS rn
    FROM orders
    WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
runs AS (
    SELECT o_custkey, rn,
           MAX(CASE WHEN prev_date IS NULL
                         OR o_orderdate > prev_date + INTERVAL 90 DAY
                    THEN rn END)
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS cur_start
    FROM ord
)
SELECT o_custkey,
       CAST(MAX(rn - cur_start + 1) AS BIGINT) AS longest_streak,
       CAST(COUNT(CASE WHEN rn = cur_start THEN 1 END) AS BIGINT) AS n_streaks,
       CAST(COUNT(*) AS BIGINT) AS n_chain_rows
FROM runs
GROUP BY o_custkey
"""

sql_query(
    "q47_reorder_streaks", _Q47_SQL, engine=_Q47_FLAT_SQL,
    doc="""Per-customer reorder streaks: a streak starts at an order with
    no predecessor within 90 days and extends while each next order
    follows within 90 days of the current one. The DuckDB oracle keeps
    the recursive-CTE successor walk (the capability this query
    declares); the engine computes the identical per-order streak
    positions in ONE window pass (see _Q47_FLAT_SQL) — the r8-r16
    recursive engine plan re-joined a persisted successor list once
    per recursion level (depth = the longest streak) and needed the
    cteRecursionRowLimit valve sized to |orders|; the window form has
    neither concern and carries one exchange total.

    Shape at scale: one hash exchange on o_custkey feeds two stacked
    window layers sharing the same sort, and the final aggregate
    reuses the window partitioning (no second exchange). Streak
    statistics are pure integers — engine-exact.
    """)
