"""Graph operators: iterative PageRank over a co-occurrence graph
derived from the fact tables — the link-analysis pass a data platform
runs for entity importance (supplier centrality here; the same loop
ranks documents by citation or hosts by hyperlink at 100 TB).

The reference has no iterative tier; dedup.py's connected components
(large-star/small-star) is the repo's other fixed-point loop, and this
module follows the same discipline: a bounded number of Spark
iterations, each ONE equi-join + ONE partial-aggregated groupBy, with
the loop unrolled into a single Catalyst plan.

Numeric policy — fixed-point integers, not doubles: rank mass is held
in 1e-12 units (BIGINT) and every update uses floor division, so the
per-node incoming sum is an INTEGER sum — order-independent, hence
bit-identical between Spark (`div`) and DuckDB (`//`) regardless of
aggregation order. A float PageRank would diverge between engines in
the last ulp on every iteration; the fixed-point contract makes the
operator hash-gateable. The ~1e-12 per-edge floor loss per iteration
is the documented quantization error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..functions.scale import BROADCAST_ROW_LIMIT, broadcast_dim, table_rows
from ..session_memo import per_session, shared_frame
from ..sources import load_table

_SCALE = 10**12
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as an exact rational
_ITERS = 3
_TELEPORT = (_DAMP_DEN - _DAMP_NUM) * _SCALE // _DAMP_DEN  # 0.15 mass

# The memoized PageRank frames own their persisted edge/rank chains;
# repeated invocations (bench passes, gates) must reuse ONE result
# rather than re-persist.


def _pagerank_oracle() -> str:
    its = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        its.append(f"""
it{i} AS (
    SELECT e.d AS node,
           CAST({_TELEPORT} AS BIGINT) // (SELECT n FROM n)
             + ({_DAMP_NUM} * SUM({prev}.r // deg.deg)) // {_DAMP_DEN} AS r
    FROM edges e
    JOIN {prev} ON {prev}.node = e.s
    JOIN deg ON deg.s = e.s
    GROUP BY e.d
)""")
        prev = f"it{i}"
    return f"""
WITH pairs AS (
    SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
edges AS (
    SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS d
    FROM pairs a JOIN pairs b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
),
deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
n AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (
    SELECT s AS node, CAST({_SCALE} AS BIGINT) // (SELECT n FROM n) AS r
    FROM deg
),{",".join(its)}
SELECT p.node AS s_suppkey, CAST(p.r AS BIGINT) AS rank_fp, deg.deg AS degree
FROM {prev} p JOIN deg ON deg.s = p.node
"""


@query("graph_pagerank", oracle=_pagerank_oracle())
@per_session("pagerank")
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled iterations) over the
    supplier co-supply graph: suppliers are linked when they ship
    line items of the same order.

    Shape at scale: edge derivation is one distinct + one equi-join on
    the order key (fact-scale but shuffle-partitioned, never
    all-pairs); each iteration is edges-join-ranks on the source key +
    a partial-aggregated groupBy on the destination — the textbook
    distributed PageRank step. Ranks and degrees are node-sized. A
    production run at 100 TB would persist ranks between iterations
    and co-partition edges by source once (`repartition(s)`) so every
    iteration reuses the same exchange; with 3 unrolled iterations
    Catalyst already reuses the co-partitioning within one plan. The
    graph-wide node count is a single collected scalar (constant
    driver state, same policy as dedup.py's corpus scalar).
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    a = pairs.select("l_orderkey", F.col("l_suppkey").alias("s"))
    b = pairs.select("l_orderkey", F.col("l_suppkey").alias("d"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("s") != F.col("d"))
        .select("s", "d")
        .distinct()
    )
    ranks, deg = pagerank_fixed_point(edges, iters=_ITERS)
    # deg is keyed by supplier, so the supplier table's row count
    # bounds it (scale.py's derived-frame rule); under budget the
    # final rank/degree attach is a map-side broadcast instead of the
    # sort-merge join the planner picked from the cached estimates.
    deg = broadcast_dim(
        deg, table_rows(spark, sf_dir, "supplier"), fallback="shuffle_hash"
    )
    return ranks.join(deg, ranks.node == deg.s).select(
        F.col("node").alias("s_suppkey"),
        F.col("r").alias("rank_fp"),
        F.col("deg").alias("degree"),
    )


def pagerank_fixed_point(
    edges: DataFrame, iters: int = _ITERS
) -> tuple[DataFrame, DataFrame]:
    """Unrolled fixed-point PageRank over an (s, d) edge DataFrame.

    Returns (ranks, deg): ranks has (node, r) in 1e-12 units after
    ``iters`` iterations; deg has (s, deg) out-degrees. Nodes must
    each have at least one outgoing AND one incoming edge (true for
    any undirected edge set); dangling-node mass is out of contract.
    """
    deg, edges_deg, _, ranks, n, bc_edges = _graph_frames(edges, undirected=True)
    if n == 0:
        return ranks, deg
    for _ in range(iters):
        ranks = _pagerank_step(
            None, edges_deg, deg, ranks, n, dangling=False, bc_edges=bc_edges
        )
    return ranks, deg


def _graph_frames(
    edges: DataFrame, undirected: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, int, bool]:
    """Shared setup for every PageRank loop: persisted out-degrees,
    degree-annotated edges, the node universe (sources UNION
    destinations; deg's keys when ``undirected``, where every node is a
    source), rank 0 (``1/n`` of the mass per node; an empty graph seeds
    the empty (node, r) frame each loop returns), the collected node
    count n, and the counted edges-fit-the-broadcast-budget flag (see
    _pagerank_step)."""
    # Degree-annotated edges persist ONCE: every iteration re-reads the
    # (s, d, deg) frame from executor storage instead of recomputing
    # the edge derivation + degree groupBy per unrolled step, and the
    # persist is CO-PARTITIONED by source so every above-budget
    # iteration join reuses this one exchange (the 100 TB loop shape:
    # only the node-sized rank frame moves per iteration). Callers
    # invoking repeatedly should memoize the result (see the
    # session memo) so one persist serves the session.
    # deg persists too (node-sized): it seeds rank0 of the undirected
    # loop, anchors the caller's final rank/degree attach, feeds the
    # per-iteration dangling anti-join, and sits in the edge frame's
    # lineage — unpersisted, every one of those consumers re-derived
    # the whole edge set from the base tables (a full corpus pass per
    # execution, visible as a FileScan in the warm plan). Its cache
    # fills as a side effect of materializing edges_deg below.
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg")).persist()
    edges_deg = (
        edges.join(deg, "s").select("s", "d", "deg").repartition("s").persist()
    )
    # the count materializes both persists
    bc_edges = edges_deg.count() <= BROADCAST_ROW_LIMIT
    if undirected:
        # node count = deg's row count: reads the just-materialized
        # node-sized cache instead of running a fact-scale
        # distinct+shuffle job per cold construction (r18, ADVICE item)
        nodes, n = deg.select(F.col("s").alias("node")), deg.count()
    else:
        nodes = (
            edges.select(F.col("s").alias("node"))
            .union(edges.select(F.col("d").alias("node")))
            .distinct()
            .persist()
        )
        n = nodes.count()
    share = _SCALE // n if n else 0
    ranks = nodes.select("node", F.lit(share).cast("long").alias("r"))
    return deg, edges_deg, nodes, ranks, n, bc_edges


def _pagerank_step(
    nodes: DataFrame | None,
    edges_deg: DataFrame,
    deg: DataFrame,
    ranks: DataFrame,
    n: int,
    dangling: bool = True,
    bc_edges: bool = True,
) -> DataFrame:
    """ONE fixed-point update: contribution join + partial-agg groupBy,
    attached to the node universe ``nodes`` (None for an undirected
    graph, where every node receives an edge), plus (when dangling)
    the anti-join mass aggregate broadcast into the per-node update —
    the frame is returned unmaterialized so the caller chooses persist
    (unrolled plan) or localCheckpoint (convergence loop)."""
    # Size-adaptive contribution join, decided from the COUNTED edge
    # cardinality (not estimates). While the edge frame fits the row
    # budget both join sides genuinely fit in memory and the planner's
    # accurate cached statistics pick the best build side unaided (at
    # sf0.1 it broadcasts the cached edge frame ONCE, reused across
    # all unrolled iterations). Above budget — the 100 TB regime,
    # where an edge-side build is an OOM and post-aggregate size
    # estimates are too unreliable to leave the choice to the planner
    # — the node-sized rank frame is pinned as the broadcast (or, past
    # n's own budget, SHUFFLE_HASH) build side against the
    # co-partitioned persisted edges, which never move again after
    # their one construction shuffle.
    right = (
        ranks if bc_edges
        else broadcast_dim(ranks, n, fallback="shuffle_hash")
    )
    contrib = edges_deg.join(
        right, edges_deg.s == ranks.node
    ).select("d", F.expr("r div deg").alias("c"))
    csum = contrib.groupBy("d").agg(F.sum("c").alias("cs"))
    if nodes is None:
        nxt = csum.withColumnRenamed("d", "node")
    else:
        nxt = nodes.join(csum, nodes.node == csum.d, "left")
    incoming = "coalesce(cs, CAST(0 AS BIGINT))"
    if dangling:
        dang = (
            ranks.join(
                broadcast_dim(deg, n, fallback="shuffle_hash"),
                ranks.node == deg.s,
                "left_anti",
            )
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm"))
        )
        incoming += f" + dm div {n}"
        nxt = nxt.crossJoin(F.broadcast(dang))
    update = F.expr(f"({_DAMP_NUM} * ({incoming})) div {_DAMP_DEN}")
    return nxt.select(
        "node", (F.lit(_TELEPORT // n) + update).cast("long").alias("r")
    )


def pagerank_dangling(
    edges: DataFrame, iters: int = _ITERS
) -> tuple[DataFrame, DataFrame]:
    """General DIRECTED fixed-point PageRank: dangling nodes (no
    out-edges) are in contract — their rank mass is redistributed
    uniformly over the full node universe each iteration, the standard
    dangling-mass correction (Page et al. 1999 §2.5; same treatment as
    Spark's own examples and GraphX).

    Returns (ranks, deg): ranks has (node, r) in 1e-12 units over the
    FULL node universe (sources UNION destinations); deg has (s, deg)
    out-degrees (dangling nodes absent, by definition).

    Fixed-point contract: per iteration each node receives
    ``teleport + (85 * (incoming + dangling_mass div n)) div 100``
    where ``incoming`` is the integer sum of ``r div deg`` over its
    in-edges and ``dangling_mass`` is the integer sum of dangling
    ranks — all floor arithmetic, order-independent, engine-exact.

    Shape at scale: node universe and degree-annotated edges persist
    once; each unrolled iteration is one equi-join + one partial-agg
    groupBy (fact-scale), plus a node-scale anti-join aggregate for the
    dangling mass whose 1-row result broadcasts into the update — no
    driver round-trip inside the loop, the whole unroll is one Catalyst
    plan.
    """
    deg, edges_deg, nodes, ranks, n, bc_edges = _graph_frames(edges)
    if n == 0:
        return ranks, deg
    for _ in range(iters):
        # each iteration consumes `ranks` TWICE (contribution join +
        # dangling-mass aggregate); without a persist the second branch
        # recomputes the whole previous unroll, doubling work per
        # iteration (measured 3x the non-dangling variant at sf0.1).
        # Lazy persist gives intra-job reuse while keeping the unroll
        # one action; frames are node-sized. Callers memoize (see
        # the session memo), so the session holds one chain.
        ranks = _pagerank_step(
            nodes, edges_deg, deg, ranks.persist(), n, bc_edges=bc_edges
        )
    return ranks, deg


def pagerank_converged(
    edges: DataFrame,
    tol_fp: int = 10**7,
    max_iters: int = 20,
    dangling: bool = True,
) -> tuple[DataFrame, int]:
    """Iterate-until-delta PageRank: runs the dangling-aware update,
    materializing and persisting the rank frame each iteration, until
    the L1 rank delta (in 1e-12 units) drops below ``tol_fp`` or
    ``max_iters`` is reached. Returns (ranks, iterations_run).

    This is the production loop shape for 100 TB graphs: unrolling 20
    iterations into one plan would blow the optimizer (persist alone
    does NOT truncate the logical plan — analysis cost grows per
    iteration until the driver OOMs), so each iteration
    ``localCheckpoint``s its output, cutting lineage to the
    materialized blocks — constant plan size in iteration count, one
    plan per step. A fault-tolerant deployment would use reliable
    ``checkpoint()`` to cluster storage instead (localCheckpoint
    blocks die with an executor). The convergence check is a single
    collected scalar per iteration (inherent to any convergence-gated
    loop).
    """
    deg, edges_deg, nodes, ranks, n, bc_edges = _graph_frames(edges)
    if n == 0:
        return ranks, 0
    ranks = ranks.localCheckpoint()
    done = 0
    for i in range(max_iters):
        new_ranks = _pagerank_step(
            nodes, edges_deg, deg, ranks, n, dangling, bc_edges=bc_edges
        ).localCheckpoint()
        delta = (
            new_ranks.alias("a")
            .join(ranks.alias("b"), "node")
            .agg(F.sum(F.abs(F.col("a.r") - F.col("b.r"))).alias("d1"))
            .collect()[0]["d1"]
        )
        ranks = new_ranks
        done = i + 1
        if delta < tol_fp:
            break
    return ranks, done


def _pagerank_dangling_oracle() -> str:
    """Directed customer->supplier purchase graph: suppliers never buy,
    so every supplier node is dangling — the oracle carries the same
    per-iteration dangling-mass redistribution as the engine."""
    scale_sql = f"CAST({_SCALE} AS BIGINT)"
    tp = (
        f"(({_DAMP_DEN - _DAMP_NUM} * {scale_sql}) // {_DAMP_DEN})"
        " // (SELECT n FROM nn)"
    )
    its = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        its.append(f"""
dang{i} AS (
    SELECT COALESCE(SUM(r), 0) AS dm FROM {prev}
    WHERE node NOT IN (SELECT s FROM deg)
),
it{i} AS (
    SELECT nodes.node,
           CAST({tp}
             + ({_DAMP_NUM} * (COALESCE(cs.cs, 0)
                 + (SELECT dm FROM dang{i}) // (SELECT n FROM nn)))
               // {_DAMP_DEN} AS BIGINT) AS r
    FROM nodes
    LEFT JOIN (
        SELECT e.d AS node, SUM({prev}.r // deg.deg) AS cs
        FROM edges e
        JOIN {prev} ON {prev}.node = e.s
        JOIN deg ON deg.s = e.s
        GROUP BY e.d
    ) cs ON cs.node = nodes.node
)""")
        prev = f"it{i}"
    return f"""
WITH edges AS (
    -- an edge needs BOTH endpoints (the basket_part_pairs contract):
    -- a NULL-custkey order whose orderkey joins lineitem would put a
    -- NULL s into deg, turning the dangling-mass NOT IN below UNKNOWN
    -- for every node (dm collapses to 0) while the engine's left_anti
    -- treats NULL-key nodes as dangling — pin identically on both
    SELECT DISTINCT o.o_custkey * 2 AS s, l.l_suppkey * 2 + 1 AS d
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL
),
nodes AS (SELECT s AS node FROM edges UNION SELECT d FROM edges),
deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
    SELECT node, {scale_sql} // (SELECT n FROM nn) AS r FROM nodes
),{",".join(its)}
SELECT (node - 1) // 2 AS s_suppkey, CAST(r AS BIGINT) AS rank_fp
FROM {prev} WHERE node % 2 = 1
"""


@query("graph_pagerank_dangling", oracle=_pagerank_dangling_oracle())
@per_session("pagerank_dangling")
def graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the DIRECTED customer->supplier purchase graph
    (customer links to every supplier they bought from). Suppliers have
    no out-edges, so the entire supplier side is dangling — this query
    is the driver-checked exercise of the dangling-mass redistribution
    contract (`pagerank_dangling`), complementing `graph_pagerank`
    whose undirected graph has none.

    Node keys are parity-encoded (custkey*2, suppkey*2+1) so the two
    key spaces cannot collide; output decodes supplier ranks only.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # an edge needs BOTH endpoints — same NULL contract as the oracle
    # (see _pagerank_dangling_oracle) and basket_part_pairs
    edges = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("o_custkey").isNotNull() & F.col("l_suppkey").isNotNull()
        )
        .select(
            (F.col("o_custkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .distinct()
    )
    ranks, _deg = pagerank_dangling(edges, iters=_ITERS)
    return ranks.filter(F.col("node") % 2 == 1).select(
        F.expr("(node - 1) div 2").cast("long").alias("s_suppkey"),
        F.col("r").alias("rank_fp"),
    )


_BASKET_MIN_PAIR = 3
_BASKET_TOPK = 25


@query(
    "basket_part_pairs",
    family="basket",
    oracle=f"""
WITH items AS (
    -- a basket membership needs BOTH keys: engine-side collect_set
    -- skips NULL parts and a NULL orderkey groups rows that are not a
    -- basket, while COUNT(DISTINCT) here would skip it — pin the
    -- contract identically on both engines
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
),
n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
isup AS (SELECT l_partkey, COUNT(*) AS n_i FROM items GROUP BY l_partkey),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
)
SELECT p.part_a, p.part_b, p.n_ab,
       CAST(p.n_ab AS DOUBLE) / o.n AS support,
       (CAST(p.n_ab AS DOUBLE) * o.n)
           / (CAST(ia.n_i AS DOUBLE) * ib.n_i) AS lift
FROM pairs p
JOIN isup ia ON ia.l_partkey = p.part_a
JOIN isup ib ON ib.l_partkey = p.part_b
CROSS JOIN n_orders o
WHERE p.n_ab >= {_BASKET_MIN_PAIR}
ORDER BY (CAST(p.n_ab AS DOUBLE) * o.n)
           / (CAST(ia.n_i AS DOUBLE) * ib.n_i) DESC,
         p.part_a ASC, p.part_b ASC
LIMIT {_BASKET_TOPK}
""",
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: part pairs bought together more often
    than chance — top pairs by lift with support, the co-purchase
    statistic behind "frequently bought together".

    Shape at scale: baskets collapse to DISTINCT (order, part) and
    then to one sorted part-array row per order (both on the SAME key,
    one exchange); ordered pairs generate row-locally from each array
    (quadratic only in basket width, bounded) — no self-join shuffle;
    item supports are a dimension-sized aggregate broadcast back;
    final ranking is a TakeOrdered top-k. All counts
    integer; support and lift are single-expression doubles over
    identical operands — engine-exact, no transcendentals.

    The basket frame (one sorted part array per order) is the shared
    persisted intermediate `_baskets`, and the pair counts themselves
    are the session-shared persisted `_pair_counts` frame (ordered
    pairs generate ROW-LOCALLY, quadratic only in bounded basket width
    — no self-join shuffle at any scale); basket_rules and
    graph_triangles reuse both.
    """
    baskets = _baskets(spark, sf_dir)
    n_orders = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    isup = _item_supports(spark, sf_dir)
    pairs = _pair_counts(spark, sf_dir).filter(
        F.col("n_ab") >= _BASKET_MIN_PAIR
    )
    ia = isup.select(
        F.col("l_partkey").alias("part_a"), F.col("n_i").alias("n_a")
    )
    ib = isup.select(
        F.col("l_partkey").alias("part_b"), F.col("n_i").alias("n_b")
    )
    lift = (F.col("n_ab").cast("double") * F.col("n")) / (
        F.col("n_a").cast("double") * F.col("n_b")
    )
    n_part = table_rows(spark, sf_dir, "part")  # |ia| <= |part|
    # ia/ib derive under the persisted _baskets fragment -> static
    # planner only; above budget pin the hash build (see broadcast_dim)
    return (
        pairs.join(broadcast_dim(ia, n_part, fallback="shuffle_hash"), "part_a")
        .join(broadcast_dim(ib, n_part, fallback="shuffle_hash"), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("n")).alias("support"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(_BASKET_TOPK)
    )


@per_session("basket", persist=True)
def _baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-order sorted part-array frame both basket queries start
    from (distinct (order, part) -> one groupBy on the SAME key).
    Persisted and memoized per session: on a cluster this is the
    materialized intermediate every basket-analysis run (pairs, rules,
    any future width-3 miner) shares instead of re-scanning the fact
    table; here it keeps the second basket query from repeating the
    lineitem distinct+collect pass."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    return items.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )


@per_session("basket", persist=True)
def _item_supports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part basket support (l_partkey, n_i) — one explode+groupBy
    over the persisted basket frame, persisted + memoized per session.
    The frame is part-dimension-sized (cache cost trivial at any SF),
    and persisting it spares each basket query its own explode pass
    over the basket arrays; both queries join it back as their
    broadcast support dimension."""
    return (
        _baskets(spark, sf_dir)
        .select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )


@per_session("basket", persist=True)
def _pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase pair counts (part_a < part_b, n_ab) — the ONE
    row-local pair-generation pass over the persisted basket frame,
    persisted at the LOWEST threshold any consumer applies (min of the
    basket/rule/triangle cutoffs) and memoized per session. The pair
    pass is the dominant cost of every co-purchase analysis (quadratic
    in basket width, one exchange on the composite key); on a cluster
    this is the materialized intermediate the whole basket tier —
    part pairs, rules, the triangle graph's edge list — shares instead
    of regenerating per query. Persisting above n_ab >= min-threshold
    drops the singleton-pair bulk, so the cached frame stays
    pair-dimension-sized at any SF."""
    floor = min(_BASKET_MIN_PAIR, _RULE_MIN_PAIR, _TRI_MIN_COBUY)
    return (
        _baskets(spark, sf_dir)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) ->"
                    " transform(slice(parts, i + 2, size(parts)),"
                    "           y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= floor)
    )


_RULE_MIN_PAIR = 3
_RULE_TOPK = 30


@query(
    "basket_rules",
    family="basket",
    oracle=f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
),
n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
isup AS (SELECT l_partkey, COUNT(*) AS n_i FROM items GROUP BY l_partkey),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_RULE_MIN_PAIR}
),
rules AS (
    SELECT part_a AS antecedent, part_b AS consequent, n_ab FROM pairs
    UNION ALL
    SELECT part_b, part_a, n_ab FROM pairs
)
SELECT r.antecedent, r.consequent, r.n_ab,
       CAST(r.n_ab AS DOUBLE) / ia.n_i AS confidence,
       (CAST(r.n_ab AS DOUBLE) * o.n)
           / (CAST(ia.n_i AS DOUBLE) * ic.n_i) AS lift
FROM rules r
JOIN isup ia ON ia.l_partkey = r.antecedent
JOIN isup ic ON ic.l_partkey = r.consequent
CROSS JOIN n_orders o
ORDER BY CAST(r.n_ab AS DOUBLE) / ia.n_i DESC,
         r.antecedent ASC, r.consequent ASC
LIMIT {_RULE_TOPK}
""",
)
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules: directional A=>B recommendations ranked by
    confidence P(B|A) = n_ab / n_a, with lift to expose rules that are
    only popular-item artifacts — the classic Apriori output, restricted
    to width-2 rules (the width the pair machinery mines exactly).

    Shape at scale: identical to basket_part_pairs up to the pair
    counts (one exchange to baskets, row-local pair generation, no
    self-join); each undirected pair then emits its two directions as a
    row-local UNION, supports broadcast back, final ranking a
    TakeOrdered top-k. Confidence and lift are single-expression
    doubles over identical integer operands — engine-exact. Starts
    from the shared persisted `_baskets` and `_pair_counts` frames
    (one basket pass and one pair pass serve the whole basket tier).
    """
    baskets = _baskets(spark, sf_dir)
    n_orders = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    isup = _item_supports(spark, sf_dir)
    pairs = _pair_counts(spark, sf_dir).filter(
        F.col("n_ab") >= _RULE_MIN_PAIR
    )
    rules = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "n_ab",
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "n_ab",
        )
    )
    ia = isup.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_i").alias("n_a")
    )
    ic = isup.select(
        F.col("l_partkey").alias("consequent"), F.col("n_i").alias("n_c")
    )
    confidence = F.col("n_ab").cast("double") / F.col("n_a")
    lift = (F.col("n_ab").cast("double") * F.col("n")) / (
        F.col("n_a").cast("double") * F.col("n_c")
    )
    n_part = table_rows(spark, sf_dir, "part")  # |ia| <= |part|
    # ia/ic derive under the persisted _baskets fragment -> static
    # planner only; above budget pin the hash build (see broadcast_dim)
    return (
        rules.join(broadcast_dim(ia, n_part, fallback="shuffle_hash"), "antecedent")
        .join(broadcast_dim(ic, n_part, fallback="shuffle_hash"), "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            confidence.alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(
            F.col("confidence").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        )
        .limit(_RULE_TOPK)
    )


# ---------------------------------------------------------------------------
# Triangle counting over the co-purchase graph: parts are vertices, an
# edge connects two parts bought together in >= _TRI_MIN_COBUY distinct
# orders, and a triangle is three parts pairwise co-bought — the
# community/cohesion primitive (clustering coefficient, spam-graph
# detection, feature for recommendation). Degree orientation (Cohen,
# "Graph Twiddling in a MapReduce World", 2009) makes each wedge
# generate from the LOWER-degree endpoint, bounding per-vertex fan-out
# at O(sqrt(E)) however hot the hub — the standard trick that keeps an
# E^2 self-join at bay on power-law graphs.

_TRI_MIN_COBUY = 2  # co-purchase count that makes an edge


@query(
    "graph_triangles",
    family="basket",
    oracle=f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_TRI_MIN_COBUY}
),
deg AS (
    SELECT p, COUNT(*) AS d
    FROM (SELECT u AS p FROM edges UNION ALL SELECT v FROM edges)
    GROUP BY p
),
oriented AS (
    SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
           CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t,
           CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS dt
    FROM edges JOIN deg du ON du.p = u JOIN deg dv ON dv.p = v
),
tri AS (
    SELECT e1.s AS a, e1.t AS b, e2.t AS c
    FROM oriented e1
    JOIN oriented e2 ON e1.s = e2.s AND (e1.dt, e1.t) < (e2.dt, e2.t)
    JOIN oriented e3 ON e3.s = e1.t AND e3.t = e2.t
)
SELECT p AS part, CAST(COUNT(*) AS BIGINT) AS n_tri
FROM (SELECT a AS p FROM tri UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
GROUP BY p
""",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph: for
    every part in at least one triangle, how many triangles it closes.

    Shape at scale: the edge list is a filter+project over the
    session-shared persisted pair-counts frame (whose pairs generate
    ROW-LOCALLY from the basket frame — no self-join on the fact
    table, quadratic only in bounded basket width); the degree table is
    vertex-dimension-sized and broadcasts under the edge frame; the
    wedge self-join runs on the DEGREE-ORIENTED edge list, so each
    wedge enumerates from its lowest-degree vertex (out-degree bounded
    by O(sqrt(E)) — the hub that would explode an unoriented self-join
    contributes no wedges); closure is one equi-join of wedges against
    oriented edges on the composite (source, target) key. The oracle
    derives the identical graph from lineitem with the self-join
    formulation — same edge multiset, same orientation rule
    (lexicographic (degree, part) — strict total order because part
    keys are distinct), so the triangle sets agree exactly.
    """
    # the edge list is a cheap filter+project over the session-shared
    # persisted pair-counts frame (no separate persist needed)
    edges = (
        _pair_counts(spark, sf_dir)
        .filter(F.col("n_ab") >= _TRI_MIN_COBUY)
        .select(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
    )
    deg = (
        edges.select(F.col("u").alias("p"))
        .unionAll(edges.select(F.col("v").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = F.col("du.d")
    dv = F.col("dv.d")
    u_first = F.struct(du.alias("d"), F.col("u").alias("p")) < F.struct(
        dv.alias("d"), F.col("v").alias("p")
    )

    def build_oriented() -> DataFrame:
        n_part = table_rows(spark, sf_dir, "part")  # |deg| <= |part|
        # deg derives under the persisted edges fragment -> static
        # planner only; above budget pin the hash build
        return (
            edges.join(
                broadcast_dim(deg.alias("du"), n_part, fallback="shuffle_hash"),
                F.col("du.p") == F.col("u"),
            )
            .join(
                broadcast_dim(deg.alias("dv"), n_part, fallback="shuffle_hash"),
                F.col("dv.p") == F.col("v"),
            )
            .select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
                F.when(u_first, dv).otherwise(du).alias("dt"),
            )
        )

    oriented = shared_frame(spark, ("basket", "tri_oriented", sf_dir), build_oriented)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedge_ord = F.struct(
        F.col("e1.dt").alias("d"), F.col("e1.t").alias("p")
    ) < F.struct(F.col("e2.dt").alias("d"), F.col("e2.t").alias("p"))
    tri = (
        e1.join(e2, (F.col("e1.s") == F.col("e2.s")) & wedge_ord)
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.t")) & (F.col("e3.t") == F.col("e2.t")),
        )
        .select(
            F.col("e1.s").alias("a"),
            F.col("e1.t").alias("b"),
            F.col("e2.t").alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
