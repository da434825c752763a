"""Unit tests for the graph tier (graph.py): fixed-point PageRank
semantics on hand-built graphs plus conservation/shape invariants on
the co-supply query. Oracle parity is covered by test_oracle_parity."""

from __future__ import annotations

from simplemapreduceframework_spark import registry
from simplemapreduceframework_spark.operators.graph import (
    _DAMP_DEN,
    _DAMP_NUM,
    _ITERS,
    _SCALE,
    pagerank_converged,
    pagerank_dangling,
    pagerank_fixed_point,
)

registry.load_all()
Q = registry.QUERIES


def _reference_pagerank(
    edges: list[tuple[int, int]], iters: int
) -> dict[int, int]:
    """Plain-Python twin of the fixed-point contract."""
    out: dict[int, list[int]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    n = len(out)
    teleport = (_DAMP_DEN - _DAMP_NUM) * _SCALE // _DAMP_DEN // n
    r = {v: _SCALE // n for v in out}
    for _ in range(iters):
        incoming: dict[int, int] = {}
        for s, ds in out.items():
            c = r[s] // len(ds)
            for d in ds:
                incoming[d] = incoming.get(d, 0) + c
        r = {
            d: teleport + (_DAMP_NUM * inc) // _DAMP_DEN
            for d, inc in incoming.items()
        }
    return r


def test_pagerank_star_graph_ranks_hub_highest(spark):
    # undirected star: hub 0 <-> leaves 1..4
    pairs = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        [(s, d) for s, d in pairs] + [(d, s) for s, d in pairs],
        "s long, d long",
    )
    ranks, _ = pagerank_fixed_point(edges, iters=_ITERS)
    got = {r["node"]: r["r"] for r in ranks.collect()}
    want = _reference_pagerank(
        [(s, d) for s, d in pairs] + [(d, s) for s, d in pairs], _ITERS
    )
    assert got == want
    hub, leaves = got[0], [got[i] for i in range(1, 5)]
    assert all(hub > leaf for leaf in leaves)
    assert len(set(leaves)) == 1  # symmetric leaves tie exactly


def test_pagerank_chain_graph_matches_reference(spark):
    # undirected chain 0-1-2-3: inner nodes outrank endpoints
    pairs = [(0, 1), (1, 2), (2, 3)]
    both = [(s, d) for s, d in pairs] + [(d, s) for s, d in pairs]
    edges = spark.createDataFrame(both, "s long, d long")
    ranks, _ = pagerank_fixed_point(edges, iters=_ITERS)
    got = {r["node"]: r["r"] for r in ranks.collect()}
    assert got == _reference_pagerank(both, _ITERS)
    assert got[1] > got[0] and got[2] > got[3]


def test_cosupply_pagerank_mass_and_shape(spark, sf_dir):
    rows = Q["graph_pagerank"](spark, sf_dir).collect()
    assert rows
    # every rank positive, degrees consistent, one row per node
    assert all(r["rank_fp"] > 0 and r["degree"] > 0 for r in rows)
    assert len({r["s_suppkey"] for r in rows}) == len(rows)
    # total mass stays within quantization loss of 1.0:
    # each iteration floors once per edge + once per node
    total = sum(r["rank_fp"] for r in rows)
    assert total <= _SCALE
    n_edges = sum(r["degree"] for r in rows)
    assert total >= _SCALE - _ITERS * (n_edges + len(rows) + _DAMP_DEN)


def _reference_pagerank_dangling(
    edges: list[tuple[int, int]], iters: int
) -> dict[int, int]:
    """Plain-Python twin of the dangling-aware directed contract."""
    out: dict[int, list[int]] = {}
    nodes: set[int] = set()
    for s, d in edges:
        out.setdefault(s, []).append(d)
        nodes |= {s, d}
    n = len(nodes)
    teleport = (_DAMP_DEN - _DAMP_NUM) * _SCALE // _DAMP_DEN // n
    r = {v: _SCALE // n for v in nodes}
    for _ in range(iters):
        incoming = {v: 0 for v in nodes}
        dm = sum(r[v] for v in nodes if v not in out)
        for s, ds in out.items():
            c = r[s] // len(ds)
            for d in ds:
                incoming[d] += c
        r = {
            v: teleport
            + (_DAMP_NUM * (incoming[v] + dm // n)) // _DAMP_DEN
            for v in nodes
        }
    return r


def test_pagerank_dangling_chain_matches_reference(spark):
    # directed chain 0 -> 1 -> 2: node 2 is dangling (no out-edges);
    # its mass must recirculate, not vanish
    directed = [(0, 1), (1, 2)]
    edges = spark.createDataFrame(directed, "s long, d long")
    ranks, deg = pagerank_dangling(edges, iters=_ITERS)
    got = {r["node"]: r["r"] for r in ranks.collect()}
    want = _reference_pagerank_dangling(directed, _ITERS)
    assert got == want
    # dangling node 2 (absent from deg) still holds substantial mass
    assert {r["s"] for r in deg.collect()} == {0, 1}
    assert got[2] > 0
    # mass conservation: with redistribution, total stays near SCALE
    # (floor losses only), far above the no-redistribution total
    assert sum(got.values()) > _SCALE * 8 // 10


def test_pagerank_dangling_random_directed_property(spark):
    import random

    for seed in range(4):
        rng = random.Random(7 + seed)
        n = rng.randrange(4, 10)
        directed = sorted(
            {
                (a, b)
                for a in range(n)
                for b in range(n)
                if a != b and rng.random() < 0.35
            }
        )
        if not directed:
            directed = [(0, 1)]
        edges = spark.createDataFrame(directed, "s long, d long")
        ranks, _ = pagerank_dangling(edges, iters=_ITERS)
        got = {r["node"]: r["r"] for r in ranks.collect()}
        want = _reference_pagerank_dangling(directed, _ITERS)
        assert got == want, (seed, got, want)


def test_pagerank_converged_reaches_fixed_point(spark):
    # undirected star converges fast; the loop must stop before
    # max_iters and agree with running the reference that many rounds
    pairs = [(0, i) for i in range(1, 5)]
    both = [(s, d) for s, d in pairs] + [(d, s) for s, d in pairs]
    edges = spark.createDataFrame(both, "s long, d long")
    # damping 0.85 contracts the L1 delta geometrically from ~SCALE
    # (measured: 1.02e12 * 0.85^k), so tolerance 1e11 lands ~iter 15
    ranks, iters = pagerank_converged(edges, tol_fp=10**11, max_iters=30)
    assert 0 < iters < 30
    got = {r["node"]: r["r"] for r in ranks.collect()}
    want = _reference_pagerank_dangling(both, iters)
    assert got == want
    # hub still dominates at the fixed point
    assert all(got[0] > got[i] for i in range(1, 5))


def test_pagerank_random_graphs_property(spark):
    """Property: the distributed fixed-point loop matches the plain-
    Python reference on random undirected graphs (5 seeds, varying
    density) — every node's 1e-12-unit rank, exactly."""
    import random

    for seed in range(5):
        rng = random.Random(100 + seed)
        n = rng.randrange(4, 12)
        base = {(a, b) for a in range(n) for b in range(n) if a < b}
        keep = {e for e in base if rng.random() < 0.5}
        # ensure no isolated node: chain everything once
        keep |= {(i, i + 1) for i in range(n - 1)}
        both = [(s, d) for s, d in keep] + [(d, s) for s, d in keep]
        edges = spark.createDataFrame(both, "s long, d long")
        ranks, _ = pagerank_fixed_point(edges, iters=_ITERS)
        got = {r["node"]: r["r"] for r in ranks.collect()}
        want = _reference_pagerank(both, _ITERS)
        assert got == want, (seed, got, want)


def test_triangles_match_python_model(spark, sf_dir):
    """Recompute the co-purchase triangle counts with a plain-Python
    adjacency model and compare exactly (edge contract: pairs co-bought
    in >= _TRI_MIN_COBUY distinct orders, NULL keys excluded)."""
    from collections import Counter

    from simplemapreduceframework_spark.operators.graph import (
        _TRI_MIN_COBUY,
    )

    items = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .dropna()
        .distinct()
        .collect()
    )
    baskets: dict[int, set[int]] = {}
    for r in items:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    pair_n: Counter = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                pair_n[(a, b)] += 1
    adj: dict[int, set[int]] = {}
    for (a, b), n in pair_n.items():
        if n >= _TRI_MIN_COBUY:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want: Counter = Counter()
    for a in adj:
        for b in adj[a]:
            if b <= a:
                continue
            for c in adj[a] & adj[b]:
                if c > b:
                    want[a] += 1
                    want[b] += 1
                    want[c] += 1
    got = {
        r.part: r.n_tri
        for r in Q["graph_triangles"](spark, sf_dir).collect()
    }
    assert got == dict(want)
    assert sum(got.values()) % 3 == 0


def test_basket_tier_shares_one_persisted_pair_frame(spark, sf_dir):
    """The co-purchase pair pass (the dominant cost of every basket
    analysis) must be paid ONCE per session: basket_part_pairs,
    basket_rules, and graph_triangles all consume the memoized
    persisted frame from _pair_counts, persisted at the LOWEST
    consumer threshold so each query's stricter filter is a cheap
    in-memory scan. Identity and storage level are checked so a
    regression to per-query pair generation fails loudly."""
    from simplemapreduceframework_spark.operators import graph as g
    from simplemapreduceframework_spark.session_memo import release, session_memo

    release(spark, "basket")  # isolate from earlier tests' cache
    memo = session_memo(spark)
    key = ("basket", "_pair_counts", sf_dir)

    Q["basket_part_pairs"](spark, sf_dir).count()
    pairs = memo[key]
    assert pairs.storageLevel.useMemory  # actually persisted

    Q["basket_rules"](spark, sf_dir).count()
    assert memo[key] is pairs  # same frame, no rebuild
    Q["graph_triangles"](spark, sf_dir).count()
    assert memo[key] is pairs

    # the persist floor is the minimum threshold any consumer applies
    floor = min(g._BASKET_MIN_PAIR, g._RULE_MIN_PAIR, g._TRI_MIN_COBUY)
    assert pairs.filter(f"n_ab < {floor}").count() == 0

    release(spark, "basket")
    assert key not in memo
    assert not pairs.storageLevel.useMemory  # release really unpersists


def test_pagerank_budget_branches_agree(spark, monkeypatch):
    """The r17 size-adaptive iteration join: the under-budget plan
    (planner-chosen build over the cached edge frame) and the
    above-budget plan (rank side pinned as the broadcast/SHUFFLE_HASH
    build against the co-partitioned edges) must produce bit-identical
    fixed-point ranks — the budget flag picks a JOIN STRATEGY, never
    arithmetic."""
    from simplemapreduceframework_spark.functions import scale
    from simplemapreduceframework_spark.operators import graph as g

    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    both = [(s, d) for s, d in pairs] + [(d, s) for s, d in pairs]
    edges = spark.createDataFrame(both, "s long, d long")

    ranks_under, deg_under = pagerank_fixed_point(edges, iters=_ITERS)
    got_under = {r["node"]: r["r"] for r in ranks_under.collect()}

    # force every guarded site onto its above-budget branch (same
    # mechanism as the SMRF_BROADCAST_ROW_LIMIT audit override)
    monkeypatch.setattr(g, "BROADCAST_ROW_LIMIT", 0)
    monkeypatch.setattr(scale, "BROADCAST_ROW_LIMIT", 0)
    ranks_over, _ = pagerank_fixed_point(edges, iters=_ITERS)
    got_over = {r["node"]: r["r"] for r in ranks_over.collect()}
    assert got_under == got_over == _reference_pagerank(both, _ITERS)

    dranks_over, _ = pagerank_dangling(
        spark.createDataFrame(pairs, "s long, d long"), iters=_ITERS
    )
    got_dangling_over = {r["node"]: r["r"] for r in dranks_over.collect()}
    assert got_dangling_over == _reference_pagerank_dangling(pairs, _ITERS)

    # middle branch (r18, ADVICE): edge count above the budget but the
    # node count inside it — broadcast_dim pins F.broadcast(ranks) as
    # the build side (not the SHUFFLE_HASH fallback the limit-0 leg
    # exercises); ranks must still be bit-identical
    monkeypatch.setattr(g, "BROADCAST_ROW_LIMIT", 5)
    monkeypatch.setattr(scale, "BROADCAST_ROW_LIMIT", 5)
    ranks_mid, _ = pagerank_fixed_point(edges, iters=_ITERS)
    got_mid = {r["node"]: r["r"] for r in ranks_mid.collect()}
    assert got_mid == got_under
