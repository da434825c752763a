"""Physical-plan assertions: the engine's scale claims, checked the way
the reference checked result values. Pushdown reached the scan, dims
broadcast, top-k avoided a global sort (SURVEY.md section 4: all of
this is Catalyst's job — these tests pin that it actually happens)."""

from __future__ import annotations

import pytest

from simplemapreduceframework_spark import registry
from simplemapreduceframework_spark.plans import (
    explain_str,
    has_broadcast_hash_join,
    n_exchanges,
    pushed_filters,
    read_schema_columns,
)

registry.load_all()
Q = registry.QUERIES


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = Q["q2_filter_project"](spark, sf_dir)
    filters = pushed_filters(df)
    assert any("l_quantity" in f for f in filters), filters
    assert any("l_discount" in f for f in filters), filters


def test_column_pruning_narrow_read_schema(spark, sf_dir):
    df = Q["q2_filter_project"](spark, sf_dir)
    schemas = read_schema_columns(df)
    assert schemas, "no ReadSchema found"
    # 5 projected + 2 filter columns at most; never the full 11-col table
    assert all(len(cols) <= 7 for cols in schemas), schemas


def test_selective_agg_prunes_columns(spark, sf_dir):
    df = Q["q6_selective_agg"](spark, sf_dir)
    schemas = read_schema_columns(df)
    assert all(len(cols) <= 4 for cols in schemas), schemas


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = Q["q5_region_revenue"](spark, sf_dir)
    assert has_broadcast_hash_join(df)


def test_q1_single_shuffle(spark, sf_dir):
    """Partial/final hash agg => exactly one exchange for the groupBy."""
    df = Q["q1_pricing_summary"](spark, sf_dir)
    assert n_exchanges(df) == 1, explain_str(df)


def test_topk_uses_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
    heaps), not a global sort."""
    df = Q["q17_multisort_limit"](spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_semijoin_plans_left_semi(spark, sf_dir):
    df = Q["q4_order_priority_semijoin"](spark, sf_dir)
    assert "LeftSemi" in explain_str(df)


def test_pipeline_near_dedup_is_broadcast_anti_join(spark, sf_dir):
    """The pipeline's near-dup removal must plan as a broadcast anti
    join (the pair list is tiny relative to the corpus — shuffling the
    corpus for it would be the 100 TB mistake)."""
    plan = explain_str(Q["pipeline_clean_corpus"](spark, sf_dir))
    assert "LeftAnti" in plan, plan[:2000]
    assert has_broadcast_hash_join(Q["pipeline_clean_corpus"](spark, sf_dir))


def test_events_dedup_is_partial_final_aggregate(spark, sf_dir):
    """dropDuplicates on the key must plan as partial/final hash
    aggregation: duplicates collapse per partition BEFORE the exchange,
    so the shuffle carries unique keys, not input rows."""
    plan = explain_str(Q["events_dedup"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan[:2000]


def test_decorrelated_scalar_subquery_has_no_subquery_exec(spark, sf_dir):
    """Catalyst must decorrelate q30's per-row scalar MIN into an
    aggregate+join — a correlated per-row subquery execution node in
    the physical plan would be the non-scalable shape."""
    plan = explain_str(Q["q30_min_cost_supplier"](spark, sf_dir))
    assert "Subquery" not in plan or "SubqueryBroadcast" in plan, plan[:2000]
    assert plan.count("HashAggregate") >= 2, plan[:2000]


def test_text_vocab_no_global_window(spark, sf_dir):
    """Vocab id assignment must not use a single-partition window."""
    plan = explain_str(Q["text_vocab"](spark, sf_dir))
    assert "Window" not in plan, plan[:2000]


def test_exchange_count_budgets(spark, sf_dir):
    """Shuffle budgets: each key query must not regress past its known
    exchange count — the cheapest canary for an accidental plan change
    (a lost broadcast, a new unneeded repartition) that correctness
    gates would never catch."""
    budgets = {
        "q1_pricing_summary": 1,
        "q5_region_revenue": 1,
        "q6_selective_agg": 1,
        "events_dedup": 3,
        "q34_event_funnel": 2,
        "split_train_test": 1,
        "pack_sequences": 1,
        "skewed_agg_salted": 2,
        "cms_heavy_hitters": 5,
        # dedup_minhash_lsh is excluded: its exchange count depends on
        # whether the memoized shingle index is already materialized
        # (an InMemoryRelation embeds its child plan, double-counting).
        # text_vocab: the whole rank pipeline is now visible to Catalyst
        # (the old rdd.zipWithIndex hid the sort behind an RDD scan, so
        # the budget used to be 0); its persisted sort stage embeds its
        # child exchanges twice via InMemoryRelation — 4 counted, but
        # only the range exchange + one tiny pid aggregate execute.
        "text_vocab": 4,
    }
    over = {}
    for name, budget in budgets.items():
        got = n_exchanges(Q[name](spark, sf_dir))
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"exchange budget exceeded: {over}"


def test_plan_fingerprints_do_not_grow(spark, sf_dir):
    """Every bench headline query's plan fingerprint (shuffles /
    broadcasts / scans) must not grow past tests/PLAN_BASELINE.json —
    the whole-set canary for accidental plan regressions. Regenerate
    the baseline (scripts/gen_plan_baseline.py) only for INTENTIONAL
    plan changes. Cache-dependent queries are excluded (their memoized
    InMemoryRelations embed child plans nondeterministically across
    test orderings)."""
    import json
    import os

    # conftest.py guarantees the repo root is on sys.path (hoisted,
    # guarded insert) — no per-invocation insert here (r16 ADVICE).
    from bench import CACHE_DEPENDENT, plan_fingerprint

    with open(os.path.join(os.path.dirname(__file__), "PLAN_BASELINE.json")) as f:
        baseline = json.load(f)
    # the baseline generator omits cache-dependent queries, but skip
    # them here too so a hand-edited baseline can't sneak one back in
    grew = {}
    for name, fp0 in baseline.items():
        if name in CACHE_DEPENDENT:
            continue
        fp = plan_fingerprint(Q[name](spark, sf_dir))
        for k in ("shuffles", "broadcasts", "scans"):
            if fp[k] > fp0[k]:
                grew[(name, k)] = {"baseline": fp0[k], "now": fp[k]}
    assert not grew, (
        f"plan fingerprints grew: {grew} — if intentional, regenerate "
        "tests/PLAN_BASELINE.json via scripts/gen_plan_baseline.py"
    )


def _memo_family_names():
    """Collection-time parametrization source. Path setup lives in
    conftest.py (guarded, once — r15 ADVICE: the unguarded insert here
    accumulated duplicate sys.path entries under repeated collection).
    A bench import error must not abort collection of the whole module
    — return a sentinel so the failure surfaces at RUN time, inside
    the parametrized test's own bench import, with the real traceback."""
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    try:
        from bench import MEMO_FAMILIES
    except Exception:
        return ["__bench_import_failed__"]
    return sorted(MEMO_FAMILIES)


@pytest.mark.parametrize("family", _memo_family_names())
def test_memo_family_plans_do_not_grow(spark, sf_dir, family):
    """Every CACHE_DEPENDENT query is skipped by the whole-set canary
    above, so each memo family gets its own canary under a CONTROLLED
    memo state (r13 ADVICE built the hygiene instance; r14 ADVICE
    generalized it to every family): clean the whole session slate
    with release(spark) (memo + CacheManager — so no OTHER family's
    persisted fragment can leak into these plans under unlucky test
    orderings), fingerprint each of the family's builders unpersisted
    and then build it, fingerprint each consumer, and pin no-growth vs tests/PLAN_BASELINE_FAMILIES.json (regenerated
    by the same scripts/gen_plan_baseline.py run as the main baseline).
    bench.py derives the families from the registry's declarations."""
    import json
    import os

    # conftest.py guarantees the repo root is on sys.path (hoisted,
    # guarded insert) — no per-invocation insert here (r16 ADVICE: the
    # unguarded form re-accumulated six duplicate path entries per run).
    from bench import family_plan_fingerprints

    with open(
        os.path.join(os.path.dirname(__file__), "PLAN_BASELINE_FAMILIES.json")
    ) as f:
        baseline = json.load(f)[family]
    got = family_plan_fingerprints(spark, sf_dir, family)
    assert set(got) == set(baseline), (sorted(got), sorted(baseline))
    grew = {}
    for name, fp0 in baseline.items():
        for k in ("shuffles", "broadcasts", "scans"):
            if got[name][k] > fp0[k]:
                grew[(name, k)] = {"baseline": fp0[k], "now": got[name][k]}
    assert not grew, (
        f"{family} family plan fingerprints grew: {grew} — if intentional, "
        "regenerate via scripts/gen_plan_baseline.py"
    )


def test_memo_families_partition_cache_dependent():
    """MEMO_FAMILIES' consumers must cover CACHE_DEPENDENT exactly,
    with no query in two families (bench.py derives both from the
    single-valued registry declarations, so this pins the derivation).
    Also pins that collection produced real family params, not the
    bench-import-failure sentinel."""
    from bench import CACHE_DEPENDENT, MEMO_FAMILIES

    consumers = [n for f in MEMO_FAMILIES.values() for n in f["consumers"]]
    assert set(consumers) == CACHE_DEPENDENT, sorted(
        set(consumers) ^ CACHE_DEPENDENT
    )
    assert len(consumers) == len(set(consumers)), sorted(
        n for n in set(consumers) if consumers.count(n) > 1
    )
    assert _memo_family_names() == sorted(MEMO_FAMILIES)


def test_ann_topk_keeps_partial_and_final_group_limits(spark, sf_dir):
    """Every per-query top-k of the ANN tier must plan as a partial
    WindowGroupLimit below the query_id exchange plus a final one above
    it, so each partition ships at most k rows per query (local pruning
    before the global top-k). Counted in the AQE-final plan after
    execution. ann_lsh_bucketed adds its (query_id, neighbor_id) dedup
    window; each gate adds its exact side's ranking, and
    ann_ivf_indexed_gate reads one exact-side exchange as a
    ReusedExchange, which hides that stage's partial limit."""
    expected = {
        "ann_cosine_topk": 2,
        "ann_lsh_bucketed": 4,
        "ann_ivf_topk": 2,
        "ann_quantized_gate": 6,
        "ann_search_ivf_gate": 6,
        "ann_ivf_indexed_gate": 5,
    }
    got = {}
    for name in expected:
        df = Q[name](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        got[name] = plan.split("== Initial Plan ==")[0].count("WindowGroupLimit")
    assert got == expected


def test_disjunctive_predicate_pushes_or_to_both_scans(spark, sf_dir):
    """TPC-H Q19 shape: the per-table relaxation of the OR-of-ANDs
    must reach BOTH parquet scans as a pushed Or(...) filter, and the
    dimension side must still broadcast."""
    from simplemapreduceframework_spark.plans import (
        explain_str,
        has_broadcast_hash_join,
        pushed_filters,
    )

    df = Q["q38_disjunctive_predicate"](spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    assert "Or(" in filters and "l_quantity" in filters, filters
    assert "p_brand" in filters or "p_size" in filters, filters
    assert has_broadcast_hash_join(df), explain_str(df)


def test_table_profile_shares_scans_across_column_batches(spark, sf_dir):
    """All 4 profiled columns must cost ONE fact scan (r17: a single
    grouping-sets aggregate, Expand = one replica per column, unpivoted
    via explode) — never one UNION ALL arm (= one scan) per column,
    and no return to the r13-r16 two-scan batching."""
    # conftest.py guarantees the repo root is on sys.path (hoisted,
    # guarded insert) — no per-invocation insert here (r16 ADVICE).
    from bench import plan_fingerprint

    fp = plan_fingerprint(Q["table_profile"](spark, sf_dir))
    assert fp["scans"] <= 1, fp


def test_table_profile_fact_pass_is_hash_aggregated(spark, sf_dir):
    """The fact-scale pass must stay a HashAggregate: min/max over the
    STRING column used to ride in the same aggregate as the distinct
    counts, whose immutable string buffer pushed the whole partial
    aggregate to SortAggregate — i.e. a SORT of every expanded fact
    row before aggregating (r17 fix: stats derive from the
    distinct-value rows in the second stage). A Sort whose child is
    the Expand node is exactly that regression."""
    import re

    text = explain_str(Q["table_profile"](spark, sf_dir))
    assert not re.search(
        r"Sort \(\d+\)\s*\n\s*\+- Expand", text
    ), "fact-scale Sort above Expand is back"
    assert "Expand" in text, text[:500]


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Runtime partition pruning: a fact table partitioned on the join
    key, joined to a filtered dimension, must plan a dynamicpruning
    subquery on the fact scan — at 100 TB this is what turns "scan the
    table" into "scan the partitions the dimension selects"."""
    from pyspark.sql import functions as F

    from simplemapreduceframework_spark.sources import load_table

    path = str(tmp_path / "events_part")
    load_table(spark, sf_dir, "events").write.partitionBy(
        "event_type"
    ).mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("purchase", 1), ("error", 2)], "event_type string, pri int"
    )
    q = (
        fact.join(dim, "event_type")
        .filter(F.col("pri") == 1)
        .groupBy("event_type")
        .count()
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
