"""Registry consistency canaries: the driver consumes CHECK_PRIORITY
ordering and the queries()/oracle_sql() dicts verbatim, so a typo'd
priority entry or a new query drifting past the driver's ~50-query
check budget silently loses its CORRECTNESS row. These tests make that
loss loud."""

from __future__ import annotations

from simplemapreduceframework_spark import registry

registry.load_all()

# The driver's per-round correctness budget (50 in every observed
# round). New queries listed beyond this index never get a row.
_DRIVER_BUDGET = 50

# Round-18 check window (optimization round 2): the re-green rule is
# supreme — the head leads with the 15 queries whose executed code
# path changed this round (the 9 multimodal codec queries whose
# inner loops were rewritten — decode outputs verified value-equal,
# but the executed code changed; the 3 persisted-CC-label consumers
# plus dedup_clusters; the ann_search_ivf eviction-order fix's gate;
# and graph_pagerank, whose construction now counts nodes from the
# deg cache). Next come the 15 rows displaced from the r17 window
# (ROADMAP.md "Round 18 window staging"), then the 20 oldest
# remaining rows (last green r14, alphabetical). Zero rows-only
# queries in this head: expect 50 hash-green rows.
_ROUND18_MUST_CHECK = [
    "multimodal_decode_gif",
    "multimodal_decode_jpeg",
    "multimodal_decode_color",
    "multimodal_decode_subsampled",
    "multimodal_decode_progressive",
    "multimodal_decode_lossless",
    "multimodal_audio_adpcm",
    "multimodal_audio_flac",
    "multimodal_audio_real",
    "dedup_clusters",
    "dedup_canonical",
    "split_leakage_safe",
    "entity_golden_records",
    "ann_search_ivf_gate",
    "graph_pagerank",
    "streaming_hygiene_live",
    "streaming_ingest_pipeline_live",
    "streaming_session_live",
    "streaming_sliding_live",
    "streaming_stateful_totals_live",
    "table_skew_report",
    "text_bm25_indexed",
    "text_chunk",
    "text_decontaminate",
    "text_pii_scrub",
    "text_quality_classifier",
    "text_repetition_filter",
    "q42_product_profit",
    "streaming_decontaminate_live",
    "streaming_enrich_live",
    "ann_ivf_indexed_gate",
    "basket_rules",
    "dedup_minhash_pr_gate",
    "dedup_ngram_jaccard",
    "events_tumbling_1h",
    "graph_triangles",
    "grouped_avg",
    "incremental_mv_refresh",
    "multimodal_decode_real",
    "multimodal_meta",
    "q10_rollup",
    "q11_cube",
    "q12_setops",
    "q13_distinct_agg",
    "q14_scalar_gauntlet",
    "q15_conditional_agg",
    "q16_having",
    "q17_multisort_limit",
    "q18_outer_join",
    "q19_cross_join",
]


def test_priority_entries_exist_and_are_unique():
    missing = [q for q in registry.CHECK_PRIORITY if q not in registry.QUERIES]
    assert not missing, f"CHECK_PRIORITY names unknown queries: {missing}"
    dupes = {
        q
        for q in registry.CHECK_PRIORITY
        if registry.CHECK_PRIORITY.count(q) > 1
    }
    assert not dupes, f"duplicate CHECK_PRIORITY entries: {dupes}"


def test_new_queries_sit_inside_the_driver_budget():
    window = registry.CHECK_PRIORITY[:_DRIVER_BUDGET]
    out = [q for q in _ROUND18_MUST_CHECK if q not in window]
    assert not out, (
        f"new queries outside the driver's {_DRIVER_BUDGET}-query check "
        f"window (would never get a CORRECTNESS row): {out}"
    )


def test_every_query_has_oracle_or_documented_rows_only():
    rows_only = set(registry.QUERIES) - set(registry.ORACLES)
    assert rows_only == registry.ROWS_ONLY
    # rows-only stays a short, deliberate list (each needs a twin gate)
    assert len(rows_only) <= 6, sorted(rows_only)


def test_every_query_is_named_documented_and_owned_by_its_module():
    """Row-registered queries (the codec table, the SQL-text rows) must
    read like hand-written ones: the registered name, a docstring, and
    the declaring module as ``__module__`` (OPERATORS.md groups by it),
    never the registry that built the function."""
    import inspect
    import sys

    owners = tuple(
        f"{registry.__package__}.{pkg}."
        for pkg in ("operators", "compat", "sources")
    )
    for name, fn in registry.QUERIES.items():
        assert fn.__name__ == name
        assert (fn.__doc__ or "").strip(), name
        assert fn.__module__.startswith(owners), (name, fn.__module__)
        source = inspect.getsource(sys.modules[fn.__module__])
        assert f'"{name}"' in source, (name, fn.__module__)


def test_ordering_puts_priority_head_first():
    ordered = list(registry.all_queries())
    head = [q for q in registry.CHECK_PRIORITY if q in registry.QUERIES]
    assert ordered[: len(head)] == head


def test_bench_manifest_matches_headline_order():
    """The driver-captured bench line carries per-query timings as a
    bare centisecond array; BENCH_MANIFEST.json is the committed
    name<->index map. A HEADLINE edit without a manifest regen would
    silently mislabel every timing in the round record."""
    import json
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:  # r16 ADVICE: no duplicate-path build-up
        sys.path.insert(0, root)
    from bench import HEADLINE

    with open(os.path.join(root, "BENCH_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert manifest["order"] == HEADLINE
    assert manifest["t_unit"] == "centiseconds"
    # every headline query is a registered query
    missing = [q for q in HEADLINE if q not in registry.QUERIES]
    assert not missing, missing
    # the emitted line must stay below the driver's tail capture
    # (exactly 2000 bytes in every committed BENCH_r*.json). The r18
    # line = t_cs array (worst-case 6 bytes per timing) + ~450 bytes
    # of metadata + the LINE_PRIORITY named dict, which bench.py
    # self-sizes under LINE_BYTE_BUDGET — pin the floor leaves room
    # for at least 25 named entries, and the budget under the capture.
    from bench import LINE_BYTE_BUDGET, LINE_PRIORITY

    assert LINE_BYTE_BUDGET <= 1900
    fixed = 6 * len(HEADLINE) + 450
    head_cost = sum(len(n) + 9 for n in LINE_PRIORITY[:25])
    assert fixed + head_cost < LINE_BYTE_BUDGET
    # the priority list names real headline queries, exactly once each
    assert sorted(LINE_PRIORITY) == sorted(HEADLINE)


def test_bench_named_fill_skips_a_wide_boundary_entry():
    """bench.fill_named keeps scanning past an entry that overflows the
    byte budget: a wide boundary entry costs only itself, shorter
    lower-priority entries still fill the slack, and the named set does
    not depend on the boundary value's width."""
    import json

    from bench import fill_named

    budget = 100
    priority = ["a1", "a2", "x" * 80, "b1", "b2", "c" * 60]

    def fits(named: dict[str, float]) -> bool:
        return len(json.dumps({"queries": named})) <= budget

    sets = []
    for wide_value in (1.5, 123.45):
        timings = {n: 1.25 for n in priority}
        timings["x" * 80] = wide_value
        named = fill_named(priority, timings, fits)
        assert fits(named)
        sets.append(set(named))
    assert sets[0] == sets[1] == {"a1", "a2", "b1", "b2"}


def test_operators_md_is_current():
    """OPERATORS.md is generated from the registered docstrings; a
    query whose docstring changed without regenerating it fails here
    (run python scripts/gen_operator_docs.py)."""
    import os

    from scripts.gen_operator_docs import OUT, render

    with open(OUT) as f:
        committed = f.read()
    assert committed == render(), (
        f"{os.path.basename(OUT)} is stale: run "
        "python scripts/gen_operator_docs.py"
    )
