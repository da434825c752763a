"""Query registry: the single source of truth for the declared surface.

Every operator from SURVEY.md section 2 registers here as a named query
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the
equivalent DuckDB oracle SQL. ``__spark_entry__.py`` re-exports these
dicts to the driver, and tests iterate them for local oracle parity.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Queries intentionally registered without an oracle (non-SQL-expressible
# or approximate); the driver records a rows-only check for these.
ROWS_ONLY: set[str] = set()
# Query -> the session_memo family of shared frames its plan reads
# (directly, or by CacheManager substituting a matching cached
# fragment). bench.py derives its plan-canary families from this.
# "selfcontained" is the family of queries whose shared frames no
# other family reads (a query's private index, sort or aggregate).
FAMILY: dict[str, str] = {}


def query(
    name: str, oracle: str | None = None, family: str | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a declared query, optionally with oracle SQL
    and the session_memo family its plan reads."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        else:
            ROWS_ONLY.add(name)
        if family is not None:
            FAMILY[name] = family
        return fn

    return deco


def sql_query(
    name: str, sql: str, doc: str, engine: str | None = None
) -> None:
    """Register a query that is one SQL text over the tables' views:
    ``sql`` is its oracle, and Spark runs ``engine`` (a rewrite that
    must hash-match the oracle) when given, else ``sql``. The function
    carries ``name``, ``doc`` and the caller's module (OPERATORS.md
    groups by ``__module__``)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .sources import register_views  # lazy: registry stays a leaf

        register_views(spark, sf_dir)
        return spark.sql(engine or sql)

    run.__name__ = run.__qualname__ = name
    run.__doc__ = doc
    run.__module__ = sys._getframe(1).f_globals["__name__"]
    query(name, oracle=sql)(run)


def load_all() -> None:
    """Import every operator module so registrations run."""
    from .operators import (  # noqa: F401
        bpe,
        dedup,
        graph,
        linalg,
        linkage,
        llmfilters,
        multimodal,
        pipeline,
        referenceq,
        relational,
        relational2,
        relational3,
        retrieval,
        similarity,
        streamingq,
        textanalysis,
        textnorm,
        timeseries,
        traindata,
        udfs,
    )
    from .compat import compatq  # noqa: F401
    from .sources import maintenance  # noqa: F401  (incremental MV query)


# Driver-check ordering. The verify driver checks queries in dict order
# with a per-round cap (50 per round), so the head is whatever most
# needs a fresh CORRECTNESS row. Re-green derivation rule (learned the
# hard way in r11, where the staged rationale under-counted the real
# changed set): at round close, diff the operator sources since the
# previous BENCH commit and enumerate EVERY query whose executed code
# path changed — that enumerated set outranks vintage rotation in this
# head; comment-only / test-only / docs diffs do not displace rows.
# Round 18 (optimization round 2): the re-green enumeration rule is
# supreme, and this round CHANGED query paths. From the operator-source
# diff since the r17 bench commit: multimodal.py (codec inner-loop
# rewrites — JPEG bit reader/LUT + batched IDCT, lossless encode/decode
# inlining, ADPCM transition tables, FLAC CRC tables/unary/fixed
# recurrences, GIF LZW restructuring; every decode output verified
# value-equal against the old implementation, but the executed code
# changed, so the 9 codec-path queries re-green), dedup.py + linkage.py
# (persisted CC label frames -> dedup_clusters, dedup_canonical,
# split_leakage_safe, entity_golden_records), similarity.py
# (ann_search_ivf keeps the corpus persisted -> ann_search_ivf_gate),
# graph.py (pagerank_fixed_point counts nodes from the deg cache ->
# graph_pagerank) — 15 queries. Then the 15 rows displaced from the
# r17 window (ROADMAP.md "Round 18 window staging"), then the 20
# oldest remaining rows (last green r14, alphabetical). Zero rows-only
# queries in this head => expect 50 hash-green rows.
CHECK_PRIORITY: list[str] = [
    # --- r18 re-greens: codec inner-loop rewrites (multimodal.py; every
    # decode output re-verified value-equal, but the executed code
    # changed so the re-green rule applies) -----------------------------
    "multimodal_decode_gif",
    "multimodal_decode_jpeg",
    "multimodal_decode_color",
    "multimodal_decode_subsampled",
    "multimodal_decode_progressive",
    "multimodal_decode_lossless",
    "multimodal_audio_adpcm",
    "multimodal_audio_flac",
    "multimodal_audio_real",
    # --- r18 re-greens: persisted CC label frames (dedup.py,
    # linkage.py), the ann_search_ivf eviction-order fix
    # (similarity.py), and pagerank's deg-cache node count (graph.py) --
    "dedup_clusters",
    "dedup_canonical",
    "split_leakage_safe",
    "entity_golden_records",
    "ann_search_ivf_gate",
    "graph_pagerank",
    # --- staged rotation: the 15 rows displaced from the r17 window
    # (ROADMAP.md "Round 18 window staging") ----------------------------
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
    # --- staged rotation: the 20 oldest remaining rows (last green r14,
    # alphabetical) -----------------------------------------------------
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



def _ordered(d: dict[str, Any]) -> dict[str, Any]:
    head = {k: d[k] for k in CHECK_PRIORITY if k in d}
    tail = {k: v for k, v in d.items() if k not in head}
    return {**head, **tail}


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return _ordered(ORACLES)
