"""Generate PLANS.md: formatted physical plans for the plan-shape-
critical queries, with the scale property each plan demonstrates.
Run: python scripts/dump_plans.py  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from simplemapreduceframework_spark import get_spark, registry
from simplemapreduceframework_spark.plans import explain_str

SF = "/root/testdata/sf0.1"

SHOWCASE = [
    (
        "q2_filter_project",
        "Predicate pushdown + column pruning: both filters appear in "
        "PushedFilters and ReadSchema holds only the referenced columns "
        "— at 100 TB the scan skips row groups and never decodes the "
        "other columns.",
    ),
    (
        "q6_selective_agg",
        "Scan-dominated aggregate: every predicate pushed, 4-column "
        "ReadSchema, no shuffle beyond the single-row final agg.",
    ),
    (
        "q1_pricing_summary",
        "Partial/final hash aggregation (the reference's combiner, done "
        "by the engine): exactly one exchange; only 6 groups cross it.",
    ),
    (
        "q5_region_revenue",
        "Star join: every dimension side is a BroadcastHashJoin build; "
        "the only shuffle exchange is orders<->lineitem on orderkey.",
    ),
    (
        "q17_multisort_limit",
        "Top-k without a global sort: TakeOrderedAndProject keeps a "
        "k-row heap per partition.",
    ),
    (
        "q8_window_topn_per_group",
        "WindowGroupLimit pushes rank<=3 into the sort: partitions "
        "retain 3 rows per key before the filter.",
    ),
    (
        "dedup_minhash_lsh",
        "MinHash+LSH: signature aggregation is one partial-aggregating "
        "groupBy (16 mins per doc); candidate generation and verify are "
        "key-equi joins — no cross join anywhere in the plan. The "
        "shingle build is slice+arrays_zip+explode: pure codegen, no "
        "per-doc window shuffle.",
    ),
    (
        "pipeline_clean_corpus",
        "Composed cleaning pipeline: the row-local quality filter sits "
        "directly on the scan (biggest volume cut first, no shuffle), "
        "exact dedup is one hash-partitioned window on the survivors, "
        "near-dup removal is a broadcast anti join (the pair list is "
        "tiny relative to the corpus), and the final per-source agg is "
        "partial/final.",
    ),
    (
        "events_dedup",
        "Exact dedup at scale: dropDuplicates on the key plans as a "
        "partial/final hash aggregate — each partition collapses its "
        "duplicates before the exchange, so the shuffle carries unique "
        "keys, not input rows.",
    ),
    (
        "q30_min_cost_supplier",
        "Correlated scalar subquery decorrelated by Catalyst: the "
        "per-part MIN becomes an aggregate joined back to the probe "
        "side — no per-row subquery execution; dimensions broadcast.",
    ),
    (
        "text_vocab",
        "Vocabulary ranking without a single-partition window: "
        "distributed sort + zipWithIndex assigns dense ids; no "
        "'WindowExec: No Partition Defined' anywhere.",
    ),
    (
        "q35_grouping_sets",
        "Custom GROUPING SETS: one Expand node replicates rows per "
        "aggregation level and a single shuffle aggregates the whole "
        "lattice — not one job per level.",
    ),
    (
        "q36_lateral_topn",
        "LATERAL correlated subquery decorrelated: no per-row subquery "
        "execution; the per-customer LIMIT 2 plans as the ranked-window "
        "/ group-limit shape.",
    ),
    (
        "dedup_simhash",
        "SimHash in ONE partial-aggregated shuffle: the 32 per-bit "
        "popcounts plus the token count are codegen'd sums in a single "
        "groupBy(doc_id) — the map side collapses every document to a "
        "33-counter row before the exchange (no 32-way bit explode, no "
        "(doc,word) pre-aggregation).",
    ),
    (
        "text_winnow_fingerprints",
        "Winnowing with ZERO shuffles: gram hashes, w=4 sliding minima, "
        "and per-doc dedup are array expressions inside one projection "
        "— scan -> project -> generate, embarrassingly parallel.",
    ),
    (
        "text_pii_scrub",
        "PII redaction is scan -> project only: regexp counts and the "
        "chained replace run inside whole-stage codegen, zero "
        "exchanges at any scale.",
    ),
    (
        "text_decontaminate",
        "Benchmark decontamination as an inverted index: distinct "
        "per-doc 5-grams equi-join the broadcast benchmark gram set — "
        "no all-pairs comparison; the training side streams through "
        "one scan.",
    ),
    (
        "embedding_quantize",
        "int8 quantization is row-local array math (scale, codes, "
        "reconstruction error inside one projection) — zero exchanges; "
        "compressing a 100 TB vector corpus is a pure map.",
    ),
    (
        "dedup_winnow",
        "Passage-level near-dup via winnowing fingerprints: capped "
        "inverted-index buckets explode ordered pairs in ONE shuffle "
        "(no self-join); per-fingerprint fan-out bounded at cap^2/2 "
        "however hot the boilerplate.",
    ),
    (
        "text_chunk",
        "Overlapping token chunking is scan -> project -> explode: "
        "chunk counts are integer arithmetic, each chunk a row-local "
        "array slice — no shuffle at any scale.",
    ),
    (
        "text_bm25",
        "BM25: one tokenize-explode feeds doc-length agg and "
        "term-pruned postings; idf broadcasts back; ranking is "
        "TakeOrderedAndProject — never a global sort.",
    ),
    (
        "text_bm25_indexed",
        "Persisted inverted index: the postings scan prunes to the "
        "query terms' leading-char PARTITIONS (PartitionFilters) plus "
        "a pushed word IN filter — no corpus scan, no tokenize.",
    ),
    (
        "curriculum_schedule",
        "Global NTILE without a Window node: range-partitioned sort + "
        "monotonic-id prefix-sum ranking, phase/rank derived by "
        "integer arithmetic — no single-partition funnel anywhere.",
    ),
    (
        "graph_pagerank",
        "Fixed-point PageRank: degree-annotated edges persist once "
        "(InMemoryTableScan per iteration); each unrolled step is one "
        "equi-join + one partial-aggregated groupBy.",
    ),
    (
        "events_resample_ffill",
        "Dense-grid resample: hourly rollup is the only fact-scale "
        "exchange; the grid explode is dimension-sized and the rollup "
        "BROADCASTS under it; forward fill reuses the window sort.",
    ),
    (
        "events_range_join_bucketed",
        "Range join co-partitioned on (user, 30-min bucket): the join "
        "keys include the bucket, bounding each task's comparisons to "
        "two bucket widths regardless of per-user history length.",
    ),
    (
        "fuzzy_match_parts",
        "Record linkage: the part table collapses to DISTINCT names "
        "BEFORE the quadratic step; the self-join is one hash "
        "equi-join on the blocking noun.",
    ),
    (
        "events_outlier_mad",
        "MAD outliers: two per-type percentile_disc aggregates "
        "broadcast back onto the fact scan — no hot-key window, the "
        "fact table is scanned, not shuffled.",
    ),
    (
        "table_profile",
        "Scan sharing: 4 profiled columns cost 2 fact scans — columns "
        "batch two-per-aggregate (Expand bounded at batch+1) and the "
        "1-row batch result unpivots via explode, never a "
        "one-arm-per-column UNION.",
    ),
    (
        "graph_pagerank_dangling",
        "Directed PageRank with dangling-mass redistribution: each "
        "unrolled iteration is one equi-join + one partial-agg groupBy "
        "plus a node-scale anti-join aggregate whose 1-row dangling "
        "mass broadcasts into the update; per-iteration rank frames "
        "persist so the double consumption (contribution + dangling "
        "branches) costs one materialization.",
    ),
    (
        "dedup_incremental",
        "Ingest-time dedup never rescans the corpus: the batch "
        "equi-joins the persisted fingerprint store (16-byte keys) "
        "and resolves batch-internal dups with one batch-sized "
        "groupBy — the corpus appears only as its fingerprint "
        "parquet.",
    ),
    (
        "events_funnel",
        "Exact ordered-reachability funnel: stage k is a fact filter "
        "joined (broadcast) to the user-dimension-sized stage-(k-1) "
        "frame then a partial-agg MIN; persisted stage frames keep "
        "each fact filter to one scan — no windows, no per-user "
        "sequence materialization.",
    ),
    (
        "doc_similarity_sparse",
        "Sparse-cosine similarity join: candidate pairs come only from "
        "shared mid-frequency terms (the df cap bounds the df^2 pair "
        "volume); the capped term table persists once and feeds both "
        "join legs plus the norms as InMemoryTableScans — the corpus "
        "is tokenized exactly once; all sums that cross an exchange "
        "are integers.",
    ),
    (
        "events_attribution",
        "First/last-touch attribution: one user-keyed equi-join with "
        "the 7-day range predicate applied row-locally; both ranking "
        "windows partition by (user_id, purchase id) — a superset of "
        "the join key — so the join's partitioning satisfies them and "
        "neither window adds an exchange.",
    ),
    (
        "corpus_snapshot_diff",
        "Dataset version diff: ONE full-outer equi-join of 16-byte "
        "fingerprints — payloads never cross the exchange; both scans "
        "are pruned to (doc_id, text) and the added-docs leg to doc_id "
        "alone with its modulo filter pushed to the scan.",
    ),
    (
        "events_capped_contributions",
        "Contribution bounding: two chained partial-aggregable "
        "groupBys — map-side combine collapses each user's events "
        "before the (user, type) exchange, and the per-type rollup "
        "crosses only a user-sized frame; no window, no join.",
    ),
    (
        "text_normalize_unicode",
        "NFC normalization: scan -> project -> one Arrow-batched "
        "pandas UDF — zero exchanges; the only Python is the "
        "normalizer itself, vectorized over Arrow batches.",
    ),
    (
        "dedup_substring",
        "Exact-substring duplication: the window explode is codegen'd "
        "(transform/sequence/substring, no Python), then exactly "
        "three exchanges — (win,doc) pre-aggregate, win-partitioned "
        "count window, doc rollup — and NO self-join back to the "
        "exploded window corpus.",
    ),
    (
        "sample_weighted_bottomk",
        "Weighted sampling: the A-ES exponential key is a row-local "
        "expression and the plan is TakeOrderedAndProject — "
        "per-partition k-row heaps, no global sort, no RNG state.",
    ),
    (
        "multimodal_decode_subsampled",
        "4:2:0 JPEG decode: two chained row-local mapInPandas stages "
        "(synthesize, decode) over one pruned scan — no shuffle; the "
        "multi-block MCU interleave and upsampling stay inside the "
        "Arrow batch.",
    ),
]


APPENDIX_MARK = "## Appendix: measured 10x scaling"


def main() -> None:
    spark = get_spark("plan-dump")
    registry.load_all()
    # hand-written appendices (the scaling measurements) survive
    # regeneration: everything from APPENDIX_MARK on is carried over
    appendix = ""
    try:
        with open("PLANS.md") as f:
            old = f.read()
        if APPENDIX_MARK in old:
            appendix = old[old.index(APPENDIX_MARK) :]
    except FileNotFoundError:
        pass
    out = [
        "# PLANS — physical-plan evidence for the scale claims",
        "",
        "Generated by scripts/dump_plans.py at sf0.1 "
        "(plans are data-size independent in shape).",
        "",
    ]
    for name, claim in SHOWCASE:
        df = registry.QUERIES[name](spark, SF)
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Claim:** {claim}")
        out.append("")
        out.append("```")
        # the data dir is host-specific: mask it so the file only
        # changes when a plan does
        out.append(explain_str(df).strip().replace(SF, "<sf_dir>"))
        out.append("```")
        out.append("")
    if appendix:
        out.append(appendix)
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
