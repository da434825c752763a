"""Record linkage / entity resolution: fuzzy matching of dirty entity
names via blocking + edit-distance verification — the classic
dedupe-entities step of a data-integration pipeline (same
block-then-verify shape as dedup.py's MinHash tier, but for SHORT keys
where edit distance, not Jaccard, is the right metric).

The reference has no linkage tier; this extends its grouped workloads
(reference client.py:24-27 table mode, README.md:25-36 grouped recipe)
to pairwise matching, Spark-first: collapse records to distinct names
BEFORE the quadratic step, block on a cheap deterministic key, and
verify candidate pairs with the built-in levenshtein (JVM codegen, no
Python).

All outputs are integers and strings — bit-exact across engines by
construction (levenshtein is unit-cost edit distance in both Spark and
DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session_memo import per_session
from ..sources import load_table

_LEV_MAX = 2


@query(
    "fuzzy_match_parts",
    oracle=f"""
WITH names AS (
    SELECT p_name, COUNT(*) AS n_records
    FROM part GROUP BY p_name
),
blocked AS (
    SELECT p_name, n_records,
           string_split(p_name, ' ')[-1] AS block
    FROM names
)
SELECT a.p_name AS a_name, b.p_name AS b_name,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
       a.n_records AS a_records, b.n_records AS b_records
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {_LEV_MAX}
""",
)
def fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching over part names: candidate merge pairs
    whose names agree on the blocking key (the trailing product noun)
    and sit within levenshtein distance 2 of each other, with each
    side's record count.

    Shape at scale: the groupBy collapses the fact-scale part table to
    its DISTINCT names (bounded by name-domain cardinality, not row
    count) before any pairing, so the quadratic verify runs on a
    dimension-sized input; the self-join is a single hash-partitioned
    equi-join on the block key. A skewed block (one dominant noun)
    is an AQE skew-join case; for truly open name domains the block
    key would widen (noun + adjective prefix) to bound block size,
    exactly like the shingle-bucket cap in dedup_ngram_jaccard.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .withColumn("block", F.element_at(F.split("p_name", " "), -1))
    )
    a = names.select(
        F.col("p_name").alias("a_name"),
        F.col("n_records").alias("a_records"),
        F.col("block"),
    )
    b = names.select(
        F.col("p_name").alias("b_name"),
        F.col("n_records").alias("b_records"),
        F.col("block"),
    )
    return (
        a.join(b, "block")
        .filter(F.col("a_name") < F.col("b_name"))
        .filter(F.levenshtein("a_name", "b_name") <= _LEV_MAX)
        .select(
            "a_name",
            "b_name",
            F.levenshtein("a_name", "b_name").cast("bigint").alias("dist"),
            "a_records",
            "b_records",
        )
    )


_GOLDEN_CTES = f"""
names AS (
    SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_records
    FROM part GROUP BY p_name
),
blocked AS (
    SELECT p_name, n_records,
           string_split(p_name, ' ')[-1] AS block
    FROM names
),
cand AS (
    SELECT a.p_name AS a_name, b.p_name AS b_name
    FROM blocked a JOIN blocked b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_LEV_MAX}
),
edges AS (
    SELECT a_name AS a, b_name AS b FROM cand
    UNION
    SELECT b_name AS a, a_name AS b FROM cand
),
reach(src, dst) AS (
    SELECT p_name, p_name FROM names
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
),
lab AS (SELECT src AS p_name, MIN(dst) AS entity_id FROM reach GROUP BY src),
j AS (
    SELECT l.p_name, l.entity_id, n.n_records
    FROM lab l JOIN names n ON n.p_name = l.p_name
),
ml AS (
    SELECT entity_id, MAX(n_records) AS mx,
           CAST(COUNT(*) AS BIGINT) AS n_names
    FROM j GROUP BY entity_id
),
rep AS (
    SELECT j.entity_id, MIN(j.p_name) AS golden
    FROM j JOIN ml ON ml.entity_id = j.entity_id AND j.n_records = ml.mx
    GROUP BY j.entity_id
)
"""


@per_session("cclabels", persist=True)
def _golden_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (p_name, entity_id) label frame behind
    entity_golden_records — memoized per session AND persisted (r17
    memo; r18 persist): connected_components does eager driver-side
    work during CONSTRUCTION (edge-set checkpoint + the local
    union-find collect / per-round loop actions), so re-constructing
    repeats the whole fixed-point computation, and without the persist
    every EXECUTION re-scans the name domain and rebroadcasts the
    label map (entity_golden_records consumes the frame twice per
    run). A named "cclabels" builder, so the plan canary's memo-family
    protocol (bench.MEMO_FAMILIES) can build it under a controlled
    slate."""
    from .dedup import connected_components

    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    )
    pairs = fuzzy_match_parts(spark, sf_dir).select("a_name", "b_name")
    return connected_components(
        names.select(F.col("p_name").alias("id")),
        pairs.select(
            F.col("a_name").alias("src"), F.col("b_name").alias("dst")
        ),
    ).select(
        F.col("id").alias("p_name"), F.col("component").alias("entity_id")
    )


@query(
    "entity_golden_records",
    family="cclabels",
    oracle=f"""
WITH RECURSIVE {_GOLDEN_CTES}
SELECT j.p_name, j.entity_id, m.n_names, j.n_records,
       r.golden AS canonical_name,
       j.p_name = r.golden AS is_golden
FROM j
JOIN ml m ON m.entity_id = j.entity_id
JOIN rep r ON r.entity_id = j.entity_id
""",
)
def entity_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record election — the step after fuzzy matching that a
    master-data pipeline actually ships: transitive closure over the
    verified merge pairs groups name variants into ENTITIES, and each
    entity elects one canonical ("golden") name — the variant backed by
    the most records, ties to the lexicographically smallest name, so
    the election is total-ordered and hash-exact. Output is every name
    with its entity id, entity size, record count, the entity's
    canonical name, and the keep flag — the merge map a data-steward
    workflow applies.

    Shape at scale: the name domain (dimension-sized, never the fact
    table) feeds the O(log n) large-star/small-star components over the
    blocked-levenshtein pairs; the election is ONE groupBy over the
    entity key using a struct-ordered MIN ((-n_records, name) — most
    records, then smallest name, in a single partial-aggregable pass),
    then a summary-sized join back. The same composition as
    dedup_canonical, over string keys (connected_components is
    key-type-agnostic: its convergence fingerprint is xxhash64-based).

    Oracle: the recursive-CTE closure over the identical candidate
    pairs plus the two-pass (max-records, min-name) election — a
    different formulation forced to the identical choice.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    )
    labels = _golden_labels(spark, sf_dir)
    j = labels.join(names, "p_name")
    stats = j.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_names"),
        F.min(
            F.struct(
                (-F.col("n_records")).alias("neg"),
                F.col("p_name").alias("name"),
            )
        ).alias("best"),
    )
    return j.join(stats, "entity_id").select(
        "p_name",
        "entity_id",
        "n_names",
        "n_records",
        F.col("best.name").alias("canonical_name"),
        (F.col("p_name") == F.col("best.name")).alias("is_golden"),
    )
