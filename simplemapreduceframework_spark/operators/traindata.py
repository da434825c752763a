"""Training-set assembly operators: the steps between a cleaned corpus
and a training run — split, shuffle/shard, and sequence packing.

All three are HASH-deterministic rather than RNG-based: a training
pipeline needs reproducible splits and shuffles across reruns and
engines (a seeded RNG is engine-specific; md5 of the key is not), and
determinism is what makes every one of these fully oracle-checkable.
The hash is hex32 (first 8 md5 hex digits as int), the engine-shared
primitive used across the dedup tier.

Scale notes: split and shard assignment are row-local expressions (no
shuffle); the shard shuffle is ONE exchange on shard_id; packing is a
per-shard window cumsum (each shard sorts independently — shards are
the parallelism unit, so no global sort anywhere). _N_SHARDS=8 is
validation-scale; size it to O(cluster cores) at 100 TB — the
operators are shard-count-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hex32, tokens_regex
from ..registry import query
from ..session_memo import per_session, shared_frame
from ..sources import load_table

# The split/shard/order/pack formulas live in stages.py, shared with
# pipeline_prepare_training_data; each oracle below is built from the
# same SQL fragments as its engine's Column builders.
from .stages import (
    _ORD_SQL,
    _PACK_LEN,
    _SHARD_SQL,
    _SPLIT_SQL,
    _TEST_PCT,
    _split_bucket,
    assign_shards,
    pack_stats,
)


# The oracle twin of assign_shards over the corpus, shared by
# corpus_shuffle_shard and pack_sequences.
_ASSIGNED_CTE = f"""assigned AS (
    SELECT doc_id,
           {_SHARD_SQL} AS shard_id,
           {_ORD_SQL} AS shuffle_key,
           LEN(regexp_extract_all(text, '\\w+')) AS n_tok
    FROM documents
)"""


@query(
    "split_train_test",
    oracle=f"""
SELECT CASE WHEN {_SPLIT_SQL} < {_TEST_PCT} THEN 'test' ELSE 'train' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEN(regexp_extract_all(text, '\\w+'))) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
""",
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic train/test split (~90/10): the bucket is a
    salted md5 of doc_id, so membership is stable under corpus growth,
    reruns, and engines — the property an RNG split lacks. Assignment
    is row-local (no shuffle); only the summary aggregate exchanges.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.when(_split_bucket("doc_id") < _TEST_PCT, "test")
            .otherwise("train")
            .alias("split"),
            "doc_id",
            F.size(tokens_regex("text")).cast("bigint").alias("n_tok"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@query(
    "corpus_shuffle_shard",
    oracle=f"""
WITH {_ASSIGNED_CTE}
SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc_id,
       CAST(ARG_MIN(doc_id, shuffle_key * 16777216 + doc_id) AS BIGINT) AS first_doc_id
FROM assigned
GROUP BY shard_id
""",
)
def corpus_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding: shard = salted hash of
    doc_id, order within a shard = an independent salted hash — a
    reproducible permutation with no RNG state and no global sort
    (each shard orders independently; writing per-shard sorted files
    is exactly `sorted_rewrite` on (shard_id, shuffle_key)). Output:
    per-shard stats plus the first document in shuffle order, which
    pins the permutation itself in the oracle check.
    """
    docs = load_table(spark, sf_dir, "documents")
    assigned = assign_shards(
        docs.select(
            "doc_id", F.size(tokens_regex("text")).cast("bigint").alias("n_tok")
        )
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        # tie-break 32-bit hash collisions by doc_id via a combined
        # sortable key (doc_id < 2^24 at every validation scale)
        F.min_by("doc_id", F.col("shuffle_key") * 16777216 + F.col("doc_id"))
        .cast("bigint")
        .alias("first_doc_id"),
    )


@query(
    "pack_sequences",
    oracle=f"""
WITH {_ASSIGNED_CTE},
cum AS (
    SELECT shard_id, doc_id, n_tok,
           SUM(n_tok) OVER (PARTITION BY shard_id
                            ORDER BY shuffle_key, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_tok
    FROM assigned
),
packed AS (
    SELECT shard_id, doc_id, n_tok,
           CAST(FLOOR((cum_tok - 1) / {_PACK_LEN}) AS BIGINT) AS pack_id
    FROM cum
)
SELECT shard_id, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_doc_id
FROM packed
GROUP BY shard_id, pack_id
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents (in deterministic
    shuffle order) into fixed-budget training sequences of ~_PACK_LEN
    (512) tokens — pack id = floor of the running token count / budget, the
    streaming-friendly packing a tokenizer pipeline uses.

    The cumsum window partitions by shard, so each shard packs
    independently and in parallel; no global sort or single-partition
    window exists at any scale. Output is per-pack stats (count, token
    fill, first doc), which pins both the permutation and the packing
    arithmetic against the oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    return pack_stats(
        docs.select(
            "doc_id", F.size(tokens_regex("text")).cast("bigint").alias("n_tok")
        )
    )


_SAMPLE_K = 50


@query(
    "sample_bottomk",
    oracle=f"""
SELECT doc_id, source
FROM documents
ORDER BY CAST('0x' || substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT), doc_id
LIMIT {_SAMPLE_K}
""",
)
def sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform corpus sample via bottom-k hashing: the k documents with
    the smallest salted hash ARE a uniform random sample, but unlike an
    RNG sample the membership is deterministic, engine-independent, and
    stable as the corpus grows (a doc enters/leaves the sample only if
    its hash rank crosses k). Plans as TakeOrderedAndProject —
    per-partition k-row heaps, no global sort, no second pass to count
    the population (which rate-based sampling needs).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            hex32(F.concat(F.lit("sample"), F.col("doc_id").cast("string"))).alias(
                "_h"
            ),
        )
        .orderBy("_h", "doc_id")
        .limit(_SAMPLE_K)
        .select("doc_id", "source")
    )


@query(
    "sample_stratified_bottomk",
    oracle=f"""
SELECT source, doc_id FROM (
    SELECT source, doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT), doc_id
           ) AS rn
    FROM documents
) WHERE rn <= 5
""",
)
def sample_stratified_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: bottom-5 by salted hash WITHIN
    each source — equal representation per stratum regardless of
    stratum size. One hash-partitioned window (rank pushed into the
    sort via WindowGroupLimit), no RNG, no per-stratum rate tuning.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        hex32(F.concat(F.lit("strat"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id")
    )


@query(
    "sample_weighted_bottomk",
    oracle=f"""
SELECT doc_id, source, CAST(LENGTH(text) AS BIGINT) AS weight
FROM documents
WHERE text IS NOT NULL AND LENGTH(text) > 0
ORDER BY -ln((CAST('0x' || substr(md5('wsample' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1) / 4294967296.0)
             / LENGTH(text),
         doc_id
LIMIT {_SAMPLE_K}
""",
)
def sample_weighted_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sample without replacement via Efraimidis-Spirakis
    A-ES keys (doc weight = char length — the standard byte-budget
    sampling a corpus-mixing pipeline uses): each doc draws the
    deterministic uniform u = (salted-hash + 1) / 2^32 and the k
    smallest exponential keys -ln(u)/w ARE a weight-proportional
    sample — one pass, no RNG state, no population count, membership
    stable under corpus growth (same properties as sample_bottomk,
    plus weighting). Plans as TakeOrderedAndProject: per-partition
    k-row heaps, no global sort.

    Exactness: u is an exact dyadic double (integer / 2^32) built from
    the same md5 prefix on both engines, so the key differs across
    engines by at most 1 ulp of ln — order-flipping would need two
    keys within ~1e-16 relative, impossible among the synthetic
    corpus's well-separated lengths. Zero-length and NULL docs are
    excluded on both sides (their key degenerates: NULL sorts
    FIRST/LAST differently per engine; w=0 divides by zero)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    u = (
        hex32(F.concat(F.lit("wsample"), F.col("doc_id").cast("string")))
        + 1
    ) / F.lit(4294967296.0)
    key = -F.log(u) / F.length("text")
    return (
        docs.select(
            "doc_id",
            "source",
            F.length("text").cast("bigint").alias("weight"),
            key.alias("_k"),
        )
        .orderBy("_k", "doc_id")
        .limit(_SAMPLE_K)
        .select("doc_id", "source", "weight")
    )


# Source mixing weights in basis points (1.0 = 10000): oversampled
# "high-quality" tier, neutral tier, downsampled tier. Fractional
# copies resolve deterministically per doc (salted-hash bucket against
# the fractional part), so the mixed multiset is exactly reproducible
# — integer basis points keep the compare exact in both engines.
# The curriculum schedule memoizes per session: the ranked frame
# inside is persisted (see functions.ranking), so repeated invocations
# must reuse one copy — same discipline as textanalysis.text_vocab.

_MIX_BP = {"high": 20000, "mid": 10000, "low": 2500}
# TRY_CAST on both engines: a source name that doesn't end in a number
# ("web-crawl") lands in the 'low' tier instead of failing the whole
# job with an ANSI cast error.
_MIX_TIER_SQL = """CASE
    WHEN TRY_CAST(SUBSTR(source, 4) AS BIGINT) < 5 THEN 'high'
    WHEN TRY_CAST(SUBSTR(source, 4) AS BIGINT) < 13 THEN 'mid'
    ELSE 'low' END"""
_MIX_HASH_SQL = "CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000"


def _mix_tier() -> F.Column:
    n = F.expr("try_cast(substring(source, 4, 10) AS BIGINT)")
    return (
        F.when(n < 5, "high").when(n < 13, "mid").otherwise("low")
    )


@query(
    "corpus_mix_weighted",
    oracle=f"""
WITH tiered AS (
    SELECT doc_id, source,
           {_MIX_TIER_SQL} AS tier,
           LEN(regexp_extract_all(text, '\\w+')) AS n_tok,
           {_MIX_HASH_SQL} AS frac_bucket
    FROM documents
),
copied AS (
    SELECT doc_id, source, tier, n_tok,
           CAST(FLOOR(bp / 10000) AS BIGINT)
             + CASE WHEN frac_bucket < bp % 10000 THEN 1 ELSE 0 END AS n_copies
    FROM (SELECT t.*,
                 CASE tier WHEN 'high' THEN {_MIX_BP["high"]}
                           WHEN 'mid' THEN {_MIX_BP["mid"]}
                           ELSE {_MIX_BP["low"]} END AS bp
          FROM tiered t)
),
exploded AS (
    SELECT doc_id, source, tier, n_tok,
           UNNEST(range(1, n_copies + 1)) AS copy_id
    FROM copied WHERE n_copies > 0
)
SELECT source, tier,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_examples,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(doc_id * copy_id) AS BIGINT) AS mix_checksum
FROM exploded
GROUP BY source, tier
""",
)
def corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted dataset mixing — the step that turns N
    heterogeneous corpora into one training mix with per-source
    sampling rates (oversample high-quality sources, downsample noisy
    ones), as used by every large-scale LM data pipeline.

    rate r = integer copies floor(r) per doc, plus one extra copy iff
    a salted hash bucket of doc_id lands under the fractional part —
    no RNG state, so the mixed multiset is bit-reproducible across
    engines/reruns (the mix_checksum over (doc_id x copy_id) pins it
    in the oracle). Everything before the final aggregate is row-local
    (tier/copies are expressions, the explode is <= ceil(r) rows per
    doc); at 100 TB the exploded mix feeds corpus_shuffle_shard with
    still only that one aggregate/shard exchange.
    """
    docs = load_table(spark, sf_dir, "documents")
    bp = (
        F.when(F.col("tier") == "high", F.lit(_MIX_BP["high"]))
        .when(F.col("tier") == "mid", F.lit(_MIX_BP["mid"]))
        .otherwise(F.lit(_MIX_BP["low"]))
    )
    frac_bucket = (
        hex32(F.concat(F.lit("mix"), F.col("doc_id").cast("string"))) % 10000
    )
    copied = (
        docs.select(
            "doc_id",
            "source",
            _mix_tier().alias("tier"),
            F.size(tokens_regex("text")).cast("bigint").alias("n_tok"),
            frac_bucket.alias("frac_bucket"),
        )
        .withColumn(
            # floor() pinned explicitly on BOTH sides: DuckDB's
            # double->bigint CAST rounds-to-nearest while Spark's
            # truncates, so a weight with fractional part >= 0.5
            # (e.g. bp=15000) would silently diverge without it.
            "n_copies",
            F.floor(bp / 10000).cast("bigint")
            + (F.col("frac_bucket") < bp % 10000).cast("bigint"),
        )
        .filter(F.col("n_copies") > 0)
    )
    exploded = copied.select(
        "doc_id",
        "source",
        "tier",
        "n_tok",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_id"),
    )
    return exploded.groupBy("source", "tier").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_examples"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum(F.col("doc_id") * F.col("copy_id")).alias("mix_checksum"),
    )


@query(
    "curriculum_schedule",
    oracle=r"""
WITH base AS (
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '\w+')) AS BIGINT) AS n_tok,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha
    FROM documents
),
kept AS (SELECT doc_id, n_tok FROM base WHERE 2 * n_alpha >= n_chars),
phased AS (
    SELECT doc_id, n_tok,
           NTILE(4) OVER (ORDER BY n_tok, doc_id) AS phase
    FROM kept
)
SELECT doc_id, n_tok, phase,
       ROW_NUMBER() OVER (PARTITION BY phase
                          ORDER BY n_tok, doc_id) AS rank_in_phase
FROM phased
""",
)
@per_session("curriculum")
def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning schedule: hygiene-filter the corpus (mostly-
    alphabetic docs only — the integer cross-multiply 2*n_alpha >=
    n_chars keeps the gate exact), then order easy-to-hard by token
    count and deal docs into 4 curriculum phases (NTILE) with a
    deterministic rank inside each phase — the easy-first ordering a
    training run consumes phase by phase.

    Shape at scale: the metrics are row-local codegen'd regex counts.
    The oracle states the schedule as NTILE + ROW_NUMBER over a global
    order, but a global Window in Spark plans as a SINGLE-PARTITION
    WindowExec (the classic funnel) — so the engine side instead ranks
    with functions.ranking.global_row_number (range-partitioned sort +
    monotonic-id prefix-sum, fully JVM-side, no Window node) and then
    derives phase and rank_in_phase from the global rank by exact
    integer arithmetic replicating NTILE's first-(n%k)-tiles-get-one-
    extra rule. All outputs integers — engine-exact.
    """
    from ..functions.ranking import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(tokens_regex("text")).cast("bigint").alias("n_tok"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]"), 0))
        .cast("bigint")
        .alias("n_alpha"),
    )
    kept = base.filter(2 * F.col("n_alpha") >= F.col("n_chars")).select(
        "doc_id", "n_tok"
    )
    # the memoized result keeps the ranked frame's cache entry for the
    # session — never released (GlobalRank.release is for
    # non-memoizing callers)
    ranked, n, _release = global_row_number(
        kept, [F.col("n_tok"), F.col("doc_id")]
    )
    k = 4
    size, rem = n // k, n % k
    big = rem * (size + 1)  # rows living in the first `rem` larger tiles
    # `div` is Spark's integral division — no double roundtrip that
    # could misfloor near 2^53 at extreme scale
    phase = (
        F.when(
            F.col("rn") <= big, F.expr(f"(rn - 1) div {size + 1}")
        )
        .otherwise(rem + F.expr(f"(rn - 1 - {big}) div {max(size, 1)}"))
        + 1
    ).cast("bigint").alias("phase")
    out = ranked.select("doc_id", "n_tok", "rn", phase)
    # rank_in_phase = rn - (rows in earlier phases), again pure integer
    start = F.when(
        F.col("phase") <= rem, (F.col("phase") - 1) * (size + 1)
    ).otherwise(big + (F.col("phase") - 1 - rem) * size)
    return out.select(
        "doc_id",
        "n_tok",
        "phase",
        (F.col("rn") - start).cast("bigint").alias("rank_in_phase"),
    )


from .._serde import pickle_by_value as _pbv  # noqa: E402
_pbv(__name__)


# ---------------------------------------------------------------------------
# Deterministic negative sampling for contrastive retrieval training:
# for every anchor vector draw K pseudo-random negatives from the
# corpus, rejecting self-pairs and same-label draws (in-class "false
# negatives" would teach the bi-encoder to push apart vectors that
# belong together). The draw is a seeded hash, not an RNG: both
# engines (and any re-run — reproducible training data is the point)
# derive the identical sample from md5(anchor ':' slot).

_NEG_K = 4  # negatives drawn per anchor before rejection


@per_session("selfcontained")
def _neg_rank(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """The dense vec_id position index (a shared frame) and its row
    count — built once per session for train_negative_sampling."""
    from ..functions.ranking import global_row_number

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    gr = global_row_number(emb, [F.col("vec_id")], out="rn")
    # released BEFORE ranked persists, so ranked's cached plan re-sorts
    # instead of embedding the id-stamped sort's cache entry (the sort
    # is a deterministic range partition: the recomputed stamps equal
    # the ones the row count was taken from)
    gr.release()
    ranked = shared_frame(
        spark, ("selfcontained", "neg_ranked", sf_dir), lambda: gr.df
    )
    return ranked, gr.count


@query(
    "train_negative_sampling",
    family="selfcontained",
    oracle=f"""
WITH ranked AS (
    SELECT vec_id, label, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
    FROM embeddings
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM embeddings),
anchors AS (
    SELECT vec_id, label, UNNEST(range(1, {_NEG_K} + 1)) AS s
    FROM embeddings
),
draws AS (
    SELECT a.vec_id, a.label, a.s,
           (CAST('0x' || substr(md5(a.vec_id || ':' || a.s), 1, 8)
                 AS BIGINT) % n.c) + 1 AS draw
    FROM anchors a CROSS JOIN n
)
SELECT d.vec_id, CAST(d.s AS INT) AS slot,
       r.vec_id AS neg_vec_id, r.label AS neg_label
FROM draws d JOIN ranked r ON r.rn = d.draw
WHERE r.vec_id <> d.vec_id AND r.label <> d.label
""",
)
def train_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K deterministic random negatives per anchor vector, label-aware:
    draws that land on the anchor itself or on its own class are
    rejected (production would redraw those slots; dropping keeps the
    sample a pure function of the corpus — at 10 balanced classes the
    expected yield is ~0.9*K per anchor, and slot ids record which
    draws survived).

    Shape at scale: the dense position index comes from
    global_row_number (range-partitioned sort + per-partition offsets
    — no single-partition Window; the oracle's ROW_NUMBER is the
    semantic twin, not the plan); anchors explode row-locally to K
    slots; the draw joins back to the position index on the dense rank
    — one shuffle equi-join of a Kx frame against the corpus, both
    sides partitioned by the join key. The hash draw is
    hex32(md5) % N, engine-identical by construction.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    ranked, total = _neg_rank(spark, sf_dir)
    anchors = emb.select(
        "vec_id",
        "label",
        F.explode(F.sequence(F.lit(1), F.lit(_NEG_K))).alias("s"),
    )
    draw = (
        hex32(F.concat_ws(":", F.col("vec_id"), F.col("s"))) % F.lit(total)
        + 1
    )
    neg = ranked.select(
        F.col("rn").alias("draw"),
        F.col("vec_id").alias("neg_vec_id"),
        F.col("label").alias("neg_label"),
    )
    return (
        anchors.withColumn("draw", draw)
        .join(neg, "draw")
        .filter(
            (F.col("neg_vec_id") != F.col("vec_id"))
            & (F.col("neg_label") != F.col("label"))
        )
        .select(
            "vec_id",
            F.col("s").cast("int").alias("slot"),
            "neg_vec_id",
            "neg_label",
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe split: the near-dup-aware refinement of split_train_test.
# Hashing doc_id splits a near-duplicate PAIR across train and test
# ~18% of the time (2 * 0.9 * 0.1) — the eval set then contains
# near-copies of training documents and the benchmark leaks. Assigning
# by the CLUSTER label instead moves whole components: by construction
# no verified near-dup pair can straddle the boundary.


from .dedup import _MINHASH_PAIRS_CTES as _PAIR_CTES  # noqa: E402

_LEAKAGE_ORACLE = f"""
WITH RECURSIVE {_PAIR_CTES},
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
),
lab AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
SELECT doc_id, cluster_id,
       CASE WHEN CAST('0x' || substr(
                md5('split' || CAST(cluster_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 100 < {_TEST_PCT}
            THEN 'test' ELSE 'train' END AS split
FROM lab
"""


@query("split_leakage_safe", family="cclabels", oracle=_LEAKAGE_ORACLE)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc train/test assignment keyed on the near-dup cluster
    label: split = salted-hash(cluster_id) % 100, so every document in
    a MinHash-verified near-dup component lands on the same side
    (singleton clusters degenerate to the plain doc_id split — the
    label IS the doc_id).

    Shape at scale: cluster labels come from the memoized O(log n)
    large-star/small-star components (dedup.dedup_clusters); the split
    is a row-local hash of the label; the only new exchange is the
    doc->label equi-join, both sides partitioned on doc_id. The oracle
    recomputes labels via the recursive-CTE closure and applies the
    identical salted hash.
    """
    from .dedup import dedup_clusters

    labels = dedup_clusters(spark, sf_dir)
    split = _split_bucket("cluster_id")
    return labels.select(
        "doc_id",
        "cluster_id",
        F.when(split < _TEST_PCT, "test").otherwise("train").alias("split"),
    )
