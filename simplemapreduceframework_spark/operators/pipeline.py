"""End-to-end training-data pipeline: the composed shape a 100 TB
corpus-prep run actually executes — quality filter -> exact dedup ->
near-dup removal -> per-source stats — as ONE oracle-gated query.

Stage order is the scale story: the row-local quality filter runs
first (cheapest, biggest volume cut, no shuffle), exact dedup second
(one hash-groupBy on the survivors), near-dup removal third (the
MinHash/LSH pair list is computed once over the corpus and reused —
on a cluster it is a persisted table shared by every pipeline run),
and only then the per-source aggregate. Every stage is written once
and called here: the quality features are text_quality_score's
builder, the MinHash tails are dedup_minhash_lsh itself, and
pipeline_prepare_training_data's split, shard and packing stages are
the stages.py builders behind split_train_test and pack_sequences.
The oracles chain the same CTEs, so each composition is bit-exact
against DuckDB.

Numeric policy (functions/columns.py): counts and token sums are
BIGINT; quality doubles divide identical integers; the per-source
extremes use MIN/MAX (order-independent), never SUM/AVG of computed
doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scale import broadcast_dim, table_rows
from ..registry import query
from ..sources import load_table
from .dedup import _MINHASH_PAIRS_CTES, dedup_minhash_lsh
from .stages import (
    _ORD_SQL,
    _PACK_LEN,
    _SHARD_SQL,
    _SPLIT_SQL,
    _TEST_PCT,
    _split_bucket,
    keep_first_copy,
    pack_stats,
    quality_features,
)

_MIN_QUALITY = 0.43
_MIN_TOKENS = 20

_PIPELINE_ORACLE = f"""
WITH {_MINHASH_PAIRS_CTES},
metrics AS (
    SELECT doc_id, source, MD5(text) AS content_md5,
           CAST(LEN(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_tok,
           (CAST(LEN(regexp_extract_all(text, '\\b(the|a|of|and|to)\\b')) AS DOUBLE)
              / GREATEST(LEN(regexp_extract_all(text, '\\w+')), 1)
            + CAST(LEN(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
              / GREATEST(LENGTH(text), 1)) / 2 AS quality
    FROM documents
),
quality_kept AS (
    SELECT * FROM metrics
    WHERE quality >= {_MIN_QUALITY} AND n_tok >= {_MIN_TOKENS}
),
exact_deduped AS (
    SELECT doc_id, source, n_tok, quality FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5
                                     ORDER BY doc_id) AS rn
        FROM quality_kept
    ) WHERE rn = 1
),
near_deduped AS (
    SELECT * FROM exact_deduped
    WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       MIN(quality) AS min_quality,
       MAX(quality) AS max_quality
FROM near_deduped
GROUP BY source
"""


def _clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning prefix of both composed pipelines: the
    text_quality_score floor, exact dedup, then MinHash near-dup
    removal. Returns (doc_id, source, n_tok, quality) per survivor.

    Near-dup removal keeps the smallest doc_id of each verified pair
    (docs appearing on the doc_b side are dropped via an anti join).
    The tail list broadcasts here; on a web-scale corpus with 30-50%
    duplication the tail set itself is corpus-sized — there, drop the
    broadcast hint (AQE picks a shuffled anti join) or pre-prune with
    a Bloom sketch of the tails (see bloom_semi_filter) before the
    exact anti join.
    """
    q = quality_features()
    metrics = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("content_md5"),
        q["n_tok"].alias("n_tok"),
        q["quality"].alias("quality"),
    )
    exact_deduped = keep_first_copy(
        metrics.filter(
            (F.col("quality") >= _MIN_QUALITY) & (F.col("n_tok") >= _MIN_TOKENS)
        )
    )
    dup_tails = dedup_minhash_lsh(spark, sf_dir).select("doc_b").distinct()
    return exact_deduped.join(
        # |tails| <= |documents|; tails derive under the persisted
        # shingle/minhash fragments -> pin the hash build above budget
        broadcast_dim(
            dup_tails,
            table_rows(spark, sf_dir, "documents"),
            fallback="shuffle_hash",
        ),
        exact_deduped["doc_id"] == dup_tails["doc_b"],
        "left_anti",
    )


@query("pipeline_clean_corpus", family="shingle", oracle=_PIPELINE_ORACLE)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-cleaning pipeline (see module docstring): the
    shared cleaning prefix (_clean_corpus), then per-source stats."""
    return _clean_corpus(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


# The full training-data preparation, end to end, as ONE query:
# quality filter -> exact dedup -> near-dup removal -> train split ->
# deterministic shuffle-shard -> sequence packing. Every stage calls
# the builder of its standalone operator, and the oracle chains the
# CTEs of those operators' oracles, so the whole composition is
# hash-exact against DuckDB.
_PREP_ORACLE = f"""
WITH {_MINHASH_PAIRS_CTES},
metrics AS (
    SELECT doc_id, MD5(text) AS content_md5,
           CAST(LEN(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_tok,
           (CAST(LEN(regexp_extract_all(text, '\\b(the|a|of|and|to)\\b')) AS DOUBLE)
              / GREATEST(LEN(regexp_extract_all(text, '\\w+')), 1)
            + CAST(LEN(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
              / GREATEST(LENGTH(text), 1)) / 2 AS quality
    FROM documents
),
quality_kept AS (
    SELECT * FROM metrics
    WHERE quality >= {_MIN_QUALITY} AND n_tok >= {_MIN_TOKENS}
),
exact_deduped AS (
    SELECT doc_id, n_tok FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5
                                     ORDER BY doc_id) AS rn
        FROM quality_kept
    ) WHERE rn = 1
),
clean AS (
    SELECT * FROM exact_deduped
    WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
),
train AS (
    SELECT doc_id, n_tok,
           {_SHARD_SQL} AS shard_id,
           {_ORD_SQL} AS shuffle_key
    FROM clean
    WHERE {_SPLIT_SQL} >= {_TEST_PCT}
),
cum AS (
    SELECT shard_id, doc_id, n_tok,
           SUM(n_tok) OVER (PARTITION BY shard_id
                            ORDER BY shuffle_key, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_tok
    FROM train
)
SELECT shard_id,
       CAST(FLOOR((cum_tok - 1) / {_PACK_LEN}) AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS min_doc_id
FROM cum
GROUP BY shard_id, CAST(FLOOR((cum_tok - 1) / {_PACK_LEN}) AS BIGINT)
"""


@query("pipeline_prepare_training_data", family="shingle", oracle=_PREP_ORACLE)
def pipeline_prepare_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete corpus-to-training-set pipeline as one declared
    plan: clean (quality floor, exact dedup, MinHash near-dup removal)
    -> hash train split -> deterministic shuffle-shard -> fixed-budget
    sequence packing -> per-pack stats.

    One Catalyst plan means the optimizer sees the whole pipeline:
    filters run against the scan, the dedup window and the pack window
    each get one hash exchange, and the near-dup list broadcasts.
    Every stage is the builder its standalone operator runs: the
    cleaning prefix is pipeline_clean_corpus's _clean_corpus, and the
    split bucket, shard, shuffle order and packing are the stages.py
    builders behind split_train_test and pack_sequences. The oracle
    chains the same CTEs, built from the same stages.py SQL fragments,
    so the composition hash-matches DuckDB end to end.
    """
    train = _clean_corpus(spark, sf_dir).filter(
        _split_bucket("doc_id") >= _TEST_PCT
    )
    return pack_stats(train)


# Deterministic "v2" of the documents corpus, derived identically on
# both engines so the diff below needs no second physical table:
# doc_id % 10 == 0 rows are dropped, % 7 == 0 survivors get a text
# revision, and % 13 == 0 docs spawn a NEW doc at doc_id + 1_000_000.
_SNAPSHOT_DROP_MOD, _SNAPSHOT_REV_MOD, _SNAPSHOT_ADD_MOD = 10, 7, 13
_SNAPSHOT_ADD_OFFSET = 1_000_000

_SNAPSHOT_DIFF_ORACLE = f"""
WITH v1 AS (
    SELECT doc_id, MD5(text) AS fp, TRUE AS present FROM documents
),
v2 AS (
    SELECT doc_id,
           MD5(CASE WHEN doc_id % {_SNAPSHOT_REV_MOD} = 0 THEN text || ' [rev2]'
                    ELSE text END) AS fp,
           TRUE AS present
    FROM documents WHERE doc_id % {_SNAPSHOT_DROP_MOD} != 0
    UNION ALL
    SELECT doc_id + {_SNAPSHOT_ADD_OFFSET},
           MD5('added doc ' || CAST(doc_id AS VARCHAR)), TRUE
    FROM documents WHERE doc_id % {_SNAPSHOT_ADD_MOD} = 0
)
SELECT doc_id,
       CASE WHEN v2.present IS NULL THEN 'removed'
            WHEN v1.present IS NULL THEN 'added'
            WHEN v1.fp IS DISTINCT FROM v2.fp THEN 'modified'
            ELSE 'unchanged' END AS status,
       v1.fp AS old_fp, v2.fp AS new_fp
FROM v1 FULL JOIN v2 USING (doc_id)
"""


@query("corpus_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset version diff — the audit step between two corpus
    snapshots (nightly crawls, pre/post-cleaning runs): per doc_id,
    was the document added, removed, modified, or unchanged, with the
    content fingerprints on both sides. In production the two sides
    are two table paths; here v2 is DERIVED from v1 by a deterministic
    edit rule (drop %10, revise %7, add %13 at an id offset) so both
    engines construct the identical pair and the whole diff is
    hash-gated with no store dependency.

    Shape at scale: the diff compares 16-byte MD5 FINGERPRINTS, never
    payloads — each side is one projected scan (fingerprinting is
    row-local, pushed to the parquet reader's column pruning), and the
    diff itself is ONE full-outer equi-join on doc_id. Presence is
    tracked by literal flags, not fingerprint nullness, so NULL-text
    documents (fp NULL on both sides) still classify correctly via the
    null-safe fp comparison. Rows with NULL doc_id never join and
    surface as removed — pinned by the %-predicates dropping NULL ids
    from v2 on both engines.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = docs.select(
        "doc_id", F.md5("text").alias("fp"), F.lit(True).alias("present")
    )
    v2 = (
        docs.filter(F.col("doc_id") % _SNAPSHOT_DROP_MOD != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % _SNAPSHOT_REV_MOD == 0,
                    F.concat(F.col("text"), F.lit(" [rev2]")),
                ).otherwise(F.col("text"))
            ).alias("fp"),
            F.lit(True).alias("present"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % _SNAPSHOT_ADD_MOD == 0).select(
                (F.col("doc_id") + _SNAPSHOT_ADD_OFFSET).alias("doc_id"),
                F.md5(
                    F.concat(
                        F.lit("added doc "), F.col("doc_id").cast("string")
                    )
                ).alias("fp"),
                F.lit(True).alias("present"),
            )
        )
    )
    old = v1.select(
        "doc_id",
        F.col("fp").alias("old_fp"),
        F.col("present").alias("in_old"),
    )
    new = v2.select(
        "doc_id",
        F.col("fp").alias("new_fp"),
        F.col("present").alias("in_new"),
    )
    status = (
        F.when(F.col("in_new").isNull(), F.lit("removed"))
        .when(F.col("in_old").isNull(), F.lit("added"))
        .when(
            ~F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("modified")
        )
        .otherwise(F.lit("unchanged"))
    )
    return old.join(new, ["doc_id"], "full_outer").select(
        "doc_id", status.alias("status"), "old_fp", "new_fp"
    )


from .._serde import pickle_by_value as _pbv  # noqa: E402
_pbv(__name__)
