"""The corpus-cleaning and training-set stage builders that more than
one query runs: the row-local quality features, the keep-first exact
dedup window, and the hash split bucket, shard id, shuffle order and
sequence packing, each split/shard/order formula beside the DuckDB SQL
fragment of the same arithmetic. The standalone operators
(text_quality_score, split_train_test, pack_sequences, ...) and the
composed pipelines all call these.

The module registers no query. The registry's order is the order in
which query modules are first imported, so a query module that imports
another one to reach a shared builder can reorder it; keeping every
shared builder here means no query module needs to.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hex32, tokens_regex

_TEST_PCT = 10  # hash buckets [0, _TEST_PCT) -> test split
_N_SHARDS = 8
_PACK_LEN = 512  # tokens per packed training sequence

# A 0-99 split bucket, a shard id and a within-shard order key, from
# independent salted hashes of doc_id: the oracle fragments, then
# their Spark twins. The split bucket also hashes near-dup cluster ids
# (split_leakage_safe), so its builder takes the id column.
_SPLIT_SQL = "CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
_SHARD_SQL = f"CAST('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % {_N_SHARDS}"
_ORD_SQL = "CAST('0x' || substr(md5('ord' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"


def _split_bucket(id_col: str) -> Column:
    return hex32(F.concat(F.lit("split"), F.col(id_col).cast("string"))) % 100


def _shard_id() -> Column:
    return (
        hex32(F.concat(F.lit("shard"), F.col("doc_id").cast("string"))) % _N_SHARDS
    )


def _shuffle_key() -> Column:
    return hex32(F.concat(F.lit("ord"), F.col("doc_id").cast("string")))


def quality_features() -> dict[str, Column]:
    """The row-local quality features of the ``text`` column, the one
    Spark formulation every quality stage reads (text_quality_score,
    text_quality_classifier and the pipeline.py quality floor): the
    token count ``n_tok`` (bigint), ``token_density`` (tokens per
    char), ``stopword_ratio`` (stopwords per token), ``alpha_ratio``
    (letters per char) and ``quality``, the mean of the last two. Each
    ratio is one integer count cast to double over another floored at
    1 — the oracle's division, so the doubles are bit-identical. NULL
    text yields NULL features (and fails any quality floor)."""
    n_tok = F.size(tokens_regex("text"))
    n_chars = F.greatest(F.length("text"), F.lit(1))
    stop_r = F.size(
        F.regexp_extract_all("text", F.lit(r"\b(the|a|of|and|to)\b"), 0)
    ).cast("double") / F.greatest(n_tok, F.lit(1))
    alpha_r = (
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]"), 0)).cast("double")
        / n_chars
    )
    return {
        "n_tok": n_tok.cast("bigint"),
        "token_density": n_tok.cast("double") / n_chars,
        "stopword_ratio": stop_r,
        "alpha_ratio": alpha_r,
        "quality": (stop_r + alpha_r) / 2,
    }


def keep_first_copy(df: DataFrame) -> DataFrame:
    """Exact dedup that keeps whole rows: of each ``content_md5`` group
    only the row with the smallest doc_id survives (dedup_exact's
    canonical id), with its other columns; ``content_md5`` is dropped.
    One hash exchange on the 16-byte key."""
    w = Window.partitionBy("content_md5").orderBy("doc_id")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "content_md5")
    )


def assign_shards(docs: DataFrame) -> DataFrame:
    """(doc_id, shard_id, shuffle_key, n_tok) of (doc_id, n_tok) rows:
    a reproducible permutation with no RNG state and no global sort."""
    return docs.select(
        "doc_id",
        _shard_id().alias("shard_id"),
        _shuffle_key().alias("shuffle_key"),
        "n_tok",
    )


def pack_stats(docs: DataFrame) -> DataFrame:
    """Sequence packing of (doc_id, n_tok) rows: shards order by
    shuffle key (doc_id breaks hash ties) and pack id =
    floor((running token count - 1) / _PACK_LEN). Returns per-pack
    (shard_id, pack_id, n_docs, n_tokens, min_doc_id). The cumsum
    window partitions by shard, so each shard packs independently:
    one hash exchange, no global sort."""
    w = Window.partitionBy("shard_id").orderBy("shuffle_key", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = assign_shards(docs).select(
        "shard_id",
        "doc_id",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - 1) / _PACK_LEN).alias("pack_id"),
    )
    return packed.groupBy("shard_id", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )
