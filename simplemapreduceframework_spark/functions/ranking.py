"""Distributed global ranking without a Window node.

A global ROW_NUMBER() in Spark plans as a single-partition WindowExec —
every row funnels through one task, the classic 100 TB scale-killer.
This helper is the reusable form of the text_vocab round-4 rewrite
(textanalysis.py): range-partitioned total sort, then
monotonically_increasing_id encodes (partition id << 33 | local row
index), so the global rank is the local index plus a prefix sum of
partition sizes — the sizes are one tiny aggregate (<= one row per
partition) collected for the prefix sum, then joined back as a
broadcast. The ranked frame never leaves the JVM and never converges
to one task.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class GlobalRank(NamedTuple):
    """Result of global_row_number. The CALLER owns the persisted
    intermediate's lifecycle: call ``release()`` once the final output
    is materialized (or memoized for the session) — without it every
    invocation leaks one cached DataFrame into executor storage for
    the session lifetime."""

    df: DataFrame
    count: int
    release: "callable"


def global_row_number(
    df: DataFrame, order: list[Column], out: str = "rn"
) -> GlobalRank:
    """Total-order ``df`` by ``order`` and add a 1-based global rank
    column ``out``. Returns GlobalRank(ranked_df, total_row_count,
    release).

    An intermediate frame is persisted (the id stamps must be
    identical in the sizes branch and the final projection —
    monotonically_increasing_id is recompute-sensitive); the caller
    owns that cache entry via ``release()``: memoize the result for
    the session (textanalysis.text_vocab style) or release after the
    final output materializes. The row count falls out of the prefix
    sum for free (constant driver state, <= one row per partition).
    """
    spark = df.sparkSession
    with_id = (
        df.orderBy(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", 33))
        .withColumn("_lidx", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
        .drop("_mid")
        .persist()
    )
    sizes = with_id.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    offsets, acc = [], 0
    for r in sorted(sizes, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["n"]
    off_df = spark.createDataFrame(offsets or [], "_pid bigint, _off bigint")
    ranked = (
        with_id.join(F.broadcast(off_df), "_pid")
        .withColumn(out, (F.col("_lidx") + F.col("_off") + 1).cast("bigint"))
        .drop("_pid", "_lidx", "_off")
    )
    return GlobalRank(ranked, acc, lambda: with_id.unpersist())
