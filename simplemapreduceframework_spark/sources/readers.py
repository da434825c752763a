"""Sources: the engine's scan layer.

The reference supports two data types — ``'text'`` (line-by-line) and
``'table'`` (CSV, header stripped, positional columns) — plus a pickled
binary scan for shuffle input (reference client.py:24-27,
data_handler.py:13-62, data_handler.py:271-298). Here those map to
``spark.read.text`` / ``spark.read.csv`` / ``spark.read.parquet``;
splitting into partitions is automatic (the reference's 500-char slices,
client.py:167, become ``spark.sql.files.maxPartitionBytes``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session_memo import get_or_build

# The driver-generated star schema + pipeline tables (TESTDATA.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _normalize_events(df: DataFrame) -> DataFrame:
    """Convert a nanosecond `ts` read as bigint back to a timestamp.

    The events table stores TIMESTAMP(NANOS) parquet, which Spark 4
    rejects natively; with spark.sql.legacy.parquet.nanosAsLong the
    column arrives as int64 nanoseconds and is converted here (the data
    carries no sub-microsecond precision, so `div 1000` is lossless and
    matches engines that read nanos directly).
    """
    if dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to plain TIMESTAMP.

    Parquet files annotated isAdjustedToUTC=false are inferred as NTZ by
    Spark 4, which watermarks and several time functions reject. With a
    UTC session the micros are bit-identical under either type, so plain
    TIMESTAMP everywhere keeps one uniform timestamp semantics. The cast
    is a projection — pushdown and pruning pass through it.
    """
    if any(t == "timestamp_ntz" for _, t in df.dtypes):
        from pyspark.sql import functions as F

        df = df.select(
            *[
                F.col(c).cast("timestamp").alias(c) if t == "timestamp_ntz" else F.col(c)
                for c, t in df.dtypes
            ]
        )
    return df


def _source_mtime(path: str) -> int:
    import os

    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return -1


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one testdata table.

    Parquet + DataFrame gives predicate pushdown and column pruning for
    free; callers should filter/select as early as possible so the scan
    node shows PushedFilters / a narrow ReadSchema.
    """
    # Pin UTC at query time so timestamp formatting/windowing matches
    # the (naive-timestamp) oracle even under a driver-built session
    # that didn't set it. Re-set on every call (a one-RPC no-op when
    # unchanged) because execution-time formatting depends on it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"

    # The analyzed scan memoizes per session: spark.read.parquet costs
    # a driver-side file listing + footer/schema read per call
    # (~100-300 ms against a multi-file layout); a catalog caches that
    # relation metadata exactly once, and so do we. The source mtime
    # stamp makes an overwrite (tests that rewrite a table in place,
    # driver fixture regeneration) a rebuild of the one entry.
    def read() -> DataFrame:
        # Read NTZ-annotated parquet as plain TIMESTAMP (see
        # _normalize_ntz); these flags matter at plan-build time only,
        # so they live behind the memo hit.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return _normalize_events(_normalize_ntz(spark.read.parquet(path)))
        return _normalize_ntz(spark.read.parquet(path))

    return get_or_build(
        spark, ("table", sf_dir, name), read, stamp=_source_mtime(path)
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use. The
    last registration memoizes per session (views live in the session
    catalog), so repeated spark.sql queries against the same fixture
    directory skip 10 no-op createOrReplaceTempView round-trips."""

    def register() -> None:
        for t in TABLES:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)

    stamp = (
        sf_dir,
        tuple(_source_mtime(f"{sf_dir}/{t}.parquet") for t in TABLES),
    )
    get_or_build(spark, ("views",), register, stamp=stamp)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """The reference's 'text' data type: one row per line, column `value`.

    Mirrors reference data_handler.py:13-55 (line-by-line record reader);
    Spark handles splitting/line alignment natively.
    """
    return spark.read.text(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar source — pushdown/pruning parity with parquet."""
    return spark.read.orc(path)


def read_json_table(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines source. Declare the schema in production — schema
    inference is an extra full pass over the data, and at 100 TB that
    pass costs as much as the query."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with schema merging: files written under older
    schemas surface missing columns as NULL, so a long-lived table can
    add columns without rewriting history. mergeSchema reads every
    file's footer — per-file metadata cost, not data cost — which is
    why it's an explicit opt-in rather than the default."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = False,
) -> DataFrame:
    """The reference's 'table' data type (CSV, positional columns).

    The reference requires the header row pre-stripped and columns
    addressed by index (reference README.md:30-33); here the schema can
    be declared, or inferred with header=True for the ergonomic path.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)
