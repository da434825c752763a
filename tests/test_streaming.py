"""Streaming tier: the live Structured Streaming pipelines must agree
with their batch-equivalence forms (same windows, same data, availableNow
processes everything exactly once)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from simplemapreduceframework_spark import registry
from simplemapreduceframework_spark.streaming import (
    interval_join_stream,
    read_events_stream,
    run_available_now,
    sessionized_stream,
    sliding_counts_stream,
    tumbling_counts_stream,
)

registry.load_all()
Q = registry.QUERIES


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    live = Q["streaming_tumbling_live"](spark, sf_dir)
    batch = Q["events_tumbling_1h"](spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(live, cols) == _rows(batch, cols)


def test_streaming_sliding_equals_batch(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    live = run_available_now(sliding_counts_stream(events), spark)
    batch = Q["events_sliding_1h_30m"](spark, sf_dir)
    cols = ["window_start", "n_events"]
    assert _rows(live, cols) == _rows(batch, cols)


def test_streaming_sessions_equal_batch(spark, sf_dir):
    events = read_events_stream(spark, sf_dir)
    live = run_available_now(sessionized_stream(events), spark)
    batch = Q["events_session_10m"](spark, sf_dir)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(live, cols) == _rows(batch, cols)


@pytest.mark.parametrize(
    "name, builder",
    [
        ("events_session_10m", sessionized_stream),
        ("events_range_join", interval_join_stream),
    ],
)
def test_batch_twin_plan_has_no_event_time_watermark(spark, sf_dir, name, builder):
    """The batch queries run their live twins' builders, whose
    withWatermark Spark drops from a batch plan
    (EliminateEventTimeWatermark). If Spark ever keeps the node, the
    batch form would plan a stream operator: fail here. The same
    builder on a stream must show the node, so the check looks for the
    name Spark really prints."""
    stream = builder(read_events_stream(spark, sf_dir))
    assert "EventTimeWatermark" in stream._jdf.queryExecution().analyzed().toString()
    batch = Q[name](spark, sf_dir)._jdf.queryExecution()
    assert "EventTimeWatermark" not in batch.optimizedPlan().toString()


def test_watermark_present_in_stream(spark, sf_dir):
    """The streaming agg must carry an event-time watermark (bounded
    state for late data)."""
    events = read_events_stream(spark, sf_dir)
    result = tumbling_counts_stream(events, watermark="30 minutes")
    assert result.isStreaming
    out = run_available_now(result, spark)
    # static complete input => watermark drops nothing vs batch
    batch = Q["events_tumbling_1h"](spark, sf_dir)
    assert out.count() == batch.count()


def test_stream_dedup_within_watermark(spark, sf_dir):
    """Stateful streaming dedup (dropDuplicatesWithinWatermark) — the
    streaming twin of dedup_exact."""
    events = read_events_stream(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "1 hour")
        .select("event_id", "ts")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = run_available_now(deduped.groupBy().count(), spark)
    n = out.collect()[0]["count"]
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n == expected  # event_id is unique => dedup is a no-op pass-through


def test_stateful_running_totals(spark, sf_dir):
    """applyInPandasWithState custom operator: final per-user state
    must equal the batch aggregate (counts exact; float totals to
    1e-9 relative, since accumulation order differs)."""
    from simplemapreduceframework_spark.streaming import (
        read_events_stream,
        run_available_now,
        running_user_totals,
    )

    events = read_events_stream(spark, sf_dir)
    out = run_available_now(running_user_totals(events), spark, output_mode="update")
    # update mode: last emitted row per user is the final state
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.orderBy("n_events").collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert final.keys() == batch.keys()
    for u, (n, t) in batch.items():
        fn, ft = final[u]
        assert fn == n, (u, fn, n)
        assert abs(ft - t) <= 1e-9 * max(abs(t), 1.0), (u, ft, t)


def test_watermark_drops_late_data(spark, tmp_path):
    """True late-data semantics: an event far older than the watermark
    is dropped once the late-record filter has engaged.

    Spark's late-drop watermark lags one micro-batch behind the state-
    eviction watermark (empirically pinned here): a late row in batch 1
    may still be absorbed, but by batch 2 the filter holds — hence
    three ordered micro-batches (on-time, on-time, late). The file
    source orders batches by file modification time."""
    import datetime as dt
    import os
    import time

    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    b1 = [(i, base + dt.timedelta(minutes=i), 1.0) for i in range(0, 60, 10)]
    b2 = [(100 + i, base + dt.timedelta(minutes=60 + i), 1.0) for i in range(0, 60, 10)]
    b3 = [(999, base - dt.timedelta(hours=3), 100.0)]  # far behind watermark
    schema = "event_id long, ts timestamp, value double"
    src = tmp_path / "late_src"
    src.mkdir()
    now = time.time()
    for name, data, off in [("a", b1, -120), ("b", b2, -60), ("c", b3, 0)]:
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(
            str(src / f"{name}.parquet")
        )
        for root, _, files in os.walk(src / f"{name}.parquet"):
            for f in files:
                os.utime(os.path.join(root, f), (now + off, now + off))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("ws"), "n")
    )
    from simplemapreduceframework_spark.streaming import run_available_now

    out = run_available_now(agg, spark, output_mode="append")
    rows = {r["ws"]: r["n"] for r in out.collect()}
    # the late event's 09:00 window must NOT appear; the finalized
    # 12:00 window appears exactly once with only on-time rows
    assert "2024-06-01 09:00:00" not in rows, rows
    assert rows.get("2024-06-01 12:00:00") == 6, rows


def test_streaming_dedup_live_equals_batch_distinct(spark, sf_dir):
    """The doubled-stream dedup must reproduce the original events
    exactly (event_id is the table's unique key)."""
    from simplemapreduceframework_spark import registry

    registry.load_all()
    got = sorted(
        (r["event_id"], r["event_type"], r["user_id"], r["value"])
        for r in registry.QUERIES["streaming_dedup_live"](spark, sf_dir).collect()
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = sorted(
        (r["event_id"], r["event_type"], r["user_id"], r["value"])
        for r in ev.select("event_id", "event_type", "user_id", "value").collect()
    )
    assert got == want


def test_stream_stream_join_equals_batch_range_join(spark, sf_dir):
    """The watermarked stream-stream interval join must equal the
    oracle-gated batch range join row-for-row."""
    from simplemapreduceframework_spark import registry

    registry.load_all()
    key = lambda r: (r["error_id"], r["purchase_id"])  # noqa: E731
    live = sorted(
        key(r)
        for r in registry.QUERIES["events_stream_join_live"](spark, sf_dir).collect()
    )
    batch = sorted(
        key(r) for r in registry.QUERIES["events_range_join"](spark, sf_dir).collect()
    )
    assert live == batch


def test_stateful_ops_under_rocksdb_state_store(spark, sf_dir):
    """The streaming tier must run unchanged under the RocksDB state
    store provider — the right default on a real cluster (state spills
    to local disk with changelog checkpointing instead of living on
    the JVM heap). Runs the windowed agg with the provider switched,
    then pins output equality against the batch oracle query."""
    from simplemapreduceframework_spark import registry
    from simplemapreduceframework_spark.streaming import (
        read_events_stream,
        run_available_now,
        tumbling_counts_stream,
    )

    registry.load_all()
    out = run_available_now(
        tumbling_counts_stream(read_events_stream(spark, sf_dir)),
        spark,
        state_store="rocksdb",
    )
    live = sorted(map(tuple, out.collect()))
    batch = sorted(
        map(
            tuple,
            registry.QUERIES["events_tumbling_1h"](spark, sf_dir)
            .select("window_start", "event_type", "n_events", "total_value")
            .collect(),
        )
    )
    assert live == batch


def test_stateful_running_totals_transform_with_state(spark, sf_dir):
    """The Spark 4 stateful-processor API (transformWithStateInPandas)
    must produce the same final per-user state as the classic
    applyInPandasWithState operator and the batch aggregate."""
    import pytest

    from simplemapreduceframework_spark.streaming import (
        read_events_stream,
        run_available_now,
    )
    from simplemapreduceframework_spark.streaming.stateful import (
        running_user_totals_tws,
    )

    if running_user_totals_tws is None:
        pytest.skip("transformWithStateInPandas not available")
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("transformWithState needs google.protobuf (broken here)")
    events = read_events_stream(spark, sf_dir)
    out = run_available_now(
        running_user_totals_tws(events), spark, output_mode="update"
    )
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.orderBy("n_events").collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert final.keys() == batch.keys()
    for u, (n, t) in batch.items():
        fn, ft = final[u]
        assert fn == n, (u, fn, n)
        assert abs(ft - t) <= 1e-9 * max(abs(t), 1.0), (u, ft, t)


@pytest.mark.parametrize("backend", [None, "rocksdb"])
def test_streaming_dedup_provider_independent(spark, sf_dir, backend):
    """streaming_dedup_live's operator (dropDuplicatesWithinWatermark)
    must produce identical output under the default heap-backed state
    store and RocksDB + changelog checkpointing — the flag is config
    only, never semantics. The RocksDB leg also proves the provider
    actually loads (a bad providerClass fails the query start)."""
    from simplemapreduceframework_spark.streaming import (
        dedup_stream,
        read_events_stream,
        run_available_now,
    )

    out = run_available_now(
        dedup_stream(read_events_stream(spark, sf_dir)),
        spark,
        output_mode="append",
        state_store=backend,
    )
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    n_distinct = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert out.count() == n_distinct <= n_events
    assert out.select("event_id").distinct().count() == n_distinct


def test_state_store_confs_shapes():
    from simplemapreduceframework_spark.streaming import state_store_confs

    assert state_store_confs(None) == {} == state_store_confs("hdfs")
    rocks = state_store_confs("rocksdb")
    assert rocks["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )
    assert (
        rocks[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ]
        == "true"
    )
    with pytest.raises(ValueError):
        state_store_confs("leveldb")


def test_stream_reads_multifile_events_table(spark, sf_dir, tmp_path):
    """The stream source must handle BOTH fixture layouts: a single
    events.parquet file (driver testdata) and a Spark-written DIRECTORY
    of part files (bench cache / any real table). A filename glob over
    the parent dir sees no part files — regression for the 0-row live
    trio on multi-file layouts."""
    from simplemapreduceframework_spark.sources import load_table
    from simplemapreduceframework_spark.streaming import (
        read_events_stream,
        run_available_now,
        tumbling_counts_stream,
    )

    multi = str(tmp_path / "relaid")
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(
        f"{multi}/events.parquet"
    )
    out = run_available_now(
        tumbling_counts_stream(read_events_stream(spark, multi)), spark
    )
    batch = Q["events_tumbling_1h"](spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_session_and_custom_state_under_rocksdb(spark, sf_dir):
    """The round-5 stateful additions — session windows and the
    applyInPandasWithState integer-cents totals — must produce
    provider-independent results under RocksDB, like the rest of the
    tier."""
    from simplemapreduceframework_spark.streaming import (
        read_events_stream,
        run_available_now,
        sessionized_stream,
    )
    from simplemapreduceframework_spark.streaming.stateful import (
        running_user_totals_exact,
    )

    sess = run_available_now(
        sessionized_stream(read_events_stream(spark, sf_dir)),
        spark,
        state_store="rocksdb",
    )
    batch = Q["events_session_10m"](spark, sf_dir)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(sess, cols) == _rows(batch, cols)

    totals = run_available_now(
        running_user_totals_exact(read_events_stream(spark, sf_dir)),
        spark,
        output_mode="update",
        state_store="rocksdb",
    )
    from pyspark.sql import functions as F

    final = (
        totals.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents")).alias("m"))
        .select("user_id", "m.n_events", "m.total_cents")
    )
    got = sorted(map(tuple, final.collect()))
    want = sorted(
        map(
            tuple,
            Q["streaming_stateful_totals_live"](spark, sf_dir).collect(),
        )
    )
    assert got == want


def test_streaming_mv_refresh_merges_across_micro_batches(spark, sf_dir):
    """The streaming MV maintenance must (a) process the delta as
    MULTIPLE micro-batches (4 files, maxFilesPerTrigger=1 — otherwise
    it degenerates to one big merge and proves nothing about
    incremental state), and (b) end bit-identical to the batch
    incremental refresh, which itself hash-matches the full rebuild."""
    from simplemapreduceframework_spark import registry

    registry.load_all()
    Q = registry.QUERIES
    stream_rows = sorted(
        (r["month"], r["o_orderstatus"], r["n_orders"], str(r["rev"]))
        for r in Q["streaming_mv_refresh_live"](spark, sf_dir).collect()
    )
    batch_rows = sorted(
        (r["month"], r["o_orderstatus"], r["n_orders"], str(r["rev"]))
        for r in Q["incremental_mv_refresh"](spark, sf_dir).collect()
    )
    assert stream_rows == batch_rows
    # the memoized result reads store/v{last}; walk back to its root
    # and count versions: seed v0 + one per non-empty micro-batch
    import os
    import re

    out = Q["streaming_mv_refresh_live"](spark, sf_dir)
    files = out.inputFiles()
    m = re.search(r"(/[^ ]*smrf_mv_stream_[^/]+)/store/v(\d+)/", files[0])
    assert m, files[0]
    root, last = m.group(1), int(m.group(2))
    versions = sorted(
        int(d[1:]) for d in os.listdir(f"{root}/store") if d.startswith("v")
    )
    assert versions == list(range(last + 1))
    assert last >= 2  # several real merge batches ran
