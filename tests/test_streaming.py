"""Structured Streaming: the streaming plan must equal the batch plan
on bounded input (the core Structured Streaming guarantee)."""

from __future__ import annotations

from map_reduce_server_spark.streaming.events import (
    stream_window_counts,
    windowed_event_counts,
)
from map_reduce_server_spark.tables import load_table


def test_stream_equals_batch(spark, sf_small):
    streamed = {
        (r.w_start, r.event_type, r.n_events, r.total_value)
        for r in stream_window_counts(spark, sf_small).collect()
    }
    batch = {
        (r.w_start, r.event_type, r.n_events, r.total_value)
        for r in windowed_event_counts(
            load_table(spark, sf_small, "events")
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_sessionize_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered stream_sessionize
    (now registered): append-mode session_window state
    across the multi-batch time-ordered replay, flushed by the
    sentinel, must land exactly on the batch gaps-and-islands
    sessionization."""
    from map_reduce_server_spark.streaming.events import (
        _STREAM_SESSIONIZE_ORACLE,
        stream_sessionize,
    )
    from tests.oracle_utils import compare_to_oracle

    df = stream_sessionize(spark, sf_small)
    ok, msg = compare_to_oracle(df, _STREAM_SESSIONIZE_ORACLE, sf_small)
    assert ok, msg
    # append mode = exactly-once emission: no (user, start) dup rows,
    # and the sentinel's own session is sliced off
    import pyspark.sql.functions as F

    n = df.count()
    assert n > 0
    assert df.select("user_id", "s_start").distinct().count() == n
    assert df.filter(F.col("s_start") >= "2035-01-01").count() == 0


def test_stream_stateful_counts_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered stream_stateful_counts
    (now registered): applyInPandasWithState running
    (count, exact-cents total) across the sentinel-free multi-batch
    replay must converge to the batch aggregate."""
    from map_reduce_server_spark.streaming.events import (
        _STREAM_STATEFUL_ORACLE,
        stream_stateful_counts,
    )
    from tests.oracle_utils import compare_to_oracle

    df = stream_stateful_counts(spark, sf_small)
    ok, msg = compare_to_oracle(df, _STREAM_STATEFUL_ORACLE, sf_small)
    assert ok, msg
    assert df.count() >= 1


def test_stream_cdc_latest_matches_oracle(spark, sf_small):
    """stream_cdc_latest converges to a non-empty latest-op-wins
    snapshot."""
    from map_reduce_server_spark.streaming.events import (
        stream_cdc_latest,
    )

    df = stream_cdc_latest(spark, sf_small)
    assert df.count() >= 1


def test_stream_stream_left_outer_matches_oracle(spark, sf_small):
    """stream_stream_left_outer exercises both LEFT populations:
    some clicks convert, some null-extend, and every delay stays
    inside the 30-minute join window."""
    from map_reduce_server_spark.streaming.joins import (
        stream_stream_left_outer,
    )

    df = stream_stream_left_outer(spark, sf_small)
    rows = df.collect()
    # the LEFT semantics actually exercised: some clicks convert,
    # some null-extend
    assert any(r.purchase_id is None for r in rows)
    assert any(r.purchase_id is not None for r in rows)
    assert all(
        r.delay_sec is None or 0 <= r.delay_sec <= 1800 for r in rows
    )


def test_stream_stream_left_outer_evicts_state(spark, sf_small):
    """The bounded-memory claim, asserted from the runtime: join
    state must actually be REMOVED as the watermark advances (not
    accumulated until the end), and the typed flush sentinels must
    advance the watermark past every real event — the two physics
    the operator's docstring stakes out."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from map_reduce_server_spark.streaming.events import (
        _events_stream_timeordered,
    )

    stream, stage = _events_stream_timeordered(
        spark, sf_small, n_sentinels=2, sentinel_types=("click", "purchase")
    )
    marked = stream.filter(F.col("ts").isNotNull()).withWatermark(
        "ts", "1 minute"
    )
    clicks = marked.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = marked.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    )
    out = tempfile.mkdtemp()
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out, "data"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    removed = sum(
        so["numRowsRemoved"]
        for p in progress
        for so in p["stateOperators"]
    )
    assert removed > 0, "watermark never evicted any join state"
    # the typed sentinels advanced the watermark into the far future,
    # draining (almost) all state: only the 2x2 sentinel rows
    # themselves may remain
    final_state = sum(
        so["numRowsTotal"] for so in progress[-1]["stateOperators"]
    )
    assert final_state <= 4, final_state
    # mid-replay batches evict too — state is bounded DURING the
    # stream, not only at the flush
    mid_removed = sum(
        so["numRowsRemoved"]
        for p in progress[1:-2]
        for so in p["stateOperators"]
    )
    assert mid_removed > 0, "no eviction before the flush sentinels"


def test_stream_stream_full_outer_matches_oracle(spark, sf_small):
    """stream_stream_full_outer yields all three populations
    (conversions, abandoned clicks, orphan purchases), never a row
    null on both sides, and a delay only on matches."""
    from map_reduce_server_spark.streaming.joins import (
        stream_stream_full_outer,
    )

    df = stream_stream_full_outer(spark, sf_small)
    rows = df.collect()
    # all three populations exist: conversions, abandoned clicks,
    # orphan purchases
    assert any(r.click_id is not None and r.purchase_id is not None for r in rows)
    assert any(r.purchase_id is None for r in rows)
    assert any(r.click_id is None for r in rows)
    # no row is null on both sides, and delays only on matches
    assert all(r.click_id is not None or r.purchase_id is not None for r in rows)
    assert all(
        (r.delay_sec is not None)
        == (r.click_id is not None and r.purchase_id is not None)
        for r in rows
    )
