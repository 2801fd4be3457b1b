"""Streaming joins: stream-static enrichment and watermarked
stream-stream interval joins.

The two join capabilities every production streaming pipeline needs
beyond windowed aggregation (reference has neither — its streams are
a FIFO job queue, reference ``master/__main__.py:209-218``):

- enrich: an unbounded fact stream joined to a bounded dimension.
  The dimension is broadcast, so the stream never shuffles and the
  join adds zero streaming state.
- correlate: two unbounded streams joined on a key within an
  event-time bound. Both sides carry watermarks and the join
  condition bounds time in BOTH directions, so Spark can expire
  state — the difference between bounded memory forever and OOM.

Both run as genuine streaming queries (file source → append-mode
sink) driven to completion on the bounded input, so the batch oracle
must match exactly: on append-only data, a streaming inner join's
final output IS the batch join.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_server_spark.io.tempdirs import cleanup_at_exit
from map_reduce_server_spark.registry import register


def _run_to_parquet(stream_df: DataFrame, prefix: str) -> str:
    """Drive an append-mode streaming query to completion; return the
    output dir (caller reads + cleans)."""
    out = tempfile.mkdtemp(prefix=prefix)
    # register up front: a failed micro-batch must not leak the dir
    cleanup_at_exit(out)
    query = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out, "data"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return out


def _collect_result(
    spark: SparkSession, out: str, stage: str, schema
) -> DataFrame:
    # explicit schema: a zero-match stream writes no data files, and
    # a schemaless read would fail inference where the oracle simply
    # returns 0 rows
    df = spark.read.schema(schema).parquet(os.path.join(out, "data"))
    shutil.rmtree(stage, ignore_errors=True)
    return df


@register(
    "stream_static_enrich",
    oracle="""
    SELECT event_id, e.ts, e.value, c_mktsegment, c_acctbal
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the purchase stream joined to the
    customer dimension.

    No streaming state accrues: each micro-batch joins the bounded
    dim and flows on. The static side carries NO hard broadcast hint
    — customer is SF-linear, and the engine's broadcast policy (see
    the policy comment in ``tables.py``) reserves forced broadcasts
    for the constant-size region/nation dims; Spark still broadcasts here
    whenever the side actually fits (statistics-driven), which is
    the 100 TB/day pattern — dims broadcast while they fit, facts
    flow through. Append mode to a parquet sink with a checkpoint
    dir = exactly-once file output.
    """
    from map_reduce_server_spark.streaming.events import _events_stream
    from map_reduce_server_spark.tables import load_table

    stream, stage = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    enriched = (
        stream.filter(F.col("event_type") == "purchase")
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "ts", "value", "c_mktsegment", "c_acctbal")
    )
    out = _run_to_parquet(enriched, "mrss_enrich_")
    return _collect_result(spark, out, stage, enriched.schema)


@register(
    "stream_stream_interval_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id,
           (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS delay_sec
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream join: clicks correlated to purchases
    by the same user within 30 minutes (click-to-conversion).

    Both sides carry a watermark and the join bounds event time in
    BOTH directions (purchase in [click, click + 30 min]), which is
    what lets Spark expire join state: a click older than watermark −
    30 min can never match again and is dropped. Without the bound
    the state grows without limit — the canonical unbounded-join
    mistake. On bounded input the final append output equals the
    batch join, which is exactly what the oracle replays.
    """
    from map_reduce_server_spark.streaming.events import _events_stream

    stream, stage = _events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = (
        clicks.join(
            purchases,
            (F.col("click_user") == F.col("user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            # Microsecond delta with integer division — sub-second
            # truncation semantics match the oracle's epoch_us//1e6
            # (per-timestamp second-flooring does not).
            F.expr(
                "(unix_micros(purchase_ts) - unix_micros(click_ts))"
                " div 1000000"
            ).alias("delay_sec"),
        )
    )
    out = _run_to_parquet(joined, "mrss_ssjoin_")
    return _collect_result(spark, out, stage, joined.schema)


# Oracle for stream_stream_left_outer below: the final append output
# of a watermark-flushed streaming LEFT OUTER join on bounded input
# IS the batch left join — matched rows stream out like the inner
# join; unmatched clicks null-extend once the watermark proves no
# purchase can arrive anymore.
_STREAM_LEFT_OUTER_ORACLE = """
SELECT a.event_id AS click_id, b.event_id AS purchase_id,
       a.user_id,
       CASE WHEN b.event_id IS NULL THEN NULL
            ELSE (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000
       END AS delay_sec
FROM (SELECT * FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL) a
LEFT JOIN (SELECT * FROM events
           WHERE event_type = 'purchase' AND ts IS NOT NULL) b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


@register("stream_stream_left_outer", oracle=_STREAM_LEFT_OUTER_ORACLE)
def stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every click,
    matched to same-user purchases within 30 minutes OR null-extended
    once it provably cannot convert — the attribution/abandonment
    pattern (conversion funnels must count the non-converters, which
    an inner join silently drops).

    State eviction is the whole point: an outer join without
    two-sided watermarks + a two-sided time bound is rejected by
    Spark outright, because an unmatched left row can only be emitted
    when the watermark passes click_ts + 30 min — before that a
    matching purchase might still arrive, and without the bound that
    moment never comes (state grows forever). With the bound, a
    click's state is dropped AND its null-extended row emitted as
    soon as the watermark proves the window empty — bounded memory
    at any stream length.

    Bounded-replay physics (the reason for TWO sentinel batches,
    staged by ``_events_stream_timeordered(n_sentinels=2)``): the
    null-extension of expired state is produced by a batch RUNNING
    under the advanced watermark, and the watermark only advances
    BETWEEN batches — the batch that carried the watermark-advancing
    row has already run by then. Sentinel 1 advances the watermark
    past every click's eviction bound; sentinel 2 triggers the batch
    that drains the expired state. A real deployment needs neither:
    its stream keeps flowing, and every batch drains whatever the
    previous batch's data expired. Sentinel clicks are sliced off by
    the flush-ceiling filter, exactly as stream_sessionize does.
    """
    from map_reduce_server_spark.streaming.events import (
        _SESSIONIZE_FLUSH_TS,
        _events_stream_timeordered,
    )

    # TYPED sentinels, one per branch: the event_type filters below
    # are pushed to the parquet scan, and a scan prunes a sentinel
    # row group that matches neither type — each branch's watermark
    # node must see its own far-future row or the global
    # (min-of-branches) watermark never advances (see the staging's
    # sentinel_types comment; measured, not hypothetical). Sentinel
    # rows carry NULL user_id/event_id and are sliced off by the
    # flush-ceiling filter after the replay.
    stream, stage = _events_stream_timeordered(
        spark,
        sf_dir,
        n_sentinels=2,
        sentinel_types=("click", "purchase"),
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
    ).select(
        "click_id",
        "purchase_id",
        F.col("click_user").alias("user_id"),
        F.expr(
            "CASE WHEN purchase_id IS NULL THEN NULL "
            "ELSE (unix_micros(purchase_ts) - unix_micros(click_ts))"
            " div 1000000 END"
        ).alias("delay_sec"),
        "click_ts",
    )
    out = _run_to_parquet(joined, "mrss_ssleft_")
    res = _collect_result(spark, out, stage, joined.schema)
    # slice off the sentinel clicks (far-future flush rows)
    return res.filter(
        F.col("click_ts") < F.lit(_SESSIONIZE_FLUSH_TS).cast("timestamp")
    ).drop("click_ts")


# Oracle for stream_stream_full_outer below: the final append output
# of a watermark-flushed streaming FULL OUTER join on bounded input
# IS the batch full join — matched pairs stream out; unmatched rows
# on EITHER side null-extend once their state expires.
_STREAM_FULL_OUTER_ORACLE = """
SELECT a.event_id AS click_id, b.event_id AS purchase_id,
       COALESCE(a.user_id, b.user_id) AS user_id,
       CASE WHEN a.event_id IS NULL OR b.event_id IS NULL THEN NULL
            ELSE (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000
       END AS delay_sec
FROM (SELECT * FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL) a
FULL JOIN (SELECT * FROM events
           WHERE event_type = 'purchase' AND ts IS NOT NULL) b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


@register("stream_stream_full_outer", oracle=_STREAM_FULL_OUTER_ORACLE)
def stream_stream_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join: conversions,
    abandoned clicks AND orphan purchases (attribution's third
    population — purchases with no qualifying click are organic /
    mis-tracked traffic, and dropping them under-reports revenue) in
    one maintained result.

    Eviction symmetry is the new physics over
    :func:`stream_stream_left_outer`: BOTH sides' state now carries
    an emission obligation — a click null-extends when the watermark
    passes click_ts + 30 min, a purchase when it passes purchase_ts
    (no earlier click can arrive once the watermark is past it,
    because the bound looks backward from the purchase). Same
    bounded-replay staging: typed sentinels (one per branch, or the
    scan prunes them) and two flush batches (advance, then drain);
    the sentinel rows themselves null-extend in a full join, so the
    ceiling slice filters on COALESCE of BOTH event times.
    """
    from map_reduce_server_spark.streaming.events import (
        _SESSIONIZE_FLUSH_TS,
        _events_stream_timeordered,
    )

    stream, stage = _events_stream_timeordered(
        spark,
        sf_dir,
        n_sentinels=2,
        sentinel_types=("click", "purchase"),
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
        F.col("user_id").alias("purchase_user"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce("click_user", "purchase_user").alias("user_id"),
        F.expr(
            "CASE WHEN click_id IS NULL OR purchase_id IS NULL THEN NULL "
            "ELSE (unix_micros(purchase_ts) - unix_micros(click_ts))"
            " div 1000000 END"
        ).alias("delay_sec"),
        "click_ts",
        "purchase_ts",
    )
    out = _run_to_parquet(joined, "mrss_ssfull_")
    res = _collect_result(spark, out, stage, joined.schema)
    flush = F.lit(_SESSIONIZE_FLUSH_TS).cast("timestamp")
    return res.filter(
        F.coalesce("click_ts", "purchase_ts") < flush
    ).drop("click_ts", "purchase_ts")
