"""Structured Streaming over the events table.

The reference's only temporal behavior is a FIFO job queue
(reference ``master/__main__.py:209-218``); real stream processing
is a north-star addition. The tumbling-window aggregation below runs
as a genuine streaming query (parquet file source → event-time
window → sink); in tests/oracle runs it's driven to completion with
``processAllAvailable`` on the bounded input.

Scale note: at 100 TB/day the same plan runs against a Kafka source
with watermark-bounded state; the window key (window × event_type)
is low-cardinality so state stays tiny. ``stream_window_counts``
uses complete-mode to a memory sink only because the input is
bounded and the result must come back as a DataFrame.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_server_spark.io.tempdirs import cleanup_at_exit
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import (
    normalize_events_ts,
    pin_utc_session,
)

_WINDOW = "5 minutes"


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling 5-minute window x event_type counts + exact value sum.

    Works for both batch and streaming DataFrames (same plan — that's
    the point of Structured Streaming).
    """
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", _WINDOW), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "q_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT event_type, value,
             unnest([CAST(floor(epoch(ts) / 300) AS BIGINT) * 300,
                     CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300])
               AS w_start_sec,
             epoch(ts) AS t
      FROM events
    )
    SELECT make_timestamp(w_start_sec * CAST(1000000 AS BIGINT)) AS w_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
    FROM starts
    WHERE t >= w_start_sec AND t < w_start_sec + 600
    GROUP BY 1, 2
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window: 10-minute windows every 5 minutes —
    each event lands in two windows. Batch form of the streaming
    window(ts, size, slide); the oracle expands each event into its
    candidate window starts explicitly."""
    from map_reduce_server_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def _events_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, str]:
    """Streaming DataFrame over the bounded events table + the staged
    landing-zone dir (caller removes it when the query is done)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    pin_utc_session(spark)
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file-stream source wants a directory; stage a symlink dir so
    # the (read-only) single-file table looks like a stream landing zone.
    stage = tempfile.mkdtemp(prefix="mrss_stream_")
    # register up front: if anything between here and the caller's
    # cleanup raises, the dir must still go at interpreter exit
    cleanup_at_exit(stage)
    # abspath: the symlink target resolves relative to the SYMLINK's
    # directory (in /tmp), so a relative sf_dir would stage a
    # dangling link — batch reads work (Spark resolves against cwd)
    # while every streaming query fails on the source.
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(stage, "events.parquet"),
    )
    stream = spark.readStream.schema(batch_schema).format("parquet").load(stage)
    # shared batch/stream ts normalization — see tables.normalize_events_ts
    return normalize_events_ts(stream), stage


def _read_deltas(spark: SparkSession, out: str, agg_schema) -> DataFrame:
    """Read the foreachBatch delta files (``b*``), tolerating the
    zero-batch case: a stream whose aggregation never emits leaves no
    delta dirs, and a bare glob read would fail path resolution where
    the oracle simply returns 0 rows."""
    import glob as _glob

    from pyspark.sql import types as T

    delta_schema = T.StructType(
        list(agg_schema.fields) + [T.StructField("batch_id", T.LongType())]
    )
    if not _glob.glob(os.path.join(out, "b*")):
        return spark.createDataFrame([], delta_schema)
    return spark.read.schema(delta_schema).parquet(os.path.join(out, "b*"))


def _run_update_to_deltas(
    spark: SparkSession,
    agg: DataFrame,
    key_cols: list[str],
    stage: str,
    prefix: str,
) -> DataFrame:
    """The idempotent update-mode delta sink, shared by every
    streaming query that maintains keyed state: run ``agg`` to
    completion writing per-batch parquet delta files, then reconcile
    to the latest-batch row per key.

    Each micro-batch emits only the keys it updated — O(updated
    keys) per batch, not O(all keys ever) as in complete mode — and
    the writer keys files by batch id so re-runs of a batch
    overwrite idempotently (exactly-once sink semantics on top of
    at-least-once delivery). The delta dir registers for cleanup
    BEFORE the query runs: a failed micro-batch must not leak it.
    batch_id is written as an explicit bigint — a bare ``lit(int)``
    is INT32 in parquet, readable only through Spark 4.x widening.
    """
    out = tempfile.mkdtemp(prefix=prefix)
    cleanup_at_exit(out)  # keep the delta files until interpreter exit

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "batch_id", F.lit(batch_id).cast("bigint")
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"b{batch_id}"))
        )

    query = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_write_batch)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        shutil.rmtree(stage, ignore_errors=True)

    from pyspark.sql import Window

    deltas = _read_deltas(spark, out, agg.schema)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("batch_id"))
    return (
        deltas.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*agg.columns)
    )


_STREAM_ORACLE = """
    SELECT make_timestamp(CAST(floor(epoch(ts) / 300) AS BIGINT)
                          * CAST(300000000 AS BIGINT)) AS w_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
"""


_STREAM_DEDUP_ORACLE = """
    SELECT event_type,
           CAST(CAST(floor(value) AS BIGINT) % 50 AS BIGINT) AS value_bucket,
           CAST(MIN(event_id) AS BIGINT) AS keeper_id,
           COUNT(*) AS n_copies,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts
    FROM events GROUP BY 1, 2
"""


@register("stream_dedup_events", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with a deterministic keeper rule: key events by
    a content fingerprint (event_type, bucketed value), keep the
    smallest event_id and count copies — the streaming face of
    ``dedup_exact``/``dedup_fingerprint``.

    ``dropDuplicates`` keeps whichever row a partition happens to
    deliver first (arrival-order-dependent, so no value oracle can
    pin it); the MIN-aggregate formulation is order-independent and
    therefore exactly replayable by the batch oracle, while still
    running as true keyed streaming state in update mode through the
    same idempotent foreachBatch delta sink as
    ``stream_window_counts_incremental``. At scale, state is one row
    per distinct key (the dedup table itself), and the sink writes
    only updated keys per batch.
    """
    stream, stage = _events_stream(spark, sf_dir)
    deduped = (
        stream.groupBy(
            "event_type",
            (F.floor("value").cast("bigint") % 50).alias("value_bucket"),
        )
        .agg(
            F.min("event_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
            F.min("ts").alias("first_ts"),
        )
    )
    return _run_update_to_deltas(
        spark,
        deduped,
        ["event_type", "value_bucket"],
        stage,
        "mrss_stream_dedup_",
    )


@register("stream_window_counts", oracle=_STREAM_ORACLE)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the windowed aggregation as a real streaming query over the
    bounded parquet input and return the final result.

    Complete-mode + memory sink: the BOUNDED-INPUT oracle check only —
    it re-emits the whole result per batch and collects it to the
    driver, which does not survive unbounded input. The registered
    scale pattern is ``stream_window_counts_incremental``.
    """
    stream, stage = _events_stream(spark, sf_dir)
    agg = windowed_event_counts(stream)
    sink = f"stream_out_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        shutil.rmtree(stage, ignore_errors=True)
    # Materialize through a parquet round-trip and DROP the
    # memory-sink view: spark.table(sink) is lazy and would pin one
    # complete-mode result set per invocation for the session's
    # life, while a collect()/createDataFrame round-trip converts
    # timestamps through Python datetimes in OS-local time — a
    # w_start in a DST fold hour would come back 3600 s off.
    out = tempfile.mkdtemp(prefix="mrss_stream_complete_")
    cleanup_at_exit(out)
    dest = os.path.join(out, "r")
    result = spark.table(sink)
    schema = result.schema
    try:
        result.write.parquet(dest)
    finally:
        # even a failed write must not leak the memory-sink view —
        # retries would pin one complete-mode result set per attempt
        spark.catalog.dropTempView(sink)
    # explicit schema: an empty result writes no part files, and a
    # bare read would fail schema inference where the oracle simply
    # returns 0 rows (same defense as _read_deltas)
    return spark.read.schema(schema).parquet(dest)


@register("stream_window_counts_incremental", oracle=_STREAM_ORACLE)
def stream_window_counts_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The scale-correct streaming sink: UPDATE-mode windowed
    aggregation written incrementally through ``foreachBatch`` to
    per-batch parquet delta files.

    Each micro-batch emits only the windows it updated — O(updated
    windows) per batch, not O(all windows ever) as in complete mode —
    and the writer keys files by batch id so re-runs of a batch
    overwrite idempotently (exactly-once sink semantics on top of
    at-least-once delivery). The final table is the latest-batch row
    per (window, event_type), a window over the compact delta set.
    This is the pattern that survives unbounded input: state size is
    bounded by the watermark, sink I/O by the update rate, and
    nothing ever collects to the driver.
    """
    stream, stage = _events_stream(spark, sf_dir)
    agg = windowed_event_counts(stream)
    return _run_update_to_deltas(
        spark, agg, ["w_start", "event_type"], stage, "mrss_stream_sink_"
    )


_STREAM_TRENDING_ORACLE = """
    WITH counts AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT)
                            * CAST(600000000 AS BIGINT)) AS w_start,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT w_start, event_type, n_events,
             row_number() OVER (PARTITION BY w_start
                                ORDER BY n_events DESC, event_type) AS rnk
      FROM counts)
    SELECT w_start, event_type, n_events, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
"""


@register("stream_trending_topk", oracle=_STREAM_TRENDING_ORACLE)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending dashboard: top-3 event types per 10-minute window,
    maintained streaming-side. Ranking is not incrementally
    maintainable (one count update can reorder a whole window), so the
    scale pattern splits: the STREAM maintains per-(window, type)
    counts in update mode through the idempotent foreachBatch delta
    sink — tiny keyed state, only touched keys written per batch —
    and the rank is the cheap serving-side query over the maintained
    table (windows × types rows, not events). The tie rule
    (count DESC, event_type) is total, so top-3 is engine-exact.
    """
    stream, stage = _events_stream(spark, sf_dir)
    # watermark bounds the update-mode window state on an unbounded
    # source (without it every window's count row lives forever);
    # no-op for the bounded gate input, same setting as
    # windowed_event_counts. MUST group by the window STRUCT —
    # grouping by .getField("start") drops the event-time metadata
    # and the watermark silently never binds (verified: append mode
    # rejects that shape as "aggregation without watermark").
    counts = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events"
        )
    )
    table = _run_update_to_deltas(
        spark, counts, ["w_start", "event_type"], stage, "mrss_stream_trend_"
    )

    from pyspark.sql import Window

    rank_w = Window.partitionBy("w_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return table.withColumn("rnk", F.row_number().over(rank_w)).filter(
        F.col("rnk") <= 3
    )


# --- streaming sessionization ------------------------------------------------

# Oracle for stream_sessionize below: the identical
# first-principles lag/cumsum sessionization that certifies the
# batch q_session_window (operators/udf.py) — a streaming replay of
# the bounded input must land on exactly the batch answer.
_STREAM_SESSIONIZE_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS s_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS s_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
"""


# One sentinel row with this ts is staged as the FINAL replay file:
# it advances the global watermark past every real session's end so
# append mode can finalize them on the bounded input (a real
# deployment's stream simply keeps flowing; a bounded replay needs
# the explicit nudge). Sessions at or past this instant are the
# sentinel's own and are filtered from the result.
_SESSIONIZE_FLUSH_TS = "2035-01-01 00:00:00"


def _events_stream_timeordered(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    sentinel: bool = True,
    n_sentinels: int = 1,
    sentinel_types: tuple[str, ...] | None = None,
) -> tuple[DataFrame, str]:
    """Streaming DataFrame over the bounded events table staged as
    ``n_files`` TIME-RANGE files replayed one per micro-batch, plus a
    final one-row watermark-flush sentinel file — the multi-batch
    sibling of :func:`_events_stream` for operators whose cross-batch
    state transitions (session growth, append-mode finalization,
    watermark eviction) a single-batch replay would never exercise.

    Time-ordered arrival is the contract a watermarked source
    provides at scale (Kafka with bounded disorder): each batch's
    events are later than every prior batch's, so (a) nothing is ever
    late-dropped, and (b) a session evicted by the watermark can
    never receive a mergeable event afterwards — eviction is safe by
    construction, not by luck. ``repartitionByRange`` makes file k
    the k-th time range (NULL ts sorts into file 0 and is dropped by
    SessionWindowing whenever it arrives), file names follow
    partition order, and explicit mtimes pin the file-source replay
    order deterministically; the sentinel gets the LAST mtime.

    ``sentinel=False`` skips the flush row: NoTimeout stateful
    operators carry no watermark, so nothing needs flushing and the
    all-NULL sentinel row would instead surface as a spurious NULL
    group key in the operator's own output.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    pin_utc_session(spark)
    from map_reduce_server_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="mrss_stream_sess_")
    cleanup_at_exit(stage)
    data_dir = os.path.join(stage, "in")
    (
        ev.repartitionByRange(n_files, "ts", "event_id")
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    parts = sorted(
        f
        for f in os.listdir(data_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    base = 1_600_000_000
    for i, f in enumerate(parts):
        os.utime(os.path.join(data_dir, f), (base + 10 * i, base + 10 * i))
    if sentinel:
        # the flush sentinel(s): far-future rows, schema-identical
        # (built FROM the normalized frame so ts carries the same
        # type), each written as its own file so each forms its own
        # final micro-batch. Operators whose emission happens one
        # batch AFTER the watermark advances (stream-stream OUTER
        # joins: the null-extension of expired state is produced by
        # the batch that RUNS under the advanced watermark, which the
        # single batch that carried the advancing row never is) pass
        # ``n_sentinels=2`` — the first sentinel advances the
        # watermark, the second triggers the batch that drains the
        # expired state.
        # ``sentinel_types``: operators that split the stream into
        # event_type-filtered branches (stream-stream joins) need one
        # sentinel row PER branch type — the filters are PUSHED TO
        # THE SCAN, and a parquet row group whose event_type min/max
        # is all-NULL is pruned wholesale, so an untyped sentinel
        # never reaches either branch's watermark node and the global
        # (min-of-branches) watermark sticks forever (measured: the
        # sentinel batches report numInputRows = 0).
        for si in range(n_sentinels):
            sent_dir = os.path.join(stage, f"sentinel{si}")
            one = ev.limit(1)
            sent_rows = None
            for stype in sentinel_types or (None,):
                row = one.select(
                    *[
                        (
                            F.lit(_SESSIONIZE_FLUSH_TS).cast("timestamp")
                            + F.expr(f"INTERVAL {si} SECONDS")
                        ).alias("ts")
                        if f.name == "ts"
                        else F.lit(stype)
                        .cast(f.dataType)
                        .alias(f.name)
                        if f.name == "event_type"
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in ev.schema.fields
                    ]
                )
                sent_rows = row if sent_rows is None else sent_rows.unionAll(row)
            (
                sent_rows.coalesce(1)
                .write.mode("overwrite")
                .parquet(sent_dir)
            )
            sent = next(
                f
                for f in os.listdir(sent_dir)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            final_path = os.path.join(
                data_dir, f"part-zz{si}-sentinel.parquet"
            )
            shutil.copyfile(os.path.join(sent_dir, sent), final_path)
            t = base + 10 * (len(parts) + 1 + si)
            os.utime(final_path, (t, t))
    schema = spark.read.parquet(data_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(data_dir)
    )
    return normalize_events_ts(stream), stage


@register("stream_sessionize", oracle=_STREAM_SESSIONIZE_ORACLE)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming sessionization: native ``session_window``
    (30-minute gap) maintained as keyed streaming state across a
    multi-batch time-ordered replay — the streaming face of
    ``q_session_window`` and the stateful sibling of
    ``stream_window_counts_incremental`` (whose tumbling windows
    never change identity; sessions GROW and MERGE, which is why
    Spark restricts streaming session aggregation to APPEND mode —
    there is no key-stable row to update).

    Append mode emits each session EXACTLY ONCE, when the watermark
    passes its end and no mergeable event can still arrive — the
    streaming-native finalization a training-ingest pipeline wants
    (downstream consumers never see a session twice). On the bounded
    replay the last sessions would otherwise wait forever for a
    watermark that no longer moves, so the staging appends a one-row
    far-future sentinel file as the final micro-batch; its own
    session is sliced off by the ``s_start`` ceiling filter. State is
    bounded by the watermark, sink I/O is O(finalized sessions per
    batch), and nothing ever collects to the driver.
    """
    stream, stage = _events_stream_timeordered(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n_events",
            "total_value",
        )
    )

    out = tempfile.mkdtemp(prefix="mrss_stream_sessionize_")
    cleanup_at_exit(out)

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"b{batch_id}"))
        )

    query = (
        agg.writeStream.outputMode("append")
        .foreachBatch(_write_batch)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        shutil.rmtree(stage, ignore_errors=True)

    deltas = _read_deltas(spark, out, agg.schema)
    return deltas.filter(
        F.col("s_start") < F.lit(_SESSIONIZE_FLUSH_TS).cast("timestamp")
    ).select("user_id", "s_start", "s_end", "n_events", "total_value")


# Oracle for stream_stateful_counts: the cents-exact running totals
# converge to a plain batch aggregate (same decimal(30,2) per-value
# rounding as dsum, so the SQL twin is the standard exact-sum
# rendering).
_STREAM_STATEFUL_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


@register("stream_stateful_counts", oracle=_STREAM_STATEFUL_ORACLE)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator through the driver gate:
    per-event-type running (count, exact-cents total) maintained by
    ``applyInPandasWithState`` (streaming/stateful.py) across a
    multi-batch time-ordered replay — the one streaming family
    (arbitrary user state, beyond what window/session aggregation
    can express) no registered query exercised yet.

    The state is a (count, integer-cents) pair: each value rounds to
    cents independently (HALF_UP on the shortest decimal repr,
    exactly Spark's double->decimal(30,2) cast), so the fold is
    associative and the final snapshot is independent of batch
    boundaries — the streaming analog of the engine's exact-decimal
    aggregation rule, which is precisely what makes a batch SQL twin
    possible for a stateful operator. Replay is 4 time-range files,
    one per micro-batch with NO flush sentinel (NoTimeout state
    never needs a watermark), through the idempotent per-batch delta
    sink; the result is the latest snapshot per key. At scale: state
    is one integer pair per key, each batch emits only updated keys,
    and nothing collects to the driver."""
    from map_reduce_server_spark.streaming.stateful import (
        running_counts_stream,
    )

    stream, stage = _events_stream_timeordered(
        spark, sf_dir, sentinel=False
    )
    agg = running_counts_stream(stream)
    return _run_update_to_deltas(
        spark, agg, ["event_type"], stage, "mrss_stream_state_"
    )


# Oracle for stream_cdc_latest below: identical to q_cdc_apply's
# batch replay — the streaming state converges to the same
# latest-op-wins snapshot.
_STREAM_CDC_ORACLE = """
WITH changelog AS (
  SELECT o_custkey AS key, o_orderdate AS ts, o_orderkey AS seq,
         CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END AS op,
         o_totalprice AS payload
  FROM orders),
latest AS (
  SELECT key, op, payload, n_ops FROM (
    SELECT key, op, payload,
           ROW_NUMBER() OVER (PARTITION BY key
                              ORDER BY ts DESC, seq DESC) AS rn,
           COUNT(*) OVER (PARTITION BY key) AS n_ops
    FROM changelog) t
  WHERE rn = 1)
SELECT c.c_custkey, l.payload AS last_price,
       CAST(l.n_ops AS BIGINT) AS n_ops
FROM customer c JOIN latest l ON c.c_custkey = l.key
WHERE l.op <> 'D'
"""


@register("stream_cdc_latest", oracle=_STREAM_CDC_ORACLE)
def stream_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC apply: the orders changelog replayed as
    commit-ordered micro-batches with per-key latest-op-wins state —
    the streaming face of ``q_cdc_apply`` (lakehouse continuous
    MERGE ingestion), and the first streaming operator over a table
    other than events.

    State per key is one ``MAX(struct(ts, seq, payload))`` — struct
    comparison is lexicographic, so the winner is exactly the batch
    ``ORDER BY ts DESC, seq DESC`` row and arrives associatively
    (any batch slicing converges to the same struct). Deletes are
    resolved AT READ (the latest op's key mod) rather than by
    removing state: a later re-insert for the key must revive it,
    which dropped state could not. Replay staging mirrors the CDC
    contract — a changelog arrives in commit order, so files are
    date-range partitions with pinned mtimes, one per micro-batch.
    At scale: state is one struct per live key, each batch emits
    only updated keys through the idempotent delta sink, and the
    customer join happens once on the final compact snapshot."""
    from map_reduce_server_spark.tables import load_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    pin_utc_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    stage = tempfile.mkdtemp(prefix="mrss_stream_cdc_")
    cleanup_at_exit(stage)
    data_dir = os.path.join(stage, "in")
    (
        orders.repartitionByRange(4, "o_orderdate", "o_orderkey")
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    parts = sorted(
        f
        for f in os.listdir(data_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    base = 1_600_000_000
    for i, f in enumerate(parts):
        os.utime(os.path.join(data_dir, f), (base + 10 * i,) * 2)
    schema = spark.read.parquet(data_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(data_dir)
    )
    agg = stream.groupBy("o_custkey").agg(
        F.max(
            F.struct("o_orderdate", "o_orderkey", "o_totalprice")
        ).alias("latest"),
        F.count(F.lit(1)).alias("n_ops"),
    )
    snap = _run_update_to_deltas(
        spark, agg, ["o_custkey"], stage, "mrss_stream_cdc_out_"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        snap.filter(F.col("latest.o_orderkey") % 19 != 0)
        .join(cust, snap["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            F.col("latest.o_totalprice").alias("last_price"),
            "n_ops",
        )
    )
