"""Corpus-curation pipeline compositions.

The single-operator building blocks (MinHash-LSH candidates,
connected components, quality scores, hash splits) live in
``dedup.py`` / ``clustering.py`` / ``text.py``; this module registers
the COMPOSED pipelines a training-data curation pass actually runs,
each still fully oracle-checked:

- ``dedup_minhash_keep_one`` — the end-to-end fuzzy dedup: candidate
  pairs → transitive closure → one canonical survivor per group.
- ``q_domain_mixture`` — deterministic per-source rebalancing toward
  a uniform domain mix, with EXACT rational sampling (hash % n < k),
  no floating-point rates anywhere.
- ``q_profile_columns`` — one-scan data profiling (null count,
  distinct count, min/max per column) in long format.
- ``q_scd2_customer_orders`` — slowly-changing-dimension (type 2)
  interval build from an event-style fact.
- ``q_quality_gate`` / ``q_pack_sequences`` / ``q_training_shards`` —
  per-domain quantile filtering, greedy context-window packing, and
  content-addressed shard manifests.
- ``q_point_in_time_join`` — leakage-safe feature-store enrichment.
- ``q_data_expectations`` / ``q_drift_psi`` — pre-publish validation
  gate and split-drift monitoring.
- ``q_weighted_sample`` / ``q_snapshot_diff`` — deterministic A-ES
  weighted sampling and incremental-refresh auditing.

The reference has no notion of any of this (its pipeline surface is
wordcount/grep executables, reference ``tests/testdata/exec/``);
these exist for the 100 TB training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.hashing import (
    md5_long,
    split_hash,
    sql_md5_long,
    sql_split_hash,
    sql_uniform01,
    uniform01,
)
from map_reduce_server_spark.functions.tokens import (
    SQL_TOKS,
    distinct_ratio_col,
    sql_distinct_ratio,
    word_tokens_col,
)
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table


# ---------------------------------------------------------------------------
# End-to-end fuzzy dedup: keep one representative per near-dup group
# ---------------------------------------------------------------------------


def _sql_keep_one_oracle() -> str:
    from map_reduce_server_spark.operators.clustering import (
        _sql_dedup_cluster_oracle,
    )

    return f"""
    SELECT CAST(cluster_id AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM ({_sql_dedup_cluster_oracle()}) clustered
    GROUP BY cluster_id
    """


@register("dedup_minhash_keep_one", oracle=_sql_keep_one_oracle())
def dedup_minhash_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete fuzzy-dedup pass a corpus curation pipeline runs:
    MinHash-LSH candidate pairs → connected components → keep the
    smallest doc_id of each duplicate group (singletons keep
    themselves). Returns one row per SURVIVING document with its
    group size — the survivor set IS the deduplicated corpus.

    Scale: adds a single groupBy on cluster_id (8-byte keys) on top
    of ``dedup_cluster``; document text never shuffles anywhere in
    the pipeline. The oracle replays the whole composition, recursive
    closure included, in one DuckDB statement.
    """
    from map_reduce_server_spark.operators.clustering import dedup_cluster

    clustered = dedup_cluster(spark, sf_dir)
    return (
        clustered.groupBy(F.col("cluster_id").alias("keep_doc_id"))
        .agg(F.count("*").alias("n_members"))
    )


# ---------------------------------------------------------------------------
# Domain-mixture rebalancing (deterministic, exact-rational sampling)
# ---------------------------------------------------------------------------


@register(
    "q_domain_mixture",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source
      FROM documents GROUP BY source
    ),
    target AS (SELECT MIN(n_source) AS n_target FROM counts)
    SELECT d.doc_id, d.source
    FROM documents d
    JOIN counts USING (source) CROSS JOIN target
    WHERE {sql_md5_long("'mix:' || CAST(d.doc_id AS VARCHAR)")}
          % n_source < n_target
    """,
)
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus toward a uniform source mix: every source
    is thinned to (approximately) the smallest source's size by
    keeping doc_id iff ``md5(doc) % n_source < n_target``.

    The keep-rate n_target/n_source is applied as EXACT integer
    arithmetic — no float thresholds, so the decision is bit-identical
    on any engine and any partitioning, and a document's fate never
    flips when unrelated partitions move. Per-source counts are a
    broadcast-joined aggregate (one row per source); the fact table
    is scanned once.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_source"))
    target = counts.agg(F.min("n_source").alias("n_target"))
    h = md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    return (
        docs.join(F.broadcast(counts), "source")
        .join(F.broadcast(target))
        .filter(h % F.col("n_source") < F.col("n_target"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# One-pass column profiling
# ---------------------------------------------------------------------------

# (column, portable min/max expression) — doubles go through a fixed
# DECIMAL so min/max strings format identically on both engines
# (Java prints 5.0E7, DuckDB 50000000.0 — decimals sidestep it).
# {T} is the dialect's unbounded string type (Spark: STRING,
# DuckDB: VARCHAR).
_PROFILE_COLS = (
    ("o_orderkey", "CAST({c} AS {T})"),
    ("o_custkey", "CAST({c} AS {T})"),
    ("o_orderstatus", "CAST({c} AS {T})"),
    ("o_totalprice", "CAST(CAST({c} AS DECIMAL(18,2)) AS {T})"),
    ("o_orderdate", "CAST({c} AS {T})"),
    ("o_orderpriority", "CAST({c} AS {T})"),
)


def _sql_profile_oracle() -> str:
    # MIN/MAX over the NATIVE value, cast AFTERWARDS: casting first
    # would make numeric profiles lexicographic ('10' < '9').
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               {tmpl.format(c=f'MIN({c})', T='VARCHAR')} AS min_val,
               {tmpl.format(c=f'MAX({c})', T='VARCHAR')} AS max_val
        FROM orders
        """
        for c, tmpl in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@register("q_profile_columns", oracle=_sql_profile_oracle())
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling in ONE scan: per-column null count, exact
    distinct count, and min/max, emitted in long format.

    The naive form is one scan per column (the oracle's UNION ALL —
    fine for DuckDB at sf0.01, wrong at 100 TB). The Spark plan
    computes every column's aggregates in a single pass: Catalyst
    plans multi-column COUNT(DISTINCT) as one Expand + two-level
    aggregate, so the fact table is read once regardless of column
    count; the final stack() to long format touches 6 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c, tmpl in _PROFILE_COLS:
        aggs += [
            # count(when(...)) not sum(cast): 0, never NULL, on an
            # empty table (matching the oracle's COUNT(*) - COUNT(c))
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__null"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            # aggregate the NATIVE value, cast the RESULT — min/max of
            # the string cast would be lexicographic for numerics
            F.expr(tmpl.format(c=f"MIN({c})", T="STRING")).alias(f"{c}__min"),
            F.expr(tmpl.format(c=f"MAX({c})", T="STRING")).alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__null, {c}__distinct, {c}__min, {c}__max"
        for c, _ in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_null, n_distinct, min_val, max_val)"
        )
    )


# ---------------------------------------------------------------------------
# SCD2 dimension build
# ---------------------------------------------------------------------------


@register(
    "q_scd2_customer_orders",
    oracle="""
    SELECT o_custkey, o_orderkey,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w AS valid_to,
           (LEAD(o_orderdate) OVER w IS NULL) AS is_current
    FROM orders
    WHERE o_orderdate IS NOT NULL
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_scd2_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: each customer's
    order stream becomes versioned rows with [valid_from, valid_to)
    intervals and an is_current flag — the standard way a warehouse
    tracks attribute history, built here with one window pass (no
    self-join). The window ORDER BY ends in the unique o_orderkey so
    same-day orders version deterministically on every engine.

    NULL-date guard mirrored in the oracle: a NULL o_orderdate sorts
    FIRST in Spark windows and LAST in DuckDB, flipping valid_to /
    is_current for its neighbors — the same engine-divergence class
    q_point_in_time_join guards (no NULL dates in current data, but
    the twin must not depend on that).
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
    )
    valid_to = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Per-domain quantile quality gate
# ---------------------------------------------------------------------------


@register(
    "q_quality_gate",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             {sql_distinct_ratio()} AS score
      FROM documents),
    ranked AS (
      SELECT doc_id, source, score,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY score NULLS LAST, doc_id) AS pr,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM scored)
    SELECT doc_id, source, score FROM ranked
    WHERE pr >= 0.25 OR n_src < 4
    """,
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quantile filtering: score every document (distinct-
    token ratio — the cheap lexical-diversity proxy) and drop the
    bottom quartile WITHIN each source. Quantile gating per domain —
    rather than one global threshold — is the standard guard against a
    verbose domain swamping a terse one.

    The cut is rank-based (percent_rank with a doc_id tie-break), not
    value-interpolated: engines disagree on percentile interpolation
    but not on ranks over a totally-ordered partition, so the kept set
    is bit-identical. Scale: one window shuffle partitioned by source
    — parallel across domains; a skewed giant domain re-partitions by
    (source, score-range) first.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", distinct_ratio_col().alias("score")
    )
    # NULLS LAST explicitly: Spark ASC defaults NULLS FIRST, DuckDB
    # NULLS LAST — a NULL-text doc would land in opposite quartiles
    w = Window.partitionBy("source").orderBy(
        F.col("score").asc_nulls_last(), "doc_id"
    )
    # sources smaller than 4 docs have no meaningful quartile — the
    # bare pr >= 0.25 rule would delete 100% of a 1-doc domain
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .withColumn(
            "n_src", F.count("*").over(Window.partitionBy("source"))
        )
        .filter((F.col("pr") >= 0.25) | (F.col("n_src") < 4))
        .select("doc_id", "source", "score")
    )


# ---------------------------------------------------------------------------
# Greedy sequence packing (context-window manifest)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per training sequence


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source,
             len({SQL_TOKS}) AS n_tokens
      FROM documents),
    packed AS (
      SELECT source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  // {_PACK_BUDGET} AS BIGINT) AS seq_id
      FROM sized)
    SELECT source, seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM packed
    GROUP BY source, seq_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences
    (manifest form): within each source, documents in doc_id order are
    assigned to sequence ``floor(tokens_before / budget)`` — the
    streaming concat-then-chunk packing every pretraining pipeline
    runs, with documents kept atomic (a sequence may overshoot the
    budget by at most one document's tail; nothing is split).

    Scale: the running sum is windowed PER SOURCE, so the prefix scan
    parallelizes across domains instead of serializing the corpus
    through one partition; at 100 TB the same recurrence runs per
    (source, day) shard. Output is the (source, seq_id) manifest a
    shard writer consumes.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens_col()
    sized = docs.select(
        "doc_id", "source", F.size(toks).alias("n_tokens")
    )
    # asc_nulls_last: DuckDB ASC defaults NULLS LAST while Spark
    # defaults NULLS FIRST — a NULL doc_id would otherwise shift
    # every prefix sum in its source between the twins (documents
    # currently have none, but the ordering must not depend on that)
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("doc_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.select(
        "source",
        "n_tokens",
        (
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            / F.lit(_PACK_BUDGET)
        ).cast("bigint").alias("seq_id"),
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Deterministic shard manifest (training-shard writer planning)
# ---------------------------------------------------------------------------

_N_SHARDS = 64


@register(
    "q_training_shards",
    oracle=f"""
    SELECT {sql_md5_long("'shard:' || CAST(doc_id AS VARCHAR)")} % {_N_SHARDS}
             AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM documents
    GROUP BY shard_id
    """,
)
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-shard manifest: every document is assigned
    to ``md5(doc_id) % {n}`` and the manifest reports per-shard volume
    — the planning step before ``df.repartition(n, shard).write``
    produces balanced training shards whose membership never changes
    when the corpus is re-processed (content-addressed, not
    zipWithIndex/row_number, so it is stable under re-partitioning and
    incremental appends).

    Scale: one aggregate on an 8-byte derived key; the manifest is n
    rows. The hash gate is the same md5-mod family the mixture/split
    ops use — one primitive, many curation stages.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = md5_long(
        F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))
    ) % _N_SHARDS
    return (
        docs.select(shard.alias("shard_id"), "doc_id", "n_chars")
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-time correct enrichment (feature-store as-of lookup)
# ---------------------------------------------------------------------------


@register(
    "q_point_in_time_join",
    oracle="""
    WITH tagged AS (
      SELECT o_custkey AS user_id, o_orderdate AS ts,
             o_orderkey AS okey, NULL AS event_id, 0 AS is_event
      FROM orders WHERE o_orderdate IS NOT NULL
      UNION ALL
      SELECT user_id, ts, NULL AS okey, event_id, 1 AS is_event
      FROM events WHERE ts IS NOT NULL),
    filled AS (
      SELECT user_id, ts, event_id, is_event,
             last_value(okey IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, is_event, okey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS asof_orderkey
      FROM tagged)
    SELECT CAST(event_id AS BIGINT) AS event_id, user_id, ts,
           CAST(asof_orderkey AS BIGINT) AS asof_orderkey
    FROM filled WHERE is_event = 1
    """,
)
def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correct enrichment: every event picks up the
    user's most recent order key AS OF the event timestamp — the
    feature-store join that prevents training-serving leakage (a
    feature computed after the label's timestamp must never be
    visible).

    Scalable formulation: no join at all. Dimension updates (orders)
    and lookups (events) union into one per-user time-ordered stream
    and a single window pass carries the latest order key forward
    past each event row; ties at the same instant order updates
    BEFORE lookups (as-of is inclusive) and same-instant updates by
    ascending key so the LAST one wins deterministically. One shuffle
    on user_id regardless of how many fact rows enrich.
    """
    # NULL-ts guard mirrored in the oracle (same class as the
    # advanced.py event-ordering queries): Spark sorts NULLS FIRST,
    # DuckDB NULLS LAST, so an unfiltered NULL-ts lookup would see an
    # empty history on one engine and the full history on the other.
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("okey"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_event"),
    )
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("okey"),
        "event_id", F.lit(1).alias("is_event"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_event", "okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = orders.unionByName(events).withColumn(
        "asof_orderkey", F.last("okey", ignorenulls=True).over(w)
    )
    return filled.filter(F.col("is_event") == 1).select(
        "event_id", "user_id", "ts", "asof_orderkey"
    )


# ---------------------------------------------------------------------------
# Data-quality expectations (pipeline validation gate)
# ---------------------------------------------------------------------------


@register(
    "q_data_expectations",
    oracle="""
    SELECT 'lineitem_quantity_in_range' AS rule,
           CAST(COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
                AS BIGINT) AS n_violations,
           COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) = 0
             AS passed
    FROM lineitem
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*) = COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_references_customer',
           CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'events_value_not_null_nonneg',
           CAST(COUNT(*) FILTER (WHERE value IS NULL OR value < 0)
                AS BIGINT),
           COUNT(*) FILTER (WHERE value IS NULL OR value < 0) = 0
    FROM events
    UNION ALL
    SELECT 'documents_doc_id_unique_not_null',
           CAST((COUNT(*) - COUNT(DISTINCT doc_id))
                + COUNT(*) FILTER (WHERE doc_id IS NULL) AS BIGINT),
           COUNT(*) = COUNT(DISTINCT doc_id)
           AND COUNT(*) FILTER (WHERE doc_id IS NULL) = 0
    FROM documents
    """,
)
def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite validation (the Great-Expectations pattern as
    one query): each rule reports its violation count and a pass
    flag — range check, key uniqueness, referential integrity,
    null/sign constraints. The gate a pipeline runs BEFORE publishing
    a snapshot; at 100 TB each rule is one aggregate (or anti-join)
    over its table, and unrelated rules parallelize as independent
    stages of the same job.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    def rule(name: str, n_violations):
        return (
            F.lit(name).alias("rule"),
            n_violations.cast("bigint").alias("n_violations"),
            (n_violations == 0).alias("passed"),
        )

    # count(when(...)) not sum(cast): an EMPTY table must yield
    # n_violations = 0 / passed = true (the oracle's FILTER count
    # does), not NULL / NULL — a validation gate cannot emit UNKNOWN
    qty_bad = F.count(
        F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
    )
    r1 = li.agg(*rule("lineitem_quantity_in_range", qty_bad))
    dup = F.count("*") - F.count_distinct("o_orderkey")
    r2 = orders.agg(*rule("orders_orderkey_unique", dup))
    orphans = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    ).agg(*rule("orders_custkey_references_customer", F.count("*")))
    val_bad = F.count(
        F.when(F.col("value").isNull() | (F.col("value") < 0), 1)
    )
    r4 = ev.agg(*rule("events_value_not_null_nonneg", val_bad))
    doc_bad = (F.count("*") - F.count_distinct("doc_id")) + F.count(
        F.when(F.col("doc_id").isNull(), 1)
    )
    r5 = docs.agg(*rule("documents_doc_id_unique_not_null", doc_bad))
    return r1.unionByName(r2).unionByName(orphans).unionByName(r4).unionByName(r5)


# ---------------------------------------------------------------------------
# Distribution drift between corpus splits (population stability index)
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 10
_PSI_EPS = 1e-6


@register(
    "q_drift_psi",
    oracle=f"""
    WITH split AS (
      SELECT n_chars,
             {sql_split_hash("doc_id")} % 2 AS s
      FROM documents),
    mx AS (SELECT CAST(MAX(n_chars) AS DOUBLE) + 1.0 AS m FROM documents),
    bucketed AS (
      SELECT CAST(FLOOR(n_chars / (SELECT m FROM mx) * {_PSI_BUCKETS})
                  AS BIGINT) AS bucket, s
      FROM split),
    counts AS (
      SELECT bucket,
             COUNT(*) FILTER (WHERE s = 0) AS n_a,
             COUNT(*) FILTER (WHERE s = 1) AS n_b
      FROM bucketed GROUP BY bucket),
    tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM counts),
    shares AS (
      SELECT bucket,
             n_a / (SELECT CAST(ta AS DOUBLE) FROM tot) + {_PSI_EPS} AS pa,
             n_b / (SELECT CAST(tb AS DOUBLE) FROM tot) + {_PSI_EPS} AS pb
      FROM counts)
    SELECT bucket, pa AS p_a, pb AS p_b,
           round((pa - pb) * ln(pa / pb), 6) AS psi_term
    FROM shares
    """,
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the deterministic train/test
    hash splits, bucketed by document length — the drift alarm a
    pipeline fires when a new crawl stops resembling the old one
    (PSI > 0.2 is the usual page-the-oncall line; total PSI is the
    sum of per-bucket terms emitted here).

    Scale: one scan to bucket counts (map-side partial agg), totals
    broadcast back; epsilon-smoothed shares keep ln() defined for
    empty buckets; all float math runs on identical doubles in both
    engines — shares emitted raw, only the libm-bearing psi_term
    rounded.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = split_hash(F.col("doc_id")) % 2
    mx = docs.agg((F.max("n_chars").cast("double") + 1.0).alias("m"))
    bucketed = docs.select("n_chars", s.alias("s")).join(F.broadcast(mx))
    counts = (
        bucketed.select(
            F.floor(
                F.col("n_chars") / F.col("m") * _PSI_BUCKETS
            ).cast("bigint").alias("bucket"),
            "s",
        )
        .groupBy("bucket")
        .agg(
            # count(when) not sum(cast): the house null-safe counting
            # idiom — sum over an empty/all-false group is NULL where
            # the oracle's FILTER count is 0
            F.count(F.when(F.col("s") == 0, 1)).alias("n_a"),
            F.count(F.when(F.col("s") == 1, 1)).alias("n_b"),
        )
    )
    tot = counts.agg(
        F.sum("n_a").cast("double").alias("ta"),
        F.sum("n_b").cast("double").alias("tb"),
    )
    shares = counts.join(F.broadcast(tot)).select(
        "bucket",
        (F.col("n_a") / F.col("ta") + _PSI_EPS).alias("pa"),
        (F.col("n_b") / F.col("tb") + _PSI_EPS).alias("pb"),
    )
    # p_a/p_b RAW: rational + epsilon on identical doubles is
    # bit-identical across engines, while round(x, 6) breaks on
    # 7-decimal-midpoint shares (the class the round-7 raw-double
    # rework removed). psi_term
    # KEEPS its round — it absorbs genuine 1-ulp ln() differences
    # between the engines' libm, which raw output would expose.
    return shares.select(
        "bucket",
        F.col("pa").alias("p_a"),
        F.col("pb").alias("p_b"),
        F.round(
            (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb")), 6
        ).alias("psi_term"),
    )


# --- weighted sampling (A-ES exponential keys) ------------------------------

_WS_TOPK = 5


@register(
    "q_weighted_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(n_chars AS DOUBLE) AS wt,
             {sql_uniform01("ws", "CAST(doc_id AS VARCHAR)")} AS u
      FROM documents),
    k AS (SELECT doc_id, source,
                 round(ln(u) / wt, 9) + 0.0 AS sample_key
          FROM w),
    r AS (SELECT doc_id, source, sample_key,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY sample_key DESC, doc_id) AS rnk
          FROM k)
    SELECT source, doc_id, sample_key, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= {_WS_TOPK}
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via the A-ES exponential
    key (Efraimidis–Spirakis): rank docs per source by ln(u)/weight
    with a DETERMINISTIC md5-derived uniform u — the importance
    sampler behind quality-weighted data mixing, reproducible on any
    partitioning because the randomness is a pure hash of doc_id.
    (ln(u)/w orders identically to the textbook u^(1/w) and spends
    one transcendental instead of two; u is one of 10^6 fixed
    rationals, and the key rounds to 9 digits — the repo's standard
    libm-portability guard.)

    Scale shape: one narrow scan computes keys, one window shuffle on
    source ranks them, and WindowGroupLimit prunes every partition to
    k before the shuffle — the same top-k plan every per-group rank
    uses here.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = uniform01("ws", F.col("doc_id"))
    # + 0.0 on both twins: the key is always <= 0 and a key rounding
    # to zero from below gives -0.0 in DuckDB but +0.0 in Spark —
    # repr-level comparator mismatch; adding +0.0 normalizes -0.0
    keyed = docs.select(
        "source",
        "doc_id",
        (
            F.round(F.log(u) / F.col("n_chars").cast("double"), 9) + 0.0
        ).alias("sample_key"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("sample_key"), "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _WS_TOPK)
        .select("source", "doc_id", "sample_key", "rnk")
    )


_SNAP_CUTOFF = "1998-01-01"


@register(
    "q_snapshot_diff",
    oracle=f"""
    WITH old AS (
      SELECT o_custkey AS custkey,
             SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
      FROM orders WHERE o_orderdate < TIMESTAMP '{_SNAP_CUTOFF}'
      GROUP BY 1),
    new AS (
      SELECT o_custkey AS custkey,
             SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
      FROM orders GROUP BY 1)
    SELECT new.custkey,
           CASE WHEN old.custkey IS NULL THEN 'added'
                WHEN old.rev IS DISTINCT FROM new.rev THEN 'changed'
                ELSE 'unchanged' END AS status,
           round(CAST(old.rev AS DOUBLE), 2) AS old_rev,
           round(CAST(new.rev AS DOUBLE), 2) AS new_rev,
           round(CAST(new.rev - COALESCE(old.rev, 0) AS DOUBLE), 2)
             AS delta
    FROM new LEFT JOIN old ON new.custkey = old.custkey
    WHERE old.custkey IS NULL OR old.rev IS DISTINCT FROM new.rev
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-materialization audit: diff a derived table
    (revenue per customer) between the snapshot as of ``_SNAP_CUTOFF``
    and the current one, classifying every key as added / changed /
    unchanged and emitting the delta for the changed set — the check
    a pipeline runs before publishing an incremental refresh against
    a full recompute. (Removed keys cannot occur under append-only
    facts, so the join is LEFT from the new side; a general
    bidirectional diff would go FULL OUTER with a 'removed' branch.)

    Scale: both snapshots are partial-agg rollups of the same fact
    scan (Catalyst reuses the scan), joined on the 8-byte group key;
    deltas are exact decimal subtraction. The WHERE keeps output
    proportional to churn, not to table size.
    """
    orders = load_table(spark, sf_dir, "orders")
    old = (
        orders.filter(F.col("o_orderdate") < F.lit(_SNAP_CUTOFF).cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias(
                "old_rev_d"
            ),
            # presence marker: 'added' must key on the JOIN MISS, not
            # on a NULL revenue sum — an old snapshot whose prices are
            # all NULL still means the customer existed (the oracle
            # branches on old.custkey IS NULL)
            F.count(F.lit(1)).alias("old_seen"),
        )
    )
    new = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("new_rev_d")
    )
    joined = new.join(old, "custkey", "left")
    return (
        joined.withColumn(
            "status",
            F.when(F.col("old_seen").isNull(), "added")
            # null-safe: a NULL-revenue snapshot gaining (or losing)
            # a priced order IS a change — a plain <> returns NULL
            # there and would silently classify it 'unchanged'
            .when(
                ~F.col("old_rev_d").eqNullSafe(F.col("new_rev_d")),
                "changed",
            )
            .otherwise("unchanged"),
        )
        .filter(F.col("status") != "unchanged")
        .select(
            "custkey",
            "status",
            F.round(F.col("old_rev_d").cast("double"), 2).alias("old_rev"),
            F.round(F.col("new_rev_d").cast("double"), 2).alias("new_rev"),
            F.round(
                (
                    F.col("new_rev_d")
                    - F.coalesce(F.col("old_rev_d"), F.lit(0))
                ).cast("double"),
                2,
            ).alias("delta"),
        )
    )


# --- uniform reservoir sampling ---------------------------------------------

_RSV_K = 8


# Oracle for q_reservoir_sample below. u is the house deterministic
# md5-uniform (one of 10^6 fixed rationals — bit-identical across
# engines), so the bottom-k cut needs no rounding guard; ties are
# impossible within a source unless two docs share a hash value,
# which the unique doc_id tie-break absorbs.
_RESERVOIR_ORACLE = f"""
WITH keyed AS (
  SELECT source, doc_id,
         {sql_uniform01("rsv", "CAST(doc_id AS VARCHAR)")} AS u
  FROM documents),
r AS (
  SELECT source, doc_id, u,
         row_number() OVER (PARTITION BY source
                            ORDER BY u, doc_id) AS rnk
  FROM keyed)
SELECT source, doc_id, u, CAST(rnk AS INTEGER) AS rnk
FROM r WHERE rnk <= {_RSV_K}
"""


@register("q_reservoir_sample", oracle=_RESERVOIR_ORACLE)
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform reservoir sample of ``_RSV_K`` docs per source: rank
    by a deterministic md5-uniform key and keep the k smallest — the
    distributed equivalence that makes reservoir sampling mergeable:
    a bottom-k-by-uniform-hash set over any partition union equals
    the union's bottom-k (merge two reservoirs by re-taking the k
    smallest keys), so every executor keeps a local reservoir and
    the combine is associative. The same bottom-k sketch doubles as
    a mergeable DISTINCT estimator (k-th smallest u ≈ k/|D|).
    Against :func:`q_weighted_sample` this is the UNWEIGHTED
    variant: A-ES keys degenerate to plain uniforms when every
    weight is 1, and the deterministic hash replaces the stream
    position — reproducible on any partitioning or arrival order.

    Scale shape: one narrow scan computes keys, one shuffle on
    ``source`` ranks them, and WindowGroupLimit prunes every
    partition to k before the exchange — identical physics to the
    map-side reservoir merge it simulates.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "source",
        "doc_id",
        uniform01("rsv", F.col("doc_id")).alias("u"),
    )
    w = Window.partitionBy("source").orderBy("u", "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RSV_K)
        .select("source", "doc_id", "u", "rnk")
    )
