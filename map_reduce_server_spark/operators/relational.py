"""Relational operator library — declarative DataFrame plans.

The reference engine has no relational operators: projection and
filtering exist only inside user executables (reference
``tests/testdata/exec/grep_map.py:27-28``), aggregation only as
``uniq -c`` in a reducer (``tests/testdata/exec/wc_reduce.sh:14``),
and there are no joins/windows/set-ops at all (SURVEY.md §2.D).
Everything here is therefore the generalization of the reference's
map→shuffle→reduce contract into Catalyst-optimized plans.

Scale notes (100 TB design stance):

- fact-to-fact joins (orders⋈lineitem) are left to Catalyst's
  sort-merge join + AQE; both sides shuffle on the join key once and
  grouping that follows on the same key reuses the exchange;
- dimension joins against the CONSTANT-size tables (region=5 rows,
  nation=25 rows) are explicitly ``broadcast()``; every SF-linear
  side — customer, part subsets, and supplier (10k x SF) — carries
  no hard hint, so AQE broadcasts it only while it actually fits;
- every aggregate uses exact decimal sums (order-independent → the
  same bits on 1 core or 1000 executors, see functions/exact.py);
- no driver-side collects anywhere; LIMIT/top-k run as TakeOrdered /
  window-rank, both of which push partial limits into each partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.exact import (
    checked_decimal,
    davg,
    dsum,
    sql_davg,
    sql_dsum,
)
from map_reduce_server_spark.functions.sessionize import session_flags
from map_reduce_server_spark.functions.tokens import word_tokens_col
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table

REVENUE = "l_extendedprice * (1 - l_discount)"


def _revenue_col() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum(REVENUE, scale=6)} AS sum_disc_price,
           {sql_dsum(f'({REVENUE}) * (1 + l_tax)', scale=6)} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount', scale=6)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (scan → filter → hash agg).

    Reference analog: the wordcount pattern (map emit → group →
    count, reference ``tests/testdata/exec/wc_reduce.sh:14``)
    generalized to multi-measure aggregation. Catalyst plans a
    partial+final hash aggregate (map-side combine the reference
    lacks entirely).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(_revenue_col(), scale=6).alias("sum_disc_price"),
            dsum(_revenue_col() * (F.lit(1.0) + F.col("l_tax")), scale=6).alias(
                "sum_charge"
            ),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", scale=6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           {dsum_qty} AS sum_qty,
           COUNT(*) AS count_order
    FROM {table}
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@register(
    "q1_sql_entry",
    oracle=_Q1_SQL.format(
        dsum_qty=sql_dsum("l_quantity"), table="lineitem"
    ),
)
def q1_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL entry path: register_views + spark.sql — Catalyst
    produces the same plan as the DataFrame form (q1_pricing_summary);
    this pins the SQL front door."""
    from map_reduce_server_spark.tables import register_views

    register_views(spark, sf_dir)
    # the helper's output is valid Spark SQL too — one recipe, both
    # front doors, no drift
    return spark.sql(
        _Q1_SQL.format(dsum_qty=sql_dsum("l_quantity"), table="lineitem")
    )


@register(
    "q_not_in_nulls",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM orders
       WHERE o_custkey NOT IN
         (SELECT CASE WHEN c_custkey % 50 = 1 THEN NULL
                      ELSE c_custkey END
          FROM customer)) AS n_not_in_with_null,
      (SELECT COUNT(*) FROM orders o
       WHERE NOT EXISTS
         (SELECT 1 FROM customer c
          WHERE (CASE WHEN c.c_custkey % 50 = 1 THEN NULL
                      ELSE c.c_custkey END) = o.o_custkey))
        AS n_not_exists
    """,
)
def q_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI three-valued logic pin: NOT IN against a list containing
    NULL returns no rows (every comparison is UNKNOWN), while NOT
    EXISTS ignores the NULLs — the classic correctness trap any SQL
    engine must honor."""
    # fixed names + OrReplace: repeated invocations reuse the slots
    # instead of accumulating uuid-named catalog entries
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ord_nin")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("cust_nin")
    return spark.sql(
        f"""
        SELECT
          (SELECT COUNT(*) FROM ord_nin
           WHERE o_custkey NOT IN
             (SELECT CASE WHEN c_custkey % 50 = 1 THEN NULL
                          ELSE c_custkey END
              FROM cust_nin)) AS n_not_in_with_null,
          (SELECT COUNT(*) FROM ord_nin o
           WHERE NOT EXISTS
             (SELECT 1 FROM cust_nin c
              WHERE (CASE WHEN c.c_custkey % 50 = 1 THEN NULL
                          ELSE c.c_custkey END) = o.o_custkey))
            AS n_not_exists
        """
    )


@register(
    "q_group_having",
    oracle=f"""
    SELECT c_nationkey,
           {sql_davg('c_acctbal')} AS avg_bal,
           {sql_dsum('c_acctbal')} AS sum_bal,
           COUNT(*) AS n_cust
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(*) > 1
    """,
)
def q_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            davg("c_acctbal").alias("avg_bal"),
            dsum("c_acctbal").alias("sum_bal"),
            F.count("*").alias("n_cust"),
        )
        .filter(F.col("n_cust") > 1)
    )


@register(
    "q_distinct_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column COUNT(DISTINCT) (Catalyst expands + re-aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "q_rollup",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (absent from the reference, §2.D).

    Pre-aggregated to the finest grain first: ROLLUP expands each row
    once per level, so feeding it the (priority × status) pre-agg
    instead of the raw table cuts the expand+shuffle to a handful of
    rows — exact because count/decimal-sum are associative.

    Known engine edge (q_cube shares it): on an EMPTY input Spark's
    pre-agg+rollup yields 0 rows while ANSI ROLLUP emits one
    (NULL, NULL, 0) grand-total row — acceptable here because the
    star tables are never empty; audit-type queries that must handle
    empties (q_coverage_report) count explicitly instead.
    """
    orders = load_table(spark, sf_dir, "orders")
    pre = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(checked_decimal(F.col("o_totalprice"), 2)).alias("s"),
    )
    return pre.rollup("o_orderpriority", "o_orderstatus").agg(
        F.sum("n").alias("n_orders"),
        F.sum("s").cast("double").alias("total_price"),
    )


@register(
    "q_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the two lineitem flag columns (pre-aggregated to the
    finest grain before the 4-way expand — see q_rollup)."""
    li = load_table(spark, sf_dir, "lineitem")
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(checked_decimal(F.col("l_quantity"), 2)).alias("s"),
    )
    return pre.cube("l_returnflag", "l_linestatus").agg(
        F.sum("n").alias("n_rows"),
        F.sum("s").cast("double").alias("sum_qty"),
    )


@register(
    "q_pivot_events",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into per-user count columns."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    # fill ONLY the pivoted count columns: a frame-wide fill would
    # also rewrite a NULL user_id group key to 0
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
        .na.fill(0, subset=kinds)
    )
    for k in kinds:
        out = out.withColumnRenamed(k, f"n_{k}")
    return out


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum(REVENUE, scale=6)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    bench=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective join + agg + top-k.

    customer is small relative to the facts → broadcast; the
    orders⋈lineitem join is the real shuffle and both filters are
    pushed to the parquet scans by Catalyst.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer is SF-linear even segment-filtered — no hard hint;
        # AQE broadcasts when the side actually fits
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_revenue_col(), scale=6).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {sql_dsum(REVENUE, scale=6)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    bench=True,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-table join; dims broadcast, facts sort-merge."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(_revenue_col(), scale=6).alias("revenue"))
    )


@register(
    "q_join_left_outer",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join keeping order-less customers (count = 0)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS)."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    return supp.join(
        li, supp.s_suppkey == li.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return part.join(
        li, part.p_partkey == li.l_partkey, "left_anti"
    ).select("p_partkey", "p_name")


# ---------------------------------------------------------------------------
# Windows / sort / top-k
# ---------------------------------------------------------------------------


@register(
    "q_window_funcs",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(row_number() OVER w AS INTEGER) AS rn,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           lag(c_acctbal) OVER w AS prev_bal,
           lead(c_acctbal) OVER w AS next_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + offset window functions per nation."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("c_acctbal").over(w).alias("prev_bal"),
        F.lead("c_acctbal").over(w).alias("next_bal"),
    )


@register(
    "q_window_running",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) OVER (
                PARTITION BY l_suppkey
                ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_qty
    FROM lineitem
    """,
    bench=True,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (prefix) sum per supplier — exact decimal frame sum.

    l_quantity is the last ORDER BY key: the synthetic data contains
    a duplicate (suppkey, shipdate, orderkey, linenumber) tuple, and
    with a ROWS frame any tie the ordering doesn't break makes the
    prefix sums engine-dependent. Ordering by the summed value itself
    makes ties harmless (equal values → identical prefixes).
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(checked_decimal(F.col("l_quantity"), 2))
        .over(w)
        .cast("double")
        .alias("running_qty"),
    )


@register(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           COUNT(*) OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING
           ) AS n_within_1000
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: per order, how many same-priority orders
    fall within ±1000 of its total price."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.count("*").over(w).alias("n_within_1000"),
    )


@register(
    "q_window_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           round(percent_rank() OVER w, 9) AS pct_rank,
           round(cume_dist() OVER w, 9) AS cume,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank/cume_dist/ntile)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "q_window_values",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           first_value(o_totalprice) OVER w AS cheapest,
           last_value(o_totalprice) OVER (
             PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS priciest,
           nth_value(o_totalprice, 2) OVER w AS second_cheapest
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions (first/last/nth over a full-partition
    frame with deterministic tiebreak ordering)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_totalprice").over(w).alias("cheapest"),
        F.last("o_totalprice").over(w).alias("priciest"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_cheapest"),
    )


@register(
    "q_array_set_ops",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_intersect(toks,
             ['the', 'a', 'join', 'scan', 'merge'])), ','), '') AS common_kw,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
           array_to_string(list_sort(list_distinct(
             list_concat(toks, ['zzz_sentinel']))), ',') AS with_sentinel
    FROM t
    """,
)
def q_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set operations (intersect/distinct/concat), emitted as
    sorted CSV strings since raw array ordering isn't portable
    across engines."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = word_tokens_col()
    kw = F.array(*[F.lit(w) for w in ("the", "a", "join", "scan", "merge")])
    return docs.select(
        "doc_id",
        # coalesce matches the oracle's coalesce(..., ''): NULL text
        # must canonicalize to '' in both engines, not '<null>' here
        F.coalesce(
            F.array_join(F.array_sort(F.array_intersect(toks, kw)), ","),
            F.lit(""),
        ).alias("common_kw"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    # coalesce: DuckDB's list_concat treats a NULL
                    # list as empty, Spark's concat propagates NULL —
                    # a NULL-text doc must still yield the sentinel
                    F.concat(
                        F.coalesce(toks, F.array().cast("array<string>")),
                        F.array(F.lit("zzz_sentinel")),
                    )
                )
            ),
            ",",
        ).alias("with_sentinel"),
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part
    ) t WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand (window rank ≤ k — partial-pushed)."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


@register(
    "q_topk_global",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (TakeOrdered — no full sort materialization)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------


@register(
    "q_set_ops",
    oracle="""
    WITH building AS (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ), big_spenders AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000
    )
    SELECT 'both' AS tag, k FROM (SELECT k FROM building INTERSECT SELECT k FROM big_spenders) a
    UNION ALL
    SELECT 'building_only' AS tag, k FROM (SELECT k FROM building EXCEPT SELECT k FROM big_spenders) b
    UNION ALL
    SELECT 'big_only' AS tag, k FROM (SELECT k FROM big_spenders EXCEPT SELECT k FROM building) c
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one tagged result."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    big = (
        orders.filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    both = building.intersect(big).select(F.lit("both").alias("tag"), "k")
    b_only = building.subtract(big).select(F.lit("building_only").alias("tag"), "k")
    g_only = big.subtract(building).select(F.lit("big_only").alias("tag"), "k")
    return both.unionAll(b_only).unionAll(g_only)


@register(
    "q_set_ops_all",
    oracle="""
    WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 25),
         b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.05)
    SELECT 'inter' AS tag, k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) x
    UNION ALL
    SELECT 'exc' AS tag, k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) y
    """,
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (ALL) set operations — duplicate-preserving
    INTERSECT ALL / EXCEPT ALL."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 25).select(F.col("l_suppkey").alias("k"))
    b = li.filter(F.col("l_discount") > 0.05).select(
        F.col("l_suppkey").alias("k")
    )
    inter = a.intersectAll(b).select(F.lit("inter").alias("tag"), "k")
    exc = a.exceptAll(b).select(F.lit("exc").alias("tag"), "k")
    return inter.unionAll(exc)


@register(
    "q_bitwise_agg",
    oracle="""
    SELECT p_brand,
           CAST(bit_and(p_size) AS INTEGER) AS size_and,
           CAST(bit_or(p_size) AS INTEGER) AS size_or,
           CAST(bit_xor(p_size) AS INTEGER) AS size_xor
    FROM part GROUP BY p_brand
    """,
)
def q_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate functions."""
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.bit_and("p_size").alias("size_and"),
        F.bit_or("p_size").alias("size_or"),
        F.bit_xor("p_size").alias("size_xor"),
    )


@register(
    "q_try_funcs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_custkey % 3 = 0 THEN NULL
                ELSE round(o_totalprice / (o_custkey % 3), 6) END AS safe_div,
           TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS good_cast
    FROM orders
    """,
)
def q_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_* error-safe functions (NULL instead of runtime failure —
    essential for dirty data at scale where one bad row must not
    kill a 10-hour job)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.round(
            F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 3), 6
        ).alias("safe_div"),
        # try_cast is the SEMANTIC twin of the oracle's TRY_CAST —
        # try_to_number('42', '9') is NULL (single-digit format)
        # where TRY_CAST('42' AS INTEGER) is 42
        F.col("o_orderpriority").try_cast("int").alias("bad_cast"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("good_cast"),
    )


# ---------------------------------------------------------------------------
# Scalar function surface (string / date / math / array / json)
# ---------------------------------------------------------------------------


@register(
    "q_map_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority AS prio_val,
           2 AS n_entries,
           'priority' AS second_key
    FROM orders
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction + access (the oracle checks the extracted
    values — map internals live only on the Spark side since map
    representations aren't portable across engines)."""
    orders = load_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"),
        F.col("o_orderstatus"),
        F.lit("priority"),
        F.col("o_orderpriority"),
    )
    return orders.select(
        "o_orderkey",
        F.element_at(m, "priority").alias("prio_val"),
        F.size(m).alias("n_entries"),
        F.element_at(F.map_keys(m), 2).alias("second_key"),
    )


@register(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_type) AS type_upper,
           lower(p_name) AS name_lower,
           CAST(length(p_name) AS INTEGER) AS name_len,
           substr(p_type, 1, 5) AS type_prefix,
           replace(p_brand, 'Brand#', 'B') AS brand_short,
           CAST(replace(p_brand, 'Brand#', '') AS INTEGER) AS brand_num,
           p_brand || '/' || p_type AS brand_type,
           trim(p_name) AS name_trim,
           CASE WHEN p_type LIKE '%BRASS%' THEN 'brass' ELSE 'other' END AS material
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string functions (in the reference these live inside
    user executables, e.g. ``tr``/``awk`` in ``wc_map.sh:12``)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_type").alias("type_upper"),
        F.lower("p_name").alias("name_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        # literal replace (not regexp_replace): the oracle twin is
        # DuckDB's literal replace(), and a future pattern containing
        # regex metacharacters must not silently diverge
        F.replace("p_brand", F.lit("Brand#"), F.lit("B")).alias("brand_short"),
        F.replace("p_brand", F.lit("Brand#"), F.lit(""))
        .cast("int")
        .alias("brand_num"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.when(F.col("p_type").like("%BRASS%"), F.lit("brass"))
        .otherwise(F.lit("other"))
        .alias("material"),
    )


@register(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER)
             AS days_since_epoch_start,
           CAST(o_orderdate + INTERVAL 91 DAY AS TIMESTAMP) AS due_date,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3mo,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS wk,
           CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_sec
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date/timestamp functions (extraction, truncation, date
    arithmetic, last_day/quarter/week/day-of-year, epoch seconds) —
    one scan, all whole-stage-codegen expressions.

    due_date is 91 (not 90) days out: DuckDB 1.0's CSE compares
    interval constants by 30-day-month value equality, so ``+ 90
    DAY`` and ``+ 3 MONTH`` on the same column unify to one
    expression and the oracle silently returns the first — 91 days
    keeps every interval in the query value-distinct."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 91 DAYS")).alias("due_date"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTHS")).alias("plus_3mo"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        F.weekofyear("o_orderdate").alias("wk"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.unix_timestamp("o_orderdate").alias("epoch_sec"),
    )


@register(
    "q_math_funcs",
    oracle="""
    SELECT p_partkey,
           p_retailprice * CAST(1.1 AS DOUBLE) AS price_up,
           abs(p_retailprice - 1000.0) AS dist_1000,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           sqrt(p_retailprice) AS price_sqrt,
           round(ln(p_retailprice), 9) AS price_ln,
           CAST(p_size % 5 AS INTEGER) AS size_mod5,
           power(CAST(p_size AS DOUBLE), 2.0) AS size_sq
    FROM part
    WHERE p_retailprice > 0
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math functions (bit-deterministic on identical input)."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_retailprice") > 0).select(
        "p_partkey",
        # UNROUNDED: the raw double product is bit-identical across
        # engines, while round(x, 2) breaks 3-decimal midpoints
        # differently (Spark HALF_UP on the shortest repr rounds
        # 1.15*1.1 to 1.27, DuckDB's binary round to 1.26) — the
        # q_scalar_subquery/q2 precedent
        (F.col("p_retailprice") * 1.1).alias("price_up"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("dist_1000"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.sqrt("p_retailprice").alias("price_sqrt"),
        # ln differs from the oracle's libm by 1 ulp on some inputs —
        # round to bound the comparison (and any cross-libm drift).
        F.round(F.log("p_retailprice"), 9).alias("price_ln"),
        (F.col("p_size") % 5).alias("size_mod5"),
        F.pow(F.col("p_size").cast("double"), 2.0).alias("size_sq"),
    )


@register(
    "q_json_funcs",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events props column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


@register(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(list_sum(embedding::DOUBLE[]), 6) AS vec_sum
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over the embedding column."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        # get() (0-based, NULL out-of-bounds) matches DuckDB's
        # embedding[1] on an empty array, where element_at would
        # raise under ANSI mode
        F.round(F.get(vec, 0), 6).alias("first_val"),
        F.round(
            # DuckDB list_sum SKIPS NULL elements and returns NULL
            # when nothing remains (empty or all-NULL list). ONE
            # traversal: a struct accumulator carries (sum of
            # non-NULLs, non-NULL count) and the finisher yields NULL
            # when nothing was measured — the two-pass filter form
            # evaluated the filtered array twice per row (no CSE
            # across when-branches; the checked_decimal +62% lesson)
            F.aggregate(
                vec,
                F.struct(
                    F.lit(0.0).alias("s"), F.lit(0).alias("n")
                ),
                lambda acc, x: F.struct(
                    (acc["s"] + F.coalesce(x, F.lit(0.0))).alias("s"),
                    (
                        acc["n"] + F.when(x.isNotNull(), 1).otherwise(0)
                    ).alias("n"),
                ),
                lambda acc: F.when(acc["n"] > 0, acc["s"]),
            ),
            6,
        ).alias("vec_sum"),
    )


@register(
    "q_like_regexp",
    oracle="""
    SELECT p_partkey, p_name, p_type,
           p_type LIKE '%STEEL%' AS is_steel,
           p_name ILIKE '%COPPER%' AS has_copper_ci,
           regexp_matches(p_type, '^[A-Z]+ ') AS starts_word,
           regexp_extract(p_type, '([A-Z]+)$', 1) AS last_word,
           CAST(strpos(p_type, 'BRUSHED') AS INTEGER) AS brushed_pos
    FROM part
    """,
)
def q_like_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-matching surface: LIKE / ILIKE / regexp predicate,
    extraction, and position."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        "p_name",
        "p_type",
        F.col("p_type").like("%STEEL%").alias("is_steel"),
        F.col("p_name").ilike("%COPPER%").alias("has_copper_ci"),
        F.regexp_like("p_type", F.lit("^[A-Z]+ ")).alias("starts_word"),
        F.regexp_extract("p_type", "([A-Z]+)$", 1).alias("last_word"),
        F.instr(F.col("p_type"), "BRUSHED").alias("brushed_pos"),
    )


@register(
    "q_string_funcs2",
    oracle="""
    SELECT n_nationkey,
           lpad(n_name, 15, '.') AS name_lpad,
           rpad(n_name, 15, '.') AS name_rpad,
           reverse(n_name) AS name_rev,
           repeat(substr(n_name, 1, 2), 3) AS name_rep,
           split_part(n_name, ' ', 1) AS first_word,
           CAST(ascii(n_name) AS INTEGER) AS first_char_code,
           left(n_name, 3) AS name_left,
           right(n_name, 3) AS name_right
    FROM nation
    """,
)
def q_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string batch: pad/reverse/repeat/split_part/ascii/
    left/right."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.lpad("n_name", 15, ".").alias("name_lpad"),
        F.rpad("n_name", 15, ".").alias("name_rpad"),
        F.reverse(F.col("n_name")).alias("name_rev"),
        F.repeat(F.substring("n_name", 1, 2), 3).alias("name_rep"),
        F.split_part(F.col("n_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.ascii(F.col("n_name")).alias("first_char_code"),
        F.left(F.col("n_name"), F.lit(3)).alias("name_left"),
        F.right(F.col("n_name"), F.lit(3)).alias("name_right"),
    )


@register(
    "q_union_by_name",
    oracle="""
    SELECT k, src FROM (
      SELECT c_custkey AS k, 'cust' AS src FROM customer
      UNION ALL BY NAME
      SELECT 'supp' AS src, s_suppkey AS k FROM supplier
    ) t
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: position-independent union (schema aligned by
    column name, not ordinal)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.lit("cust").alias("src")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.lit("supp").alias("src"), F.col("s_suppkey").alias("k")
    )
    return cust.unionByName(supp).select("k", "src")


@register(
    "q_null_funcs",
    oracle="""
    SELECT c.c_custkey,
           coalesce(t.n_orders, 0) AS n_orders,
           CASE WHEN t.n_orders IS NULL THEN 'never_ordered'
                ELSE 'customer' END AS status,
           nullif(c.c_mktsegment, 'BUILDING') AS seg_or_null,
           ifnull(t.total, 0.0) AS total_or_zero
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
      FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
    ) t ON c.c_custkey = t.o_custkey
    """,
)
def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalar functions over outer-join-produced nulls
    (coalesce / nullif / ifnull / IS NULL)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200000
    )
    agg = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total")
    )
    joined = cust.join(agg, cust.c_custkey == agg.o_custkey, "left")
    return joined.select(
        "c_custkey",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.when(F.col("n_orders").isNull(), F.lit("never_ordered"))
        .otherwise(F.lit("customer"))
        .alias("status"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
        F.ifnull(F.col("total"), F.lit(0.0)).alias("total_or_zero"),
    )


# ---------------------------------------------------------------------------
# Events: sessionization (windows over time)
# ---------------------------------------------------------------------------


@register(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR ts > lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                        + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(is_new) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
    FROM flagged GROUP BY user_id
    """,
    bench=True,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative new-session flags).

    This is the batch analog of a streaming session window; at 100 TB
    the per-user partition stays small so the single window shuffle on
    user_id is the whole cost.
    """
    ev = load_table(spark, sf_dir, "events")
    flagged = session_flags(ev)
    return flagged.groupBy("user_id").agg(
        F.sum("is_new").alias("n_sessions"),
        F.count("*").alias("n_events"),
        dsum("value").alias("total_value"),
    )


# Oracle for q_window_time_range below: calendar-INTERVAL range
# frame, value-based so equal timestamps land in each other's frames
# regardless of order — deterministic without a unique tie-break,
# unlike ROWS frames.
_TIME_RANGE_ORACLE = """
SELECT event_id, user_id, ts,
       COUNT(*) OVER w AS n_trailing_30m,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) OVER w AS DOUBLE)
         AS v_trailing_30m
FROM events WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW)
"""

_TIME_RANGE_OVER = (
    "OVER (PARTITION BY user_id ORDER BY ts "
    "RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW)"
)


@register("q_window_time_range", oracle=_TIME_RANGE_ORACLE)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-INTERVAL range frame: per event, the count and exact
    value sum of the same user's events in the trailing 30 minutes —
    the per-row sliding time window (rate limiting, burst detection,
    trailing spend) that numeric RANGE (:func:`q_window_range_frame`)
    cannot express over a calendar axis. PySpark's
    ``Window.rangeBetween`` takes longs only, so the frame is the SQL
    expression surface (``F.expr`` with an inline OVER) — the one
    place Spark exposes calendar-interval frames; the frame is
    value-based, so tied timestamps see each other symmetrically and
    no unique ORDER BY tie-break is needed (the determinism rule that
    DOES bind every ROWS frame in this repo).

    Scale shape: one shuffle on user_id, single window pass, codegen
    throughout; the 30-minute bound keeps each frame's scan local to
    the sorted run.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.expr(f"count(*) {_TIME_RANGE_OVER}").alias("n_trailing_30m"),
        F.expr(
            "CAST(sum(CAST(value AS DECIMAL(30,2))) "
            f"{_TIME_RANGE_OVER} AS DOUBLE)"
        ).alias("v_trailing_30m"),
    )
