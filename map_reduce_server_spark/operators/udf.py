"""The UDF surface — the generalization of the reference's only
extension mechanism (arbitrary executables over stdin/stdout,
reference ``worker/__main__.py:116-117``).

Preference order at scale: JVM built-ins (everything else in this
package) → Arrow-vectorized pandas UDFs (here) → ``RDD.pipe``
(mapreduce/job.py, exact reference analog). Row-at-a-time Python
UDFs exist for completeness but are deliberately not used anywhere.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce_server_spark.functions.exact import dsum, sql_dsum
from map_reduce_server_spark.io.tempdirs import cleanup_at_exit
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table


@F.pandas_udf(T.DoubleType())
def _price_score(price: pd.Series, size: pd.Series) -> pd.Series:
    """Arrow-vectorized scalar UDF: a toy feature combining price and
    size. Each call sees a full Arrow batch (no per-row serde).

    Returns the UNROUNDED score: numpy's ``.round`` is half-to-even,
    DuckDB's ``round`` rounds the scaled BINARY value, and Spark's
    ``F.round`` applies HALF_UP to the shortest decimal REPR — three
    different tie mechanisms. Rounding therefore happens engine-side
    via the repo's exact convention, ``floor(x*1e6 + 0.5)/1e6``:
    floor and multiply are the same IEEE ops in both engines, so the
    twins are bit-identical by construction (half-toward-+inf on
    exact ties, fine here — the score is strictly positive)."""
    return price * 1.1 + size.astype("float64") * 2.0


@register(
    "q_pandas_udf_score",
    oracle="""
    SELECT p_partkey,
           floor((p_retailprice * 1.1 + CAST(p_size AS DOUBLE) * 2.0)
                 * 1e6 + 0.5) / 1e6
             AS score
    FROM part
    """,
)
def q_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF in the projection — oracle-checked
    against the plain SQL arithmetic, proving the Arrow exchange is
    value-exact."""
    part = load_table(spark, sf_dir, "part")
    # Loud NaN/Inf envelope, enforced BEFORE the UDF: inside the
    # pandas batch a NULL and a NaN price are the same float64 NaN
    # (indistinguishable), and the Arrow return path would silently
    # turn a NaN score into NULL where the DuckDB twin emits NaN — a
    # baffling gate mismatch. NULL passes through (isnan(NULL) is
    # NULL, so the when-condition falls to otherwise), matching the
    # oracle's NULL propagation.
    price = F.when(
        F.isnan("p_retailprice")
        | (F.abs("p_retailprice") == F.lit(float("inf"))),
        F.raise_error(
            F.concat(
                F.lit("udf score: non-finite p_retailprice: "),
                F.col("p_retailprice").cast("string"),
            )
        ).cast("double"),
    ).otherwise(F.col("p_retailprice"))
    raw = _price_score(price, F.col("p_size"))
    return part.select(
        "p_partkey",
        (F.floor(raw * 1e6 + F.lit(0.5)) / 1e6).alias("score"),
    )


def grouped_zscore(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """applyInPandas (grouped-map UDF): per-group z-score.

    Demonstrates the per-group pandas contract; at 100 TB each group
    must fit one worker's memory — callers should pre-aggregate or
    bucket groups that can exceed it.
    """
    # derive the group/value types from the input schema — hardcoding
    # "string" crashes the Arrow serializer for any non-string group
    # column (e.g. a bigint user_id)
    in_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        f"{group_col} {in_fields[group_col]}, "
        f"{value_col} {in_fields[value_col]}, zscore double"
    )

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf[value_col].std(ddof=1)
        mean = pdf[value_col].mean()
        if std and std > 0:
            z = (pdf[value_col] - mean) / std
        else:
            # degenerate group (single row / zero variance): measured
            # rows score 0.0, but a NULL value stays NULL — a bare
            # scalar 0.0 would broadcast over NULL rows too, giving
            # the same NULL input different zscores depending on its
            # group's variance
            z = pdf[value_col].where(pdf[value_col].isna(), 0.0)
        return pd.DataFrame(
            {
                group_col: pdf[group_col],
                value_col: pdf[value_col],
                "zscore": z,
            }
        )

    return df.groupBy(group_col).applyInPandas(per_group, schema=out_schema)


@register(
    "q_salted_join",
    oracle=f"""
    SELECT o_orderstatus,
           {sql_dsum('l_extendedprice')} AS total_price,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated (salted) join, oracle-checked against the plain
    join: the big side carries a deterministic salt, the small side
    is exploded across all salt values, and the equi-join runs on
    (key, salt) — splitting any hot key across SALT partitions. AQE's
    skew-join handles moderate skew automatically; explicit salting
    is the portable fallback for extreme single-key skew at 100 TB.
    """
    salt_n = 8
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_linenumber"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    # hash-derived salt: l_linenumber % 8 would never hit salt 0
    # (TPC-H linenumbers are 1..7), wasting one replica of the small
    # side and capping a hot key at 7-way splitting
    big = li.withColumn(
        "salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(salt_n))
    )
    small = orders.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    )
    joined = big.join(
        small,
        (big.l_orderkey == small.o_orderkey) & (big.salt == small.salt),
    )
    return joined.groupBy("o_orderstatus").agg(
        dsum("l_extendedprice").alias("total_price"),
        F.count("*").alias("n_items"),
    )


@register(
    "q_session_window",
    oracle=f"""
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
           {sql_dsum('value')} AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (30-minute gap) — oracle-checked
    against the first-principles lag/cumsum sessionization, pinning
    down Spark's session-merge semantics: a gap of EXACTLY 30:00
    still merges (an event landing on the previous session's
    exclusive end extends it — verified by execution), so the oracle
    splits only on strictly-greater gaps; and events with NULL ts
    are dropped by SessionWindowing, mirrored by the oracle's
    ``ts IS NOT NULL`` guard (DuckDB would otherwise sort them last
    and glue them onto the final session)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n_events",
            "total_value",
        )
    )


# Worker-side functions in this module must not require the repo on
# the Python worker's sys.path — ship them by value (see
# functions.register_by_value).
from map_reduce_server_spark.functions import (  # noqa: E402
    register_by_value as _rbv,
)

_rbv(__name__)
del _rbv  # a lingering ref would pickle the functions pkg by reference


# Oracle for q_skew_join_hint below: the crafted hot key routes ~2/3
# of lineitem onto k = 1, and the result is the PLAIN join aggregate
# — skew handling must be result-invisible by construction.
_SKEW_ORACLE = f"""
WITH f AS (
  SELECT CASE WHEN l_orderkey % 3 = 0 THEN l_partkey % 50 + 1
              ELSE 1 END AS k,
         l_extendedprice
  FROM lineitem)
SELECT p_brand,
       COUNT(*) AS n_items,
       {sql_dsum('l_extendedprice')} AS revenue
FROM f JOIN part ON k = p_partkey
GROUP BY p_brand
"""


@register("q_skew_join_hint", oracle=_SKEW_ORACLE)
def q_skew_join_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE-skew-eligible join under extreme key skew: a skewed fact
    table (crafted key routing ~2/3 of lineitem to one hot value) is
    staged to parquet as a multi-file table — the stored-fact shape a
    100 TB run reads — and the MERGE hint pins a sort-merge join so
    Adaptive Query Execution's skew-join rule, not a lucky
    broadcast, is what has to absorb the hot partition. The third
    member of the skew family: q_salted_join salts by hand (extreme
    single-key skew), AQE splits hot partitions automatically (this
    query's path at scale), and broadcast sidesteps skew entirely
    while the dim fits (q_bucketed_join territory).

    Why pin MERGE: at test SFs the part dim would broadcast and the
    skew would silently vanish — the plan exercised must be the one
    a 100 TB run executes, where the dim outgrows the broadcast
    threshold and the shuffle partition carrying the hot key is 100x
    its siblings. Under AQE's skew-join rule (on by default) that
    partition is split into advisory-sized slices by MAPPER
    boundaries, each slice joined independently against a re-read of
    the dim side — which is also why the fact is staged as MULTIPLE
    files (8-way write): a single-mapper shuffle stage is
    unsplittable, exactly as a single giant unsplittable input file
    would be at scale (measured here: the split never fires with one
    map task, fires reliably with 8). The staging write is one
    round-robin shuffle paid by the harness to materialize the fact
    table the scenario starts from. Results are hash-verified
    against the plain-join oracle (skew handling must be
    result-invisible); tests/test_plans.py pins the SMJ shape and
    tests/test_skew_join.py drives the skew=true split in the
    executed adaptive plan under lowered thresholds.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    tmp = tempfile.mkdtemp(prefix="mrss_skewfact_")
    cleanup_at_exit(tmp)
    path = os.path.join(tmp, "fact")
    (
        li.select(
            F.when(
                F.col("l_orderkey") % 3 == 0, F.col("l_partkey") % 50 + 1
            )
            .otherwise(1)
            .alias("k"),
            "l_extendedprice",
        )
        .repartition(8)
        .write.mode("overwrite")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    joined = fact.join(
        part.hint("merge"), fact["k"] == part["p_partkey"]
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        dsum("l_extendedprice").alias("revenue"),
    )
