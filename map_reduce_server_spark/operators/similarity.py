"""Similarity search over the ``embeddings`` table.

Brute-force cosine top-k is the exact baseline; the IVF/LSH-bucketed
variant is the scale path (bucket = partition-prunable key at 100 TB,
so a query probes 1/2^H of the corpus instead of all of it). All
vector math is JVM-side ``zip_with``/``aggregate`` (sequential fold →
deterministic, oracle-comparable); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.exact import qmean40, sql_qmean40
from map_reduce_server_spark.functions.hashing import sql_md5_long
from map_reduce_server_spark.operators.clustering import (
    label_components,
    sql_closure_oracle,
)
from map_reduce_server_spark.functions.vector import (
    SQL_COSINE,
    SQL_MAX_ABS,
    SQL_QUANT,
    SQL_RECON,
    cosine,
    dot,
    int8_quantize,
    int8_reconstruct,
    max_abs,
)
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table

_N_QUERIES = 8  # vec_id < 8 are the benchmark query vectors
_TOP_K = 5

_SQL_COS = SQL_COSINE  # shared oracle twin of functions.vector.cosine


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widened (round 15): every consumer's dominant cost is the
    # per-vector cosine/dot fold, pure narrow work that a
    # one-row-group parquet file would otherwise run on one core;
    # at scale the scan arrives wide and this is a no-op (see
    # tables.widen_small_scan)
    return load_table(spark, sf_dir, "embeddings", widen=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM e
          WHERE vec_id < {_N_QUERIES})
    SELECT query_id, vec_id AS neighbor_id,
           CAST(rnk AS INTEGER) AS rnk,
           round(cos, 6) AS cos_sim
    FROM (
      SELECT query_id, vec_id,
             {_SQL_COS.format(a='qvec', b='vec')} AS cos,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_SQL_COS.format(a='qvec', b='vec')} DESC, vec_id
             ) AS rnk
      FROM q CROSS JOIN e
      WHERE vec_id <> query_id
    ) t WHERE rnk <= {_TOP_K}
    """,
    bench=True,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, scan the corpus
    once, per-query window rank. The corpus side never shuffles its
    vectors — only (query_id, vec_id, cos) survive to the rank."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qvec"), F.col("vec")).alias("cos"),
        )
    )
    return _topk(scored)


# --- LSH-bucketed ANN (random-hyperplane signs → bucket) --------------------

_N_PLANES = 4
_DIM = 64

# Engine-portable pseudo-random hyperplanes: component d of plane j is
# a deterministic function of md5(f"{j}:{d}") mapped into [-1, 1].
# The hash idiom comes from the shared helper so it cannot drift from
# functions.hashing.md5_long.
_SQL_PLANE = (
    "list_transform(range(1, {dim} + 1), d -> ("
    + sql_md5_long("'{j}:' || CAST(d AS VARCHAR)")
    + " % 2000001 - 1000000) / 1000000.0)"
)


def _plane_values(j: int) -> list[float]:
    """Plane j's components, precomputed driver-side with hashlib —
    BIT-IDENTICAL to the SQL derivation (int(md5hex[:15], 16) is
    exactly conv(substr(md5, 1, 15), 16, 10)), but folded into a
    literal array: the in-expression form re-ran 4 planes × 64 dims
    of md5 + base conversion PER CORPUS ROW because Catalyst does not
    constant-fold higher-order-function subtrees."""
    import hashlib

    out = []
    for d in range(1, _DIM + 1):
        h = int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:15], 16)
        out.append((h % 2000001 - 1000000) / 1000000.0)
    return out


def _plane_col(j: int) -> Column:
    return F.array(*[F.lit(v) for v in _plane_values(j)])


def _bucket_col(vec: Column) -> Column:
    """Bucket id = sign bits of the vector's dot with each plane.

    The projection reuses :func:`functions.vector.dot` — the one
    sequential-fold dot product whose SQL twin (`list_dot_product`
    parity) the oracles assume — so any parity fix there reaches
    bucket assignment too."""
    bucket = F.lit(0)
    for j in range(_N_PLANES):
        dot_j = dot(vec, _plane_col(j))
        bucket = bucket + F.when(dot_j > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def _sql_bucket(vec: str) -> str:
    terms = []
    for j in range(_N_PLANES):
        plane = _SQL_PLANE.format(dim=_DIM, j=j)
        terms.append(
            f"CASE WHEN list_dot_product({vec}, {plane}) > 0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(terms)


@register(
    "ann_topk_lsh",
    bench=True,
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec,
             {_sql_bucket('embedding::DOUBLE[]')} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, vec AS qvec, bucket AS qbucket
          FROM e WHERE vec_id < {_N_QUERIES})
    SELECT query_id, vec_id AS neighbor_id,
           CAST(rnk AS INTEGER) AS rnk,
           round(cos, 6) AS cos_sim
    FROM (
      SELECT query_id, vec_id,
             {_SQL_COS.format(a='qvec', b='vec')} AS cos,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_SQL_COS.format(a='qvec', b='vec')} DESC, vec_id
             ) AS rnk
      FROM q JOIN e ON e.bucket = q.qbucket AND e.vec_id <> q.query_id
    ) t WHERE rnk <= {_TOP_K}
    """,
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucket, search only
    the query's bucket. At 100 TB the corpus is written partitioned
    by bucket, so a query reads 1/2^H of the data (partition
    pruning); here the bucket is computed on the fly."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket_col(F.col("vec")))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        emb.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qvec"), F.col("vec")).alias("cos"),
        )
    )
    return _topk(scored)


# --- IVF (inverted-file) ANN: coarse quantize to centroids ------------------

# Deterministic "training-free" coarse quantizer: the centroids are
# corpus vectors picked by a fixed rule (vec_id in [N_QUERIES,
# N_QUERIES + K)), so both engines agree bit-for-bit without running
# k-means. A real deployment would swap in trained centroids; every
# plan shape below (assign once, bucket by cell, probe nearest cells)
# is unchanged by that swap.
_IVF_K = 8  # number of coarse cells
_IVF_NPROBE = 2  # cells probed per query


def _centroids(emb: DataFrame) -> DataFrame:
    return emb.filter(
        (F.col("vec_id") >= _N_QUERIES)
        & (F.col("vec_id") < _N_QUERIES + _IVF_K)
    ).select(F.col("vec_id").alias("cent_id"), F.col("vec").alias("cvec"))


def _topk(scored: DataFrame) -> DataFrame:
    """Shared ANN finishing stage: rank a (query_id, neighbor_id,
    cos) candidate set per query (DESC cos, neighbor_id tiebreak),
    keep the top ``_TOP_K``, round for output. Every ANN variant ends
    here so the tie-break and rounding contract lives in ONE place
    (and one SQL tail mirrors it in each oracle)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rnk",
            F.round("cos", 6).alias("cos_sim"),
        )
    )


def _argmax_assign(emb, cands, label: str, score, out: str):
    """ZERO-SHUFFLE nearest-centroid assignment: the K candidate
    centroids collapse into ONE broadcast single-row array (sorted by
    label), each vector scores all K inside a ``transform`` and folds
    to the argmax with ``aggregate`` — pure map-side codegen, no
    window, no exchange of vectors. The previous window formulation
    (row_number over crossJoin output) pushed K wide copies of EVERY
    corpus vector through a hash exchange — the opposite of the
    "corpus assignment is one narrow pass" property IVF exists for.

    Tie/NULL semantics replicate ``row_number over (ORDER BY score
    DESC, label)`` with DESC NULLS LAST: strict ``>`` keeps the
    smallest label on score ties (array is label-sorted), a NULL
    score never displaces a real one, and an all-NULL vector gets
    the smallest label.
    """
    carr = cands.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(label).alias("id"), F.col("cvec")))
        ).alias("cands")
    )
    scored = F.transform(
        F.col("cands"),
        lambda s: F.struct(
            score(F.col("vec"), s["cvec"]).alias("c"), s["id"].alias("id")
        ),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("double").alias("c"),
            F.lit(None).cast("bigint").alias("id"),
        ),
        lambda acc, s: F.when(
            acc["id"].isNull()
            | (acc["c"].isNull() & s["c"].isNotNull())
            | (s["c"] > acc["c"]),
            s,
        ).otherwise(acc),
    )
    return emb.crossJoin(F.broadcast(carr)).select(
        "vec_id", "vec", best["id"].alias(out)
    )


def _sql_centroids() -> str:
    return (
        f"(SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cvec "
        f"FROM embeddings WHERE vec_id >= {_N_QUERIES} "
        f"AND vec_id < {_N_QUERIES + _IVF_K})"
    )


# Probe deltas: the query's own bucket plus every Hamming-1 neighbor
# (flip one hyperplane sign bit) — vectors near a hyperplane land on
# either side, which is the single-probe recall hazard.
_PROBE_DELTAS = [0] + [1 << j for j in range(_N_PLANES)]


_SQL_IVF = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    c AS (SELECT cent_id, cvec FROM {_sql_centroids()} cc),
    cells AS (
      SELECT vec_id, vec, cell FROM (
        SELECT e.vec_id, e.vec, c.cent_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_SQL_COS.format(a='e.vec', b='c.cvec')} DESC,
                          c.cent_id) AS crn
        FROM e CROSS JOIN c
      ) t WHERE crn = 1
    ),
    probes AS (
      SELECT query_id, qvec, cell FROM (
        SELECT e.vec_id AS query_id, e.vec AS qvec, c.cent_id AS cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_SQL_COS.format(a='e.vec', b='c.cvec')} DESC,
                          c.cent_id) AS crn
        FROM e CROSS JOIN c WHERE e.vec_id < {_N_QUERIES}
      ) t WHERE crn <= {_IVF_NPROBE}
    )
    SELECT query_id, vec_id AS neighbor_id, CAST(rnk AS INTEGER) AS rnk,
           round(cos, 6) AS cos_sim
    FROM (
      SELECT p.query_id, s.vec_id,
             {_SQL_COS.format(a='p.qvec', b='s.vec')} AS cos,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY {_SQL_COS.format(a='p.qvec', b='s.vec')} DESC,
                        s.vec_id) AS rnk
      FROM probes p JOIN cells s
        ON s.cell = p.cell AND s.vec_id <> p.query_id
    ) t WHERE rnk <= {_TOP_K}
"""


@register("ann_topk_ivf", oracle=_SQL_IVF)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus to K
    centroid cells, probe the query's nearest ``_IVF_NPROBE`` cells.

    Scale shape: the K centroids broadcast, so corpus assignment is
    ONE narrow pass (no shuffle of vectors); at 100 TB the corpus is
    written ``partitionBy(cell)`` and a query reads nprobe/K of the
    data via partition pruning — same storage trick as
    ``ann_topk_lsh`` (proven in tests/test_ann_partition_pruning.py)
    but with data-adaptive cells instead of data-oblivious
    hyperplanes, which is what production IVF indexes use. Centroids
    here are seed corpus vectors chosen by a fixed rule (not k-means)
    so the DuckDB oracle replays the assignment exactly; trained
    centroids drop in without changing any plan.
    """
    emb = _emb(spark, sf_dir)
    cents = _centroids(emb)
    cells = _argmax_assign(emb, cents, "cent_id", cosine, "cell")
    probes = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            "cent_id",
            cosine(F.col("vec"), F.col("cvec")).alias("ccos"),
        )
        .withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("ccos"), "cent_id"
                )
            ),
        )
        .filter(F.col("crn") <= _IVF_NPROBE)
        .select("query_id", "qvec", F.col("cent_id").alias("cell"))
    )
    scored = cells.alias("s").join(
        F.broadcast(probes.alias("p")),
        (F.col("s.cell") == F.col("p.cell"))
        & (F.col("s.vec_id") != F.col("p.query_id")),
    ).select(
        "p.query_id",
        F.col("s.vec_id").alias("neighbor_id"),
        cosine(F.col("p.qvec"), F.col("s.vec")).alias("cos"),
    )
    return _topk(scored)


@register(
    "ann_topk_lsh_multiprobe",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec,
             {_sql_bucket('embedding::DOUBLE[]')} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, vec AS qvec, bucket AS qbucket
          FROM e WHERE vec_id < {_N_QUERIES}),
    probes AS (
      SELECT query_id, qvec, xor(qbucket, delta) AS pbucket
      FROM q CROSS JOIN (SELECT unnest({_PROBE_DELTAS}) AS delta) d
    )
    SELECT query_id, vec_id AS neighbor_id,
           CAST(rnk AS INTEGER) AS rnk,
           round(cos, 6) AS cos_sim
    FROM (
      SELECT query_id, vec_id,
             {_SQL_COS.format(a='qvec', b='vec')} AS cos,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_SQL_COS.format(a='qvec', b='vec')} DESC, vec_id
             ) AS rnk
      FROM probes p JOIN e
        ON e.bucket = p.pbucket AND e.vec_id <> p.query_id
    ) t WHERE rnk <= {_TOP_K}
    """,
)
def ann_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: probe the query's bucket AND its
    Hamming-1 neighbor buckets (one sign-bit flip per hyperplane).

    Single-probe LSH misses neighbors whose vector sits just across
    one hyperplane; probing the H adjacent buckets recovers most of
    that recall for (H+1)/2^H of the corpus scanned (5/16 here)
    instead of 1/16 — still partition-prunable at 100 TB because the
    probe set is an explicit equi-join key list, never a scan of all
    buckets. Recall vs the exact baseline is pinned by
    ``tests/test_ann_partition_pruning.py::test_multiprobe_recall``.
    """
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket_col(F.col("vec")))
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    deltas = emb.sparkSession.createDataFrame(
        [(d,) for d in _PROBE_DELTAS], "delta int"
    )
    probes = queries.crossJoin(F.broadcast(deltas)).select(
        "query_id",
        "qvec",
        F.col("qbucket").bitwiseXOR(F.col("delta")).alias("pbucket"),
    )
    scored = (
        emb.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qvec"), F.col("vec")).alias("cos"),
        )
    )
    return _topk(scored)


_SQL_COS_PAIRS = f"""
    (WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec,
             {_sql_bucket('embedding::DOUBLE[]')} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_SQL_COS.format(a='a.vec', b='b.vec')}, 6) AS cos_sim
    FROM e a JOIN e b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_SQL_COS.format(a='a.vec', b='b.vec')} >= 0.45)
"""


@register(
    "dedup_embedding_cosine",
    oracle=f"SELECT vec_a, vec_b, cos_sim FROM {_SQL_COS_PAIRS} p",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucket candidates, verify
    cosine ≥ 0.45. Same bucketing as ann_topk_lsh, so at scale the
    self-join is bucket-co-partitioned (no all-pairs shuffle).
    (Threshold sits above the corpus's p99.9 pairwise cosine — max
    is 0.513 on these random near-orthogonal vectors — so the output
    is sparse but NON-empty; the conventional 0.9x near-dup cutoff
    could never fire here and made the query trivially empty.)"""
    emb = _emb(spark, sf_dir).withColumn("bucket", _bucket_col(F.col("vec")))
    a = emb.alias("a")
    b = emb.alias("b")
    cos = cosine(F.col("a.vec"), F.col("b.vec"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.45)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos_sim"))
    )


@register(
    "dedup_semantic_cluster",
    oracle=sql_closure_oracle(
        _SQL_COS_PAIRS, "vec_a", "vec_b", "embeddings", "vec_id"
    ),
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup groups: connected components over the
    embedding-cosine near-dup graph — the vector-space twin of
    ``dedup_cluster`` (which clusters the token-shingle MinHash
    graph). Pairs come from the bucket-co-partitioned cosine join;
    the transitive closure runs on 8-byte vec_ids only, and the
    oracle replays closure + min-label via the SAME
    ``sql_closure_oracle`` template ``dedup_cluster`` uses."""
    emb = _emb(spark, sf_dir).select("vec_id")
    return label_components(
        dedup_embedding_cosine(spark, sf_dir), emb, "vec_id",
        "vec_a", "vec_b",
    )


# ---------------------------------------------------------------------------
# k-means over embeddings (fixed-iteration Lloyd's, portable arithmetic)
# ---------------------------------------------------------------------------

_KM_K = 8
# PINNED at 2: the DuckDB oracle (_sql_kmeans_oracle) hand-unrolls
# exactly two assignment passes (a1 -> c1 -> a2); changing this
# constant without extending the oracle's CTE chain turns every
# kmeans_embeddings gate run red wholesale.
_KM_ITERS = 2  # assignments; centroids update (iters - 1) times


def _km_seed_centroids(emb: DataFrame) -> DataFrame:
    """Deterministic seeds: the K lowest-vec_id vectors, labeled by
    their seed vec_id (stable cluster labels across iterations)."""
    return (
        emb.orderBy("vec_id")
        .limit(_KM_K)
        .select(F.col("vec_id").alias("cluster"), F.col("vec").alias("cvec"))
    )


def _km_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each vector to the max-cosine centroid (zero-shuffle
    broadcast-array argmax — see ``_argmax_assign``). Similarity is
    rounded to 9 digits and ties break on the smaller cluster label,
    so the argmax is engine-independent."""
    return _argmax_assign(
        emb,
        cents,
        "cluster",
        lambda a, b: F.round(cosine(a, b), 9),
        "cluster",
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """Element-wise centroid means in long format: tie-free exact
    integer sums per (cluster, dim) (``qmean40`` — the former
    decimal(38,12) cast rounded scale-12 midpoints HALF_UP in Spark
    but half-to-even in DuckDB, and the gate embeddings contain such
    k/2^13 elements) — order-independent, so identical on any
    partitioning and any engine — re-packed to arrays ordered by
    dim."""
    long = assigned.select(
        "cluster", F.posexplode("vec").alias("dim", "v")
    )
    means = long.groupBy("cluster", "dim").agg(qmean40(F.col("v")).alias("m"))
    return means.groupBy("cluster").agg(
        F.array_sort(F.collect_list(F.struct("dim", "m")))
        .getField("m")
        .alias("cvec")
    )


def _sql_kmeans_oracle() -> str:
    """The same fixed recurrence unrolled as CTEs. DuckDB zips
    same-level unnests, so (value, dim) pairs come from
    unnest(vec) + unnest(range(0, len(vec))) in lockstep — matching
    Spark's 0-based posexplode."""
    assign = """
      SELECT vec_id, vec, cluster FROM (
        SELECT e.vec_id, e.vec, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round({cos}, 9) DESC, c.cluster) AS rn
        FROM e CROSS JOIN {cents} c) t
      WHERE rn = 1
    """
    cos = _SQL_COS.format(a="e.vec", b="c.cvec")
    sql = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    c0 AS (SELECT vec_id AS cluster, vec AS cvec FROM e
           ORDER BY vec_id LIMIT {_KM_K}),
    a1 AS ({assign.format(cos=cos, cents='c0')}),
    lng AS (SELECT cluster, unnest(vec) AS v,
                   unnest(range(0, len(vec))) AS dim
            FROM a1),
    m1 AS (SELECT cluster, dim, {sql_qmean40('v')} AS m
           FROM lng GROUP BY cluster, dim),
    c1 AS (SELECT cluster, list(m ORDER BY dim) AS cvec
           FROM m1 GROUP BY cluster),
    a2 AS ({assign.format(cos=cos, cents='c1')})
    SELECT a.vec_id, a.cluster FROM a2 a
    """
    return sql


@register("kmeans_embeddings", oracle=_sql_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd's k-means over the embedding corpus
    (K=8, two assignment passes) — the iterative-ML-on-DataFrames
    pattern: centroids stay a broadcast 8-row side, vectors never
    shuffle for assignment (crossJoin against the broadcast
    constant-sized side + per-vector window argmax), and the only
    shuffle is the (cluster, dim) centroid mean. Deterministic end to
    end: seed centroids by lowest vec_id, rounded-cosine argmax with
    label tie-break, tie-free exact integer means — so even this
    clustering
    is value-checked against the oracle's unrolled recurrence, not
    rows-counted. Fixed iterations keep it SQL-expressible; a
    convergence-loop variant would follow dedup_cluster's
    rows-only pattern instead.
    """
    emb = _emb(spark, sf_dir)
    cents = _km_seed_centroids(emb)
    assigned = _km_assign(emb, cents)
    for _ in range(_KM_ITERS - 1):
        cents = _km_update(assigned)
        assigned = _km_assign(emb, cents)
    return assigned.select("vec_id", "cluster")


# ---------------------------------------------------------------------------
# Int8 embedding quantization (storage/serving compression)
# ---------------------------------------------------------------------------


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    m AS (
      SELECT vec_id, v,
             {SQL_MAX_ABS.format(v='v')} AS mx
      FROM e)
    SELECT vec_id,
           round(mx, 9) AS max_abs,
           array_to_string(
             CASE WHEN mx > 0
                  THEN {SQL_QUANT.format(v='v', mx='mx')}
                  ELSE list_transform(v, x -> 0) END, ',') AS q,
           CASE WHEN mx > 0
                THEN round(list_max(list_transform(range(1, len(v) + 1),
                       i -> abs(v[i]
                               - ({SQL_RECON.format(v='v', mx='mx')})[i]))),
                     9)
                ELSE 0.0 END AS max_err
    FROM m
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector: scale by 127/max|x|,
    round half-up, report the max reconstruction error — the 4×
    storage/serving compression every large ANN index applies before
    sharding. Rounding is ``floor(x+0.5)`` explicitly (not ROUND) so
    both engines place half-way values identically, and the error
    bound max_err ≤ max_abs/254 is checked by the oracle's replay.

    Scale: embarrassingly parallel (no shuffle at all) — pure
    map-side ``transform``/``aggregate`` higher-order functions inside
    codegen; output carries int8-range values + one double per vector.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    df = emb.select("vec_id", v.alias("v"), max_abs(v).alias("mx"))
    quant = F.when(
        F.col("mx") > 0, int8_quantize(F.col("v"), F.col("mx"))
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0)))
    err = F.when(
        F.col("mx") > 0,
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    int8_reconstruct(F.col("v"), F.col("mx")),
                    lambda x, r: F.abs(x - r),
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ),
            9,
        ),
    ).otherwise(F.lit(0.0))
    return df.select(
        "vec_id",
        F.round("mx", 9).alias("max_abs"),
        # CSV-serialized per repo convention (see q_collect_sorted): the
        # grading driver canonicalizes with pandas sort_values, which cannot
        # hash raw list cells — every array-valued output column must be a
        # string.
        F.array_join(quant.cast("array<string>"), ",").alias("q"),
        err.alias("max_err"),
    )


# ---------------------------------------------------------------------------
# ANN over int8-reconstructed vectors (quantized serving path)
# ---------------------------------------------------------------------------

@register(
    "ann_topk_quantized",
    oracle=f"""
    WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    m AS (SELECT vec_id, vec,
                 {SQL_MAX_ABS.format(v='vec')} AS mx
          FROM e0),
    e AS (SELECT vec_id, {SQL_RECON.format(v='vec', mx='mx')} AS rvec
          FROM m WHERE mx > 0),
    q AS (SELECT vec_id AS query_id, rvec AS qvec FROM e
          WHERE vec_id < {_N_QUERIES})
    SELECT query_id, vec_id AS neighbor_id,
           CAST(rnk AS INTEGER) AS rnk,
           round(cos, 6) AS cos_sim
    FROM (
      SELECT query_id, vec_id,
             {_SQL_COS.format(a='qvec', b='rvec')} AS cos,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY {_SQL_COS.format(a='qvec', b='rvec')} DESC, vec_id
             ) AS rnk
      FROM q CROSS JOIN e
      WHERE vec_id <> query_id
    ) t WHERE rnk <= {_TOP_K}
    """,
)
def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over int8-RECONSTRUCTED vectors — what an index
    serving quantized embeddings (embedding_quantize_int8) actually
    returns. Reconstruction q*scale/127 is deterministic double math,
    so even the approximation is value-checked against the oracle;
    recall vs the float baseline is quantified in
    ``tests/test_vector_functions.py``. Same plan as the float
    brute force: broadcast queries, corpus scans once, never shuffles
    vectors.
    """
    emb = _emb(spark, sf_dir)
    recon = (
        emb.select(
            "vec_id", F.col("vec"), max_abs(F.col("vec")).alias("mx")
        )
        .filter(F.col("mx") > 0)
        .select(
            "vec_id",
            int8_reconstruct(F.col("vec"), F.col("mx")).alias("rvec"),
        )
    )
    queries = recon.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("rvec").alias("qvec")
    )
    scored = (
        recon.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qvec"), F.col("rvec")).alias("cos"),
        )
    )
    return _topk(scored)


# ---------------------------------------------------------------------------
# Embedding-space drift monitor (split-vs-split centroid comparison)
# ---------------------------------------------------------------------------


@register(
    "q_embedding_drift",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    s AS (SELECT vec_id, vec,
                 {{h}} % 2 AS split
          FROM e),
    x AS (SELECT split, pos, vec[pos] AS val
          FROM (SELECT split, vec,
                       unnest(range(1, len(vec) + 1)) AS pos
                FROM s) t),
    m AS (SELECT split, pos, {{qm}} AS mu
          FROM x GROUP BY split, pos),
    c AS (SELECT split, array_agg(mu ORDER BY pos) AS cvec
          FROM m GROUP BY split),
    pair AS (SELECT a.cvec AS c0, b.cvec AS c1
             FROM c a, c b WHERE a.split = 0 AND b.split = 1)
    SELECT round({_SQL_COS.format(a='c0', b='c1')}, 9) AS centroid_cos,
           round(list_max(list_transform(range(1, len(c0) + 1),
                                         i -> abs(c0[i] - c1[i]))), 9)
             AS max_dim_delta
    FROM pair
    """.format(
        h=sql_md5_long("'es:' || CAST(vec_id AS VARCHAR)"),
        qm=sql_qmean40("val"),
    ),
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift: split the corpus by a deterministic
    hash, compute each half's centroid with tie-free exact
    per-dimension integer sums (``qmean40``), and report centroid
    cosine + the largest per-
    dimension delta — the embedding-side complement of q_drift_psi
    (which monitors a scalar feature). In production the two "splits"
    are yesterday's corpus vs today's; a centroid_cos dip or a
    spiking dimension flags an upstream encoder or ingest change.

    Scale shape: vectors never move whole — posexplode reduces them
    to (split, dim, value) and the only shuffle is the 2×64-key
    mean aggregate; the two 64-dim centroids then compare in a
    broadcast pair join. Exact integer sums make the centroid
    bit-identical on any partitioning — monitoring that must not
    flap with cluster layout.
    """
    from map_reduce_server_spark.functions.hashing import md5_long

    emb = _emb(spark, sf_dir)
    split = md5_long(
        F.concat(F.lit("es:"), F.col("vec_id").cast("string"))
    ) % 2
    x = emb.select(
        split.alias("split"), F.posexplode("vec").alias("pos", "val")
    )
    m = x.groupBy("split", "pos").agg(qmean40(F.col("val")).alias("mu"))
    c = m.groupBy("split").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mu"))),
            lambda s: s["mu"],
        ).alias("cvec")
    )
    c0 = c.filter(F.col("split") == 0).select(F.col("cvec").alias("c0"))
    c1 = c.filter(F.col("split") == 1).select(F.col("cvec").alias("c1"))
    delta = F.aggregate(
        F.zip_with(F.col("c0"), F.col("c1"), lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    return c0.crossJoin(F.broadcast(c1)).select(
        F.round(cosine(F.col("c0"), F.col("c1")), 9).alias("centroid_cos"),
        F.round(delta, 9).alias("max_dim_delta"),
    )


# ---------------------------------------------------------------------------
# Class balance / inverse-frequency weights over the labeled corpus
# ---------------------------------------------------------------------------


@register(
    "q_label_balance",
    oracle="""
    WITH c AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
               FROM embeddings GROUP BY label),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot,
                 CAST(COUNT(*) AS DOUBLE) AS k FROM c)
    SELECT label, n,
           round(n / tot, 6) AS share,
           round(tot / (k * n), 9) AS class_weight
    FROM c CROSS JOIN t
    """,
)
def q_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit + sklearn-style 'balanced' class weights
    (tot / (n_classes * n_c)) over the labeled embedding corpus — the
    pre-training check that decides whether a sampler needs
    reweighting. One tiny aggregate + a broadcast 1-row total; the
    weights feed q_weighted_sample-style samplers downstream."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count("*").alias("n"))
    t = c.agg(
        F.sum("n").cast("double").alias("tot"),
        F.count("*").cast("double").alias("k"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("share"),
        F.round(F.col("tot") / (F.col("k") * F.col("n")), 9).alias(
            "class_weight"
        ),
    )


# Composes the registered brute-force oracle verbatim, same idiom as
# retrieval.py's q_ann_recall (ann_topk_bruteforce registers earlier
# in this module, so its oracle exists when this decorator evaluates).
from map_reduce_server_spark import registry as _registry  # noqa: E402


@register(
    "q_knn_classifier",
    oracle=f"""
    WITH nn AS (SELECT query_id, neighbor_id
                FROM ({_registry.ORACLE["ann_topk_bruteforce"]}) t),
    lab AS (SELECT vec_id, label FROM embeddings),
    votes AS (
      SELECT nn.query_id, lab.label,
             CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM nn JOIN lab ON nn.neighbor_id = lab.vec_id
      GROUP BY 1, 2),
    best AS (
      SELECT query_id, label AS predicted_label, n_votes
      FROM (SELECT query_id, label, n_votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY n_votes DESC, label) AS r
            FROM votes) t
      WHERE r = 1)
    SELECT best.query_id, q.label AS true_label,
           best.predicted_label, best.n_votes,
           CASE WHEN q.label = best.predicted_label
                THEN 1 ELSE 0 END AS correct
    FROM best JOIN lab q ON best.query_id = q.vec_id
    """,
)
def q_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification of the benchmark query
    vectors from their top-{k} cosine neighbors' labels (ties break
    to the smallest label — a total order both engines share) —
    the label-propagation / weak-supervision primitive that turns a
    similarity index into an annotator.

    Scale: composes the registered brute-force top-k (corpus never
    shuffles; swap in ann_topk_ivf for the approximate serving path
    — same downstream vote), then all remaining joins and the vote
    run on |queries|×k rows. The label side joins by vec_id —
    broadcastable at any corpus size where labels fit an executor;
    beyond that it is a plain equi-join on the 8-byte key.
    """
    nn = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        nn.join(lab, nn.neighbor_id == lab.vec_id)
        .groupBy("query_id", "label")
        .agg(F.count("*").cast("bigint").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), "label")
    best = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )
    truth = lab.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return best.join(truth, "query_id").select(
        "query_id",
        "true_label",
        "predicted_label",
        "n_votes",
        F.when(F.col("true_label") == F.col("predicted_label"), 1)
        .otherwise(0)
        .alias("correct"),
    )



_RANGE_THETA = 0.25  # cosine threshold for range search

# Oracle for ann_range_search below: identical cosine twin,
# threshold filter instead of a rank cut (no k to tie-break — the
# predicate itself is deterministic; round(…, 6) only on the EMITTED
# value, never in the filter, so both engines filter the same raw
# double).
_RANGE_SEARCH_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
q AS (SELECT vec_id AS query_id, vec AS qvec FROM e
      WHERE vec_id < {_N_QUERIES})
SELECT query_id, vec_id AS neighbor_id,
       round({_SQL_COS.format(a='qvec', b='vec')}, 6) AS cos_sim
FROM q CROSS JOIN e
WHERE vec_id <> query_id
  AND {_SQL_COS.format(a='qvec', b='vec')} >= {_RANGE_THETA}
"""


@register("ann_range_search", oracle=_RANGE_SEARCH_ORACLE)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold (range) similarity search: ALL corpus vectors with
    cosine >= theta per query — the complement of top-k retrieval
    (dedup candidate pull, recall-oriented retrieval, radius
    neighborhoods), where the result size is data-dependent rather
    than fixed at k.

    Scale shape matches ann_topk_bruteforce's exact baseline: the
    query set broadcasts, the corpus scans ONCE and never shuffles
    its vectors, and the threshold filter runs inside the scan
    projection — only (query_id, neighbor_id, cos) survive, and
    unlike top-k there is no global rank stage at all (the filter is
    embarrassingly parallel). The filter compares the RAW double and
    rounds only the emitted value, so the result set is identical on
    any partitioning. The LSH/IVF variants remain the scale path
    when theta is high enough for bucket pruning."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    cos = cosine(F.col("qvec"), F.col("vec"))
    return (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(cos >= _RANGE_THETA)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )
