"""Retrieval-stack operators: BM25, hybrid lexical+vector fusion,
matryoshka-truncated ANN, and repeated-span detection.

The RAG-era complement to the dedup/ANN family: score documents for a
query (BM25), fuse lexical and vector rankings (reciprocal-rank
fusion), serve a cheap first-pass ANN over truncated embeddings
(matryoshka-style), and surface the exact-substring duplication
signal (Lee et al.'s dedup criterion) per document.

Scale shape shared by all four: corpora never shuffle their payloads
— token streams reduce to compact (doc_id, stat) rows before any
join; candidate sets are top-k-sized and broadcast; rank arithmetic
is join-counting over those broadcast sets (no global window); float
work is rounded at engine-portable points (ln is 1-ulp across libm
implementations).

No counterpart exists in the reference (its only text operator is
wordcount/grep — SURVEY.md §2.B); these follow the north-star
extension mandate.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.hashing import md5_long, sql_md5_long
from map_reduce_server_spark.functions.tokens import SQL_TOKS as _SQL_TOKS
from map_reduce_server_spark.functions.tokens import word_tokens_col
from map_reduce_server_spark.functions.vector import SQL_COSINE, cosine
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.stagecut import stage_cut
from map_reduce_server_spark.tables import load_table

# Imported at module top (no cycle — similarity does not import
# retrieval) so the matryoshka/recall constants DERIVE from the
# bruteforce index's definitions instead of duplicating them: the
# recall join is only meaningful while both pipelines share the same
# query set and k.
from map_reduce_server_spark import registry as _registry
from map_reduce_server_spark.operators import similarity as _sim

# --- shared text plumbing (same contract as operators/text.py) --------------


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(word_tokens_col()).alias("token")
    )


# --- BM25 -------------------------------------------------------------------

_BM25_TERMS = ("join", "filter", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _sql_bm25_scored() -> str:
    """Scored-docs CTE shared by the BM25 query and the RRF oracle.

    Per-term partial scores are rounded to 9 digits (they contain an
    ``ln``) and added in FIXED term order, so the fold is bit-identical
    across engines and partitionings.
    """
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    add = " + ".join(
        f"COALESCE(MAX(CASE WHEN token = '{t}' THEN s END), 0.0)"
        for t in _BM25_TERMS
    )
    return f"""
    tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tok GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE token IN ({terms}) GROUP BY doc_id, token),
    dfreq AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df
              FROM tf GROUP BY token),
    part AS (
      SELECT tf.doc_id, tf.token,
             round(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * CAST({_BM25_K1} + 1.0 AS DOUBLE))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl / avgdl)),
               9) AS s
      FROM tf JOIN dl USING (doc_id)
      JOIN dfreq USING (token) CROSS JOIN stats),
    scored AS (
      SELECT doc_id, round({add}, 6) AS score
      FROM part GROUP BY doc_id)
    """


@register(
    "text_bm25",
    bench=True,
    oracle=f"""
    WITH {_sql_bm25_scored()}
    SELECT doc_id, score FROM scored
    ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75) for a fixed 3-term query, top
    {k} docs — the lexical half of every RAG stack.

    Scale shape: the token stream reduces to (doc_id, dl) and the
    3-term (doc_id, token, tf) table in one shuffle each; corpus size
    and avgdl fold in as a broadcast 1-row aggregate; document-
    frequency is a 3-row broadcast. Per-term partials pivot to FIXED
    expression order before summing (float addition is not
    commutative-associative across engines), each partial rounds its
    ``ln`` to 9 digits, and the global top-k is TakeOrdered with a
    doc_id tie-break — no global window, no full sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _bm25_scored(docs).orderBy(F.desc("score"), "doc_id").limit(
        _BM25_TOPK
    )


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, score) for docs matching ≥1 BM25 query term.

    Row-local formulation (round 15): a fixed 3-term query needs no
    token explode at all — per-doc ``dl`` is ``size(tokens)`` and
    per-term ``tf`` is ``size(filter(tokens, = term))``, both
    computed inside the doc's own row (guide §2.3 "aggregate before
    you shuffle", taken to its limit: nothing shuffles but one 1-row
    stats aggregate). The former shape exploded the corpus's full
    token stream and shuffled it twice (dl groupBy + tf groupBy)
    only to rediscover per-row array counts. Value-identical by
    construction: tf/dl/df/n_docs/avgdl are the same integers, the
    partial-score expression tree is unchanged (same double ops in
    the same order, same round points), and the fixed-order pivot
    sum is preserved; the DuckDB oracle CTE is untouched.

    At 100 TB this removes two full-corpus shuffles; the surviving
    exchange carries one row (the global stats broadcast).
    """
    def _count_of(term):
        # one-arg lambda: a two-arg lambda would be called as
        # (element, index) by the higher-order-function binding
        return lambda x: x == term

    tf_cols = [
        F.size(F.filter(F.col("ts"), _count_of(t))).alias(f"tf{i}")
        for i, t in enumerate(_BM25_TERMS)
    ]
    # dl > 0 mirrors the exploded form's domain: a token-less doc
    # never produced a (doc_id, token) row, so it was absent from
    # dl and from the corpus stats.
    per_doc = (
        docs.select("doc_id", word_tokens_col().alias("ts"))
        .select("doc_id", F.size("ts").alias("dl"), *tf_cols)
        .filter(F.col("dl") > 0)
    )
    stats = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int"))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    matched = per_doc.filter(
        " OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))
    ).crossJoin(F.broadcast(stats))
    add = None
    for i in range(len(_BM25_TERMS)):
        tf = F.col(f"tf{i}")
        s = F.round(
            F.log(
                (F.col("n_docs") - F.col(f"df{i}") + 0.5)
                / (F.col(f"df{i}") + 0.5)
                + 1.0
            )
            * (tf * (_BM25_K1 + 1.0))
            / (
                tf
                + _BM25_K1
                * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            ),
            9,
        )
        term = F.when(tf > 0, s).otherwise(F.lit(0.0))
        add = term if add is None else add + term
    return matched.select("doc_id", F.round(add, 6).alias("score"))


# --- hybrid retrieval: BM25 ⊕ cosine via reciprocal-rank fusion -------------

_RRF_K = 60
_RRF_CAND = 50
_RRF_TOPK = 10
_RRF_QVEC = 0  # vec_id of the query embedding; doc_id aligns with vec_id

_SQL_COS = SQL_COSINE  # shared oracle twin of functions.vector.cosine


def _join_rank(cands: DataFrame, score: str, key: str) -> DataFrame:
    """rank = 1 + |{better candidate}| via a broadcast self-join over
    the top-k-sized candidate set — no global window, deterministic
    through the (score DESC, key) total order. Candidates' scores
    must be non-NULL: every comparison against a NULL score fails,
    so a NULL candidate would count zero better rows and claim
    rank 1 (callers filter NULLs before ranking)."""
    a = cands.alias("a")
    b = cands.alias("b")
    better = (F.col(f"b.{score}") > F.col(f"a.{score}")) | (
        (F.col(f"b.{score}") == F.col(f"a.{score}"))
        & (F.col(f"b.{key}") < F.col(f"a.{key}"))
    )
    return (
        a.join(F.broadcast(b), better, "left")
        .groupBy(F.col(f"a.{key}").alias(key), F.col(f"a.{score}").alias(score))
        .agg(F.count(F.col(f"b.{key}")).alias("n_better"))
        .select(key, (F.col("n_better") + 1).cast("int").alias("rnk"))
    )


@register(
    "q_hybrid_retrieval_rrf",
    bench=True,
    oracle=f"""
    WITH {_sql_bm25_scored()},
    bm_top AS (SELECT doc_id, score FROM scored
               WHERE doc_id <> {_RRF_QVEC}
               ORDER BY score DESC, doc_id LIMIT {_RRF_CAND}),
    bm_rank AS (
      SELECT a.doc_id,
             CAST(1 + (SELECT COUNT(*) FROM bm_top b
                       WHERE b.score > a.score
                          OR (b.score = a.score AND b.doc_id < a.doc_id))
                  AS INTEGER) AS rnk
      FROM bm_top a),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    qv AS (SELECT vec AS qvec FROM e WHERE vec_id = {_RRF_QVEC}),
    cos_scored AS (
      SELECT vec_id AS doc_id,
             round({_SQL_COS.format(a='qvec', b='vec')}, 9) AS cos
      FROM e CROSS JOIN qv WHERE vec_id <> {_RRF_QVEC}),
    cos_top AS (SELECT doc_id, cos FROM cos_scored
                WHERE cos IS NOT NULL
                ORDER BY cos DESC, doc_id LIMIT {_RRF_CAND}),
    cos_rank AS (
      SELECT a.doc_id,
             CAST(1 + (SELECT COUNT(*) FROM cos_top b
                       WHERE b.cos > a.cos
                          OR (b.cos = a.cos AND b.doc_id < a.doc_id))
                  AS INTEGER) AS rnk
      FROM cos_top a),
    fused AS (
      SELECT COALESCE(bm.doc_id, cs.doc_id) AS doc_id,
             round(COALESCE(1.0 / ({_RRF_K} + bm.rnk), 0.0)
                   + COALESCE(1.0 / ({_RRF_K} + cs.rnk), 0.0), 9) AS rrf
      FROM bm_rank bm FULL OUTER JOIN cos_rank cs ON bm.doc_id = cs.doc_id)
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPK}
    """,
)
def q_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse BM25 and cosine candidate lists with
    reciprocal-rank fusion (1/(60+rank), the parameter-free fusion
    every hybrid RAG stack starts from). Documents and embeddings
    align on doc_id = vec_id; the query is the fixed BM25 term set
    plus embedding #{q} as the query vector.

    Item #{q} is the designated query (its embedding is the query
    vector), so it is excluded as a candidate from BOTH legs — not
    just the cosine leg where it would trivially win at cos=1.
    NULL cosines (zero-norm embeddings) are likewise barred from the
    candidate set; `_join_rank`'s counting join would otherwise hand
    a NULL score rank 1.

    Scale shape: each leg reduces the corpus to a top-50 candidate
    set (TakeOrdered — no global sort), materialized once via
    `stage_cut` — `_join_rank` consumes its input as both probe
    and broadcast build side, which would otherwise re-execute each
    leg's full corpus pipeline twice; ranks come from a broadcast
    self-join count over those 50 rows; the fusion is a full outer
    join of two 50-row sets. The expensive parts — token stream and
    one corpus scan for cosine — are single-pass, shuffle only
    compact stats, and the vector side broadcasts one query row.
    """
    docs = load_table(spark, sf_dir, "documents")

    def _build_bm_top() -> DataFrame:
        return (
            _bm25_scored(docs)
            .filter(F.col("doc_id") != _RRF_QVEC)
            .orderBy(F.desc("score"), "doc_id")
            .limit(_RRF_CAND)
            .transform(stage_cut)
        )

    def _build_cos_top() -> DataFrame:
        # widened like the ann family's _emb (round 15): the
        # per-vector cosine fold is pure narrow work that a
        # one-row-group parquet file would otherwise run on a single
        # core; no-op at scale
        emb = load_table(spark, sf_dir, "embeddings", widen=True).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        )
        qv = emb.filter(F.col("vec_id") == _RRF_QVEC).select(
            F.col("vec").alias("qvec")
        )
        return (
            emb.filter(F.col("vec_id") != _RRF_QVEC)
            .crossJoin(F.broadcast(qv))
            .select(
                F.col("vec_id").alias("doc_id"),
                F.round(cosine(F.col("qvec"), F.col("vec")), 9).alias("cos"),
            )
            .filter(F.col("cos").isNotNull())
            .orderBy(F.desc("cos"), "doc_id")
            .limit(_RRF_CAND)
            .transform(stage_cut)
        )

    # The two legs are INDEPENDENT jobs (guide §2.6 "overlap
    # independent jobs"): their eager stage-cut materializations are
    # submitted from two driver threads so the cosine leg's tasks
    # back-fill executors the BM25 leg's tail leaves idle — on a
    # cluster this is the standard independent-subquery overlap; at
    # sf0.1/local[32] it measured 1.43 -> 1.03 s (round 16,
    # interleaved A/B, identical output). inheritable_thread_target
    # keeps job-group/description/tag thread-locals correct per the
    # PySpark threading contract; .result() re-raises any leg failure.
    # Without pinned-thread py4j it returns the session itself (there
    # are no thread-locals to carry) — the bare legs are submitted then.
    inherit = inheritable_thread_target(spark)
    legs = [
        inherit(leg) if callable(inherit) else leg
        for leg in (_build_bm_top, _build_cos_top)
    ]
    with ThreadPoolExecutor(max_workers=2) as pool:
        bm_f, cos_f = [pool.submit(leg) for leg in legs]
        bm_top, cos_top = bm_f.result(), cos_f.result()
    bm_rank = _join_rank(bm_top, "score", "doc_id")
    cos_rank = _join_rank(cos_top, "cos", "doc_id")
    bm = bm_rank.select("doc_id", F.col("rnk").alias("bm_rnk"))
    cs = cos_rank.select("doc_id", F.col("rnk").alias("cos_rnk"))
    fused = bm.join(cs, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("bm_rnk")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("cos_rnk")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(_RRF_TOPK)


# --- matryoshka-truncated ANN ----------------------------------------------

_MRL_DIM = 16
_MRL_QUERIES = _sim._N_QUERIES  # must match bruteforce for q_ann_recall
_MRL_TOPK = _sim._TOP_K


@register(
    "ann_topk_matryoshka",
    oracle=f"""
    WITH e AS (SELECT vec_id,
                      (embedding::DOUBLE[])[1:{_MRL_DIM}] AS vec
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM e
          WHERE vec_id < {_MRL_QUERIES})
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
    ) t WHERE rnk <= {_MRL_TOPK}
    """,
)
def ann_topk_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style first-pass ANN: cosine top-k over the FIRST
    {d} of 64 dimensions — the 4× cheaper retrieval pass that MRL-
    trained embeddings make possible (truncate, retrieve broad, then
    re-rank survivors with the full vector — the re-rank is exactly
    ``ann_topk_bruteforce``). Cosine self-normalizes, so truncation
    needs no explicit re-norm. Same broadcast-queries/corpus-stays-
    put shape as the other ANN variants; the scored stream carries
    16-dim slices, and WindowGroupLimit prunes per-partition before
    the rank shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.slice(F.col("embedding").cast("array<double>"), 1, _MRL_DIM).alias(
            "vec"
        ),
    )
    queries = emb.filter(F.col("vec_id") < _MRL_QUERIES).select(
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
    # shared ANN finishing stage: the tie-break/rounding contract
    # lives in similarity._topk (ONE place), _MRL_TOPK is _TOP_K
    return _sim._topk(scored)


# --- repeated-span detection (exact-substring dedup signal) -----------------

_SPAN_W = 5  # window length in tokens


@register(
    "text_dup_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS ts FROM documents),
    wins AS (
      SELECT DISTINCT doc_id,
             {sql_md5_long("win")} AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(ts) - {_SPAN_W - 2}, 1)),
                 i -> list_aggregate(ts[i:i+{_SPAN_W - 1}],
                                     'string_agg', ' '))) AS win
        FROM toks) t),
    shared AS (
      SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
    per_doc AS (
      SELECT w.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(COUNT(s.h) AS BIGINT) AS n_dup_windows
      FROM wins w LEFT JOIN shared s ON w.h = s.h
      GROUP BY w.doc_id)
    SELECT doc_id, n_windows, n_dup_windows,
           round(CAST(n_dup_windows AS DOUBLE) / n_windows, 6) AS dup_ratio
    FROM per_doc
    """,
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal per document: the fraction
    of a doc's DISTINCT {w}-token windows that also appear in at least
    one other document — the cross-document criterion behind
    suffix-array substring dedup (train-data memorization risk),
    computed at shingle granularity. Within-doc repetition is
    deliberately out of scope (windows are distinct per doc before
    counting); ``text_repetition`` owns that signal.

    Scale shape: windows hash to 60-bit ints immediately (the string
    never shuffles); DISTINCT per doc, one count per hash, and a
    semi-join-shaped LEFT JOIN back to flag shared windows. A
    hot-window cap is unnecessary: the join key is the window ITSELF
    (an equality pairing with its own count, not a pair explosion).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", word_tokens_col().alias("ts"))
    win_arr = F.when(
        # guard like dedup.shingles_df: a doc below the window width
        # has NO windows — the unguarded sequence(1, greatest(...,1))
        # fabricated one truncated window where the oracle's
        # end-exclusive range() correctly yields none
        F.size("ts") >= _SPAN_W,
        F.transform(
            # starts 1..L-(w-1): Spark sequence is END-INCLUSIVE
            # where the oracle's range() is end-exclusive.
            F.sequence(F.lit(1), F.size("ts") - (_SPAN_W - 1)),
            lambda i: F.concat_ws(" ", F.slice("ts", i, F.lit(_SPAN_W))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = (
        toks.select("doc_id", F.explode(win_arr).alias("win"))
        .select("doc_id", md5_long(F.col("win")).alias("h"))
        .distinct()
        # three consumers previously recomputed this explode+distinct;
        # one materialization + one join-aggregate pass replaces the
        # shared/per_doc/totals triple-plan
        .transform(stage_cut)
    )
    shared = wins.groupBy("h").agg(F.count("*").alias("n")).filter(
        F.col("n") >= 2
    )
    marked = wins.join(
        shared.select("h", F.lit(1).alias("is_dup")), "h", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count("is_dup").alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows"),
                6,
            ).alias("dup_ratio"),
        )
    )


# --- ANN recall evaluation (index-tuning harness) ---------------------------

# Composes two registered pipelines' oracles verbatim (the top-level
# similarity import guarantees both registrations exist even though
# registry.load_all() imports retrieval first).


@register(
    "q_ann_recall",
    oracle=f"""
    WITH bf AS (SELECT query_id, neighbor_id
                FROM ({_registry.ORACLE["ann_topk_bruteforce"]}) t),
         mr AS (SELECT query_id, neighbor_id
                FROM ({_registry.ORACLE["ann_topk_matryoshka"]}) t)
    SELECT bf.query_id,
           round(CAST(COUNT(mr.neighbor_id) AS DOUBLE) / {_sim._TOP_K}, 6)
             AS recall_at_5
    FROM bf LEFT JOIN mr
      ON bf.query_id = mr.query_id AND bf.neighbor_id = mr.neighbor_id
    GROUP BY bf.query_id
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the matryoshka first-pass index against exact
    brute-force cosine, per query — the evaluation harness every ANN
    deployment runs before picking truncation depth / nprobe at scale.
    Composes two registered pipelines (their oracles compose the same
    way), so the measurement itself is hash-verified: a drift in
    either index OR in the metric breaks the match.

    Scale shape: both legs end at 8×5-row candidate sets; the recall
    join touches 40 rows.
    """
    bf = _sim.ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    mr = ann_topk_matryoshka(spark, sf_dir).select(
        F.col("query_id").alias("m_qid"), F.col("neighbor_id").alias("m_nid")
    )
    return (
        bf.join(
            mr,
            (F.col("query_id") == F.col("m_qid"))
            & (F.col("neighbor_id") == F.col("m_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.round(F.count("m_nid").cast("double") / _sim._TOP_K, 6).alias(
                "recall_at_5"
            )
        )
    )


# --- hashing-trick featurization --------------------------------------------

_FH_BUCKETS = 32


@register(
    "q_feature_hashing",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKS}) AS token
                 FROM documents),
    b AS (SELECT doc_id,
                 {sql_md5_long("'fh:' || token")} % {_FH_BUCKETS} AS bucket
          FROM tok)
    SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY doc_id, bucket
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: tokens hash into {b} fixed
    buckets, counted per document — the bounded-width featurizer
    (Weinberger et al.) that needs no vocabulary pass, so it
    streams over 100 TB with a single (doc_id, bucket) aggregate.
    The md5-derived bucket makes the feature map engine-portable
    (vs Spark's murmur-based HashingTF, which no oracle could
    replay).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = _tokens(docs)
    return (
        tok.select(
            "doc_id",
            (
                md5_long(F.concat(F.lit("fh:"), F.col("token")))
                % _FH_BUCKETS
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )
