"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine — over ``documents`` / ``embeddings``.

The reference has no dedup (its group stage merely counts distinct
*lines*, reference ``master/__main__.py:250-253``); these are the
north-star training-data-pipeline operators (BASELINE.json).

Scale design: every variant is a shuffle-on-key plan.
``dedup_fingerprint``/``dedup_keep_one`` group on a 60-bit
fingerprint (8 bytes shuffled, not the document); ``dedup_exact``
deliberately groups on the raw text column — the byte-identity
baseline whose shuffle payload IS the document (use the fingerprint
variants at scale). MinHash/SimHash use banding so candidate
generation is an equi-join on (band, signature) — never an
all-pairs product. The md5-derived hash family is engine-portable,
so every stage has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.hashing import md5_long, sql_md5_long
from map_reduce_server_spark.functions.tokens import SQL_TOKS, word_tokens_col
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.stagecut import stage_cut
from map_reduce_server_spark.tables import load_table

# --- shared shingling (word 3-grams over non-empty lowercase tokens) -------

# Normalized-text duplicate-group key, shared by dedup_fingerprint and
# dedup_keep_one (the two MUST define identical groups) and mirrored
# below for their oracles.
_SQL_NORM = "regexp_replace(lower(trim(text)), ' +', ' ', 'g')"


def norm_text_col() -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")


_SQL_SHINGLES = f"""
  (SELECT DISTINCT doc_id,
          unnest(list_transform(range(1, greatest(len({SQL_TOKS}) - 1, 1)),
                 i -> {SQL_TOKS}[i] || ' ' || {SQL_TOKS}[i+1]
                      || ' ' || {SQL_TOKS}[i+2])) AS shingle
   FROM documents)
"""


def doc_shingle_arrays(
    spark: SparkSession, sf_dir: str, distinct: bool = True
) -> DataFrame:
    """(doc_id, arr): the per-document shingle ARRAY, computed
    entirely row-locally (zero shuffles — the round-15 pivot of the
    whole dedup family, guide §2.3/§2.4).

    A (doc_id, shingle) duplicate can only arise WITHIN one document
    (doc_id differs otherwise), so ``array_distinct`` on the per-doc
    array yields exactly the distinct pair set without the corpus-
    wide ``distinct()`` shuffle the round-14 code paid (equivalence
    pinned in tests/test_dedup_shingles.py). Keeping the set AS an
    array additionally makes per-doc sizes (``size(arr)``) and
    pairwise intersection counts (``array_intersect`` after a
    compact candidate join) row-local — the former verification
    stage expanded every candidate pair by its document's full
    shingle set (|pairs| x avg-doc-size rows through two exchanges).

    ``distinct=False`` keeps raw multiplicity for consumers whose
    aggregation absorbs duplicates anyway (MIN over a repeated
    shingle is the MIN — ``minhash_wide``).

    The documents scan is widened first: tokenize + shingling is the
    dedup family's dominant narrow work, and a one-row-group parquet
    file would otherwise run it on a single core (see
    ``tables.widen_small_scan``).
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    with_toks = docs.select("doc_id", word_tokens_col().alias("ts"))
    shingle_arr = _shingle_arr_col()
    if distinct:
        shingle_arr = F.array_distinct(shingle_arr)
    return with_toks.select("doc_id", shingle_arr.alias("arr"))


def _shingle_arr_col() -> Column:
    """The per-document shingle-array EXPRESSION over a ``ts`` token
    column — shared by the exploded and the array-table views."""
    n = F.size(F.col("ts"))
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ts"), i),
                F.element_at(F.col("ts"), i + 1),
                F.element_at(F.col("ts"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles_df(
    spark: SparkSession, sf_dir: str, distinct: bool = True
) -> DataFrame:
    """(doc_id, 3-word-shingle) pairs, distinct by default — the
    exploded view (zero shuffles; the explode is row-local).

    Deliberately explodes the array expression INLINE rather than
    selecting :func:`doc_shingle_arrays`'s ``arr`` column first: a
    projected-then-exploded higher-order-function column measured 8×
    slower at sf0.1 (the optimizer re-evaluates the interpreted
    lambda expression below the exchange instead of keeping it fused
    with the Generate — dedup_minhash_lsh 1.8 s vs 14.2 s). Consumers
    that need the ARRAYS use ``doc_shingle_arrays(...).transform(
    stage_cut)``, where the checkpoint materializes ``arr`` exactly
    once and the hazard cannot arise.
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    with_toks = docs.select("doc_id", word_tokens_col().alias("ts"))
    shingle_arr = _shingle_arr_col()
    if distinct:
        shingle_arr = F.array_distinct(shingle_arr)
    return with_toks.select("doc_id", F.explode(shingle_arr).alias("shingle"))


# --- exact dedup ------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT text, CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-group on the full text, keep min doc_id.

    NOT widened (round 15, measured): the scan feeds straight into a
    groupBy whose exchange already redistributes every row, and the
    only narrow work is hashing — widen_small_scan here just moves
    the full text payload through a second exchange (0.36 s -> 0.77 s
    at sf0.1). Same verdict for dedup_fingerprint / dedup_keep_one."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


@register(
    "dedup_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             {sql_md5_long(_SQL_NORM)}
               AS fingerprint
      FROM documents
    )
    SELECT fingerprint, CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
           COUNT(*) AS n_copies
    FROM fp GROUP BY fingerprint
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup: at 100 TB this shuffles 8-byte
    keys instead of documents — the scale path for exact dedup.
    Not widened — see dedup_exact (md5 of the text is too light to
    pay a payload exchange for; measured 0.36 s -> 0.96 s)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", md5_long(norm_text_col()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


# --- n-gram Jaccard (exact, shingle-join formulation) -----------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
             AS jaccard
    FROM pairs
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar document pairs by exact 3-gram Jaccard.

    Distributed formulation: explode shingles, equi-join on shingle
    (never an all-pairs product), count common, join sizes. At scale
    the shingle join gets prefix filtering / LSH (see
    ``dedup_minhash_lsh``) — this exact variant is the ground truth.
    """
    # three consumers (both self-join sides + sz): materialize the
    # per-doc arrays once; the exploded view is a row-local cheap op
    # per consumer and sz is size(arr) — no groupBy shuffle
    darr = doc_shingle_arrays(spark, sf_dir).transform(stage_cut)
    sh = darr.select("doc_id", F.explode("arr").alias("shingle"))
    sz = darr.select("doc_id", F.size("arr").cast("long").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    # RAW double, no round — see dedup_jaccard_prefix; the unrounded
    # ratio also makes the top-20 cut engine-identical by
    # construction (same IEEE division on both sides).
    return (
        _attach_sizes(pairs, sz)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


# --- MinHash + LSH -----------------------------------------------------------

_MINHASH_K = 12  # signature length
_MINHASH_R = 2  # rows per band → 6 bands of r=2
_MINHASH_B = _MINHASH_K // _MINHASH_R
# Default hot-bucket cap for BOTH LSH families (minhash + simhash):
# a band bucket of n docs expands to n²/2 candidate pairs, so one
# ubiquitous key (boilerplate text) is the single quadratic hazard at
# 100 TB. Buckets above the cap are dropped BEFORE pair expansion —
# their members are exact-duplicate-heavy and already caught by
# dedup_fingerprint. The cap rule is plain SQL (HAVING COUNT(*) <=
# cap on the band CTE), so the DuckDB oracles replay it exactly and
# the scale-safe plan is the one with the green driver row.
_LSH_BUCKET_CAP = 1000


def _cap_hot_buckets(bands: DataFrame, cap: int) -> DataFrame:
    """Drop (band, bkey) buckets larger than ``cap`` BEFORE pair
    expansion — the ONE implementation of the hot-bucket cap both
    LSH families share, so the rule cannot drift between them (their
    oracles replay the identical HAVING form).

    Window count, NOT a groupBy+semi-join: the join formulation
    re-evaluates the whole signature subtree for the counting branch
    (measured 2.4× the query at sf0.1), while the window rides the
    same (band, bkey) shuffle the pair join needs anyway."""
    w = Window.partitionBy("band", "bkey")
    return (
        bands.withColumn("bucket_n", F.count("*").over(w))
        .filter(F.col("bucket_n") <= cap)
        .drop("bucket_n")
    )


def _attach_sizes(pairs: DataFrame, sz: DataFrame) -> DataFrame:
    """Join per-doc shingle counts onto (doc_a, doc_b, ...) pairs as
    ``n_a``/``n_b`` — the size-attach step every exact-similarity
    verifier ends with."""
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def _verified_common(cand: DataFrame, darr: DataFrame) -> DataFrame:
    """Exact verification stage shared by ``dedup_jaccard_prefix``
    and ``dedup_containment`` (the oracles' common CTE shape).
    Returns (doc_a, doc_b, n_common, n_a, n_b).

    Array formulation (round 15): attach each side's distinct
    shingle ARRAY with a compact equi-join, then count the
    intersection row-locally — ``size(array_intersect(a, b))`` over
    distinct-element arrays IS |A∩B|, and the sizes come free as
    ``size(arr)``. The round-14 shape instead joined the full
    exploded shingle table twice, expanding every candidate pair by
    its document's whole shingle set (|pairs| × avg-doc-size rows
    through two exchanges) just to recount what the two rows already
    hold; the sz table and its groupBy are gone with it (guide §2.3
    "shuffle keys and metadata instead of payloads" — here the
    payload IS the decision input, so it attaches once per side and
    never expands)."""
    aa = darr.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"))
    bb = darr.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"))
    return (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("long")
            .alias("n_common"),
            F.size("arr_a").cast("long").alias("n_a"),
            F.size("arr_b").cast("long").alias("n_b"),
        )
    )


def minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m0..m{K-1}): the K-position min-wise signature row.

    One-pass formulation: each (doc, shingle) row projects all K
    seeded hashes as columns and a single groupBy(doc_id) takes the K
    mins (partial aggregation combines map-side, so the shuffle
    carries K strings per doc per partition — not K× the shingle
    set). ~2× faster than exploding a seeds dimension and equivalent
    value-for-value. Shingles are taken non-distinct: MIN absorbs
    duplicates, so the pre-aggregation dedup shuffle of the full
    shingle set (the plan's largest intermediate) is pure waste.

    Round-15 negative result, kept on purpose: the "obvious" shuffle
    removal — ``array_min(transform(arr, s -> md5(i:s)))`` row-local
    over the per-doc shingle array — measured 4× SLOWER at sf0.1
    (8.5 s vs 2.1 s for the whole LSH query) because higher-order
    functions evaluate their lambda interpreted, per element, outside
    whole-stage codegen, while the exploded projection keeps md5 in
    codegen. The exchange it saved carries only K strings per doc
    per map partition. Guide §1.1's warning that the "ideal" plan
    loses to a gotcha, in the concrete.
    """
    sh = shingles_df(spark, sf_dir, distinct=False)
    projected = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))).alias(f"m{i}")
            for i in range(_MINHASH_K)
        ],
    )
    return projected.groupBy("doc_id").agg(
        *[F.min(f"m{i}").alias(f"m{i}") for i in range(_MINHASH_K)]
    )


def minhash_band_keys(wide: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): r-row banding of the signature.

    Band j's key concatenates signature positions
    ``m[r·j] .. m[r·j+r-1]``: a pair collides on band j iff ALL r
    positions agree, so P(candidate) = 1 − (1 − J^r)^b — the
    superlinear candidate cutoff that keeps LSH usable at 100 TB
    (r=1 banding degrades to "any position agrees", whose hot
    buckets expand quadratically).
    """
    band_cols = [
        F.concat_ws(
            ":",
            *[f"m{j * _MINHASH_R + i}" for i in range(_MINHASH_R)],
        ).alias(f"b{j}")
        for j in range(_MINHASH_B)
    ]
    banded = wide.select("doc_id", *band_cols)
    stack_args = ", ".join(f"{j}, b{j}" for j in range(_MINHASH_B))
    return banded.selectExpr(
        "doc_id", f"stack({_MINHASH_B}, {stack_args}) AS (band, bkey)"
    )


def minhash_candidate_pairs(
    wide: DataFrame, max_bucket_size: int | None = _LSH_BUCKET_CAP
) -> DataFrame:
    """Distinct candidate (doc_a < doc_b) pairs from band collisions.

    ``max_bucket_size`` (default ``_LSH_BUCKET_CAP``): hot-bucket cap
    — LSH's one scale hazard is a ubiquitous band key (e.g.
    boilerplate text) whose bucket of n docs expands to n²/2 pairs.
    Buckets larger than the cap are dropped BEFORE pair expansion
    (one extra aggregation on the band keys, negligible vs the join),
    bounding any single bucket's output; dropped buckets are
    exact-duplicate-heavy and are caught by ``dedup_fingerprint``
    upstream. The registered query runs WITH the cap and the DuckDB
    oracle replays the identical HAVING rule; pass ``None`` for the
    uncapped exact-recall variant.
    """
    bands = minhash_band_keys(wide)
    if max_bucket_size is not None:
        bands = _cap_hot_buckets(bands, max_bucket_size)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _sql_minhash_sig() -> str:
    return f"""
    (SELECT doc_id, seed,
            MIN(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS h
     FROM ({_SQL_SHINGLES}) sh
     CROSS JOIN (SELECT unnest(range({_MINHASH_K})) AS seed) seeds
     GROUP BY doc_id, seed)
    """


def _sql_minhash_bands() -> str:
    """DuckDB twin of ``minhash_band_keys``: r-row band keys."""
    return f"""
    (SELECT doc_id, seed // {_MINHASH_R} AS band,
            string_agg(h, ':' ORDER BY seed) AS bkey
     FROM ({_sql_minhash_sig()}) sig
     GROUP BY doc_id, seed // {_MINHASH_R})
    """


# Mirrors minhash_candidate_pairs incl. the hot-bucket HAVING cap.
_SQL_MINHASH_CAND = f"""
    (WITH mb AS ({_sql_minhash_bands()}),
     ok AS (SELECT band, bkey FROM mb GROUP BY band, bkey
            HAVING COUNT(*) <= {_LSH_BUCKET_CAP})
     SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
     FROM mb a
     JOIN ok ON a.band = ok.band AND a.bkey = ok.bkey
     JOIN mb b
       ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    SELECT doc_a, doc_b FROM {_SQL_MINHASH_CAND} cand
    """,
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (shingle → K minhashes → banded
    bucket join).

    The min-wise hash family is ``min(md5(seed:shingle))`` per seed
    (lexicographic min over hex digests — a valid permutation
    approximation, engine-portable). Banding is b=6 bands of r=2
    rows: a pair is a candidate iff BOTH positions of some band
    agree, P(candidate) = 1-(1-J²)^6 — ≈99.8% at J=0.8 (≥99.9% from
    J≈0.85) while unrelated pairs (J≈0.1) become candidates ~12×
    more rarely than under r=1 banding (0.059 vs 0.718), which is
    what keeps hot buckets from expanding quadratically at 100 TB. Candidate generation is a self-equi-join
    on (band, bkey): the shuffle carries b compact keys per document,
    never the corpus and never all pairs. The registered plan applies
    the ``_LSH_BUCKET_CAP`` hot-bucket cap (mirrored in the oracle's
    HAVING) so the plan with the green driver row is the one you'd
    run on a skewed 100 TB corpus.
    """
    return minhash_candidate_pairs(minhash_wide(spark, sf_dir))


@register(
    "dedup_keep_one",
    oracle=f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY {sql_md5_long(_SQL_NORM)}
               ORDER BY doc_id
             ) AS rn
      FROM documents
    ) t WHERE rn = 1
    """,
)
def dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-one-row-per-duplicate-group pattern: window
    row_number over the normalized fingerprint, keep the smallest
    doc_id — the projection-preserving form of dedup (vs
    dedup_exact's aggregate form). One shuffle on the 8-byte
    fingerprint at any scale. Not widened — see dedup_exact (the
    window's exchange already redistributes; measured 2× slower
    with the extra payload exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(md5_long(norm_text_col())).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@register(
    "dedup_minhash_estimate",
    oracle=f"""
    WITH sig AS ({_sql_minhash_sig()}),
    cand AS (SELECT doc_a, doc_b FROM {_SQL_MINHASH_CAND} c),
    agree AS (
      SELECT c.doc_a, c.doc_b,
             COUNT(*) FILTER (WHERE sa.h = sb.h) AS n_agree
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(n_agree AS DOUBLE) / {_MINHASH_K}, 6) AS est_jaccard
    FROM agree
    """,
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard estimation from signature agreement: for every LSH
    candidate pair, est_J = (#agreeing minhash positions)/K — the
    sketch-side similarity used to rank/filter candidates without
    touching the documents again (at 100 TB the signatures are 12×32
    bytes per doc; the texts never reshuffle)."""
    wide = minhash_wide(spark, sf_dir).transform(
        stage_cut  # reused by candidates AND agreement
    )
    cand = minhash_candidate_pairs(wide)
    agree_expr = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int")
        for i in range(_MINHASH_K)
    )
    return (
        cand.join(wide.alias("a"), cand.doc_a == F.col("a.doc_id"))
        .join(wide.alias("b"), cand.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                agree_expr.cast("double") / _MINHASH_K, 6
            ).alias("est_jaccard"),
        )
    )


# --- SimHash -----------------------------------------------------------------

# 64-bit fingerprint carried as two unsigned 32-bit halves (lo/hi) so
# every intermediate fits a signed BIGINT identically in Spark and
# DuckDB; the canonical signed-64 value is assembled only at the end.
_SQL_SIMHASH_HALVES = f"""
    (WITH tok AS (
      SELECT DISTINCT doc_id, unnest({SQL_TOKS}) AS token FROM documents
    ), th AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h_lo,
             CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT) AS h_hi
      FROM tok
    ), bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (CASE WHEN b < 32 THEN (h_lo >> b)
                                 ELSE (h_hi >> (b - 32)) END) & 1 = 1
                 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bb
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 AND b < 32
                         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS lo,
           CAST(SUM(CASE WHEN s > 0 AND b >= 32
                         THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END)
                AS BIGINT) AS hi
    FROM bits GROUP BY doc_id)
"""

# signed 64-bit value from the two halves (two's complement, no
# overflow in BIGINT: |hi_signed * 2^32| + lo <= 2^63 - 1)
_SQL_SIMHASH64 = (
    "(hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)"
    " * 4294967296 + lo"
)


def simhash_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lo, hi): 64-bit SimHash as two unsigned 32-bit halves.

    Bit b of the fingerprint is the sign of Σ_tokens (±1 from bit b
    of the token's 64-bit md5-prefix hash). The halves keep all
    arithmetic inside signed-BIGINT range on both engines.
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = word_tokens_col()
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("token")
    )
    th = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h_lo"),
        F.conv(F.substring(F.md5("token"), 9, 8), 16, 10)
        .cast("bigint")
        .alias("h_hi"),
    )
    bits_idx = spark.range(64).select(F.col("id").cast("int").alias("b"))
    bits = (
        th.crossJoin(F.broadcast(bits_idx))
        .select(
            "doc_id",
            "b",
            F.expr(
                "CASE WHEN (CASE WHEN b < 32 THEN shiftright(h_lo, b) "
                "ELSE shiftright(h_hi, b - 32) END) & CAST(1 AS BIGINT) = 1 "
                "THEN 1 ELSE -1 END"
            ).alias("contrib"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("contrib").alias("s"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN s > 0 AND b < 32 "
                "THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END"
            )
        )
        .cast("bigint")
        .alias("lo"),
        F.sum(
            F.expr(
                "CASE WHEN s > 0 AND b >= 32 "
                "THEN shiftleft(CAST(1 AS BIGINT), b - 32) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        )
        .cast("bigint")
        .alias("hi"),
    )


@register(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, CAST({_SQL_SIMHASH64} AS BIGINT) AS simhash
    FROM {_SQL_SIMHASH_HALVES} halves
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (distinct-token basis).

    64 bits (vs round-1's 32) is what makes banding usable at scale:
    with 4 bands the band key is 16 bits (65,536 values), so bucket
    occupancy stays sub-linear in corpus size where 8-bit keys (256
    values) guaranteed every bucket grows linearly and pair
    expansion quadratically. Near-dup pairing bands the fingerprint
    (pigeonhole: hamming ≤ 3 ⇒ one of 4 bands equal) — see
    ``dedup_simhash_pairs``.
    """
    return simhash_halves(spark, sf_dir).select(
        "doc_id", F.expr(_SQL_SIMHASH64).cast("bigint").alias("simhash")
    )


# SimHash near-dup cutoff — interpolated into the oracle like every
# other twin-shared threshold so Spark and DuckDB cannot disagree.
# 4 bands guarantee recall for hamming <= 3 (pigeonhole); <= 6 keeps
# high-but-not-total recall, the standard LSH tradeoff.
_SIMHASH_MAX_HAMMING = 6


def simhash_pairs(
    halves: DataFrame,
    max_hamming: int = _SIMHASH_MAX_HAMMING,
    max_bucket_size: int | None = _LSH_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs from (doc_id, lo, hi) fingerprint halves:
    4 bands × 16-bit keys, equi-join per band, verify hamming.

    ``max_bucket_size`` (default ``_LSH_BUCKET_CAP``) caps hot band
    buckets before pair expansion (same rationale as
    ``minhash_candidate_pairs``); ``None`` disables."""
    bands_idx = (
        halves.sparkSession.range(4)
        .select(F.col("id").cast("int").alias("band"))
    )
    bands = halves.crossJoin(F.broadcast(bands_idx)).select(
        "doc_id",
        "lo",
        "hi",
        "band",
        F.expr(
            "CASE WHEN band < 2 THEN shiftright(lo, band * 16) "
            "ELSE shiftright(hi, (band - 2) * 16) END "
            "& CAST(65535 AS BIGINT)"
        ).alias("bkey"),
    )
    if max_bucket_size is not None:
        bands = _cap_hot_buckets(bands, max_bucket_size)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lo").alias("la"),
            F.col("a.hi").alias("ha"),
            F.col("b.lo").alias("lb"),
            F.col("b.hi").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("la").bitwiseXOR(F.col("lb"))) + F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    )
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH fp AS (SELECT doc_id, lo, hi FROM {_SQL_SIMHASH_HALVES} h),
    bands AS (
      SELECT doc_id, lo, hi, band,
             (CASE WHEN band < 2 THEN (lo >> (band * 16))
                   ELSE (hi >> ((band - 2) * 16)) END) & 65535 AS bkey
      FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band) bb
    ), ok AS (
      SELECT band, bkey FROM bands GROUP BY band, bkey
      HAVING COUNT(*) <= {_LSH_BUCKET_CAP}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
      FROM bands a
      JOIN ok ON a.band = ok.band AND a.bkey = ok.bkey
      JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
                AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
          <= {_SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into 4
    16-bit keys, equi-join on (band, key), verify hamming ≤ 6.

    4 bands *guarantee* recall for hamming ≤ 3 (pigeonhole); ≤ 6
    keeps high-but-not-total recall — the standard LSH tradeoff, and
    the oracle applies the identical candidate rule (including the
    ``_LSH_BUCKET_CAP`` hot-bucket HAVING cap) so results agree.
    The 16-bit band keyspace (65,536 values/band) is what
    survives scale-up: round-1's 8-bit keys put ~n/256 docs in every
    bucket, expanding pairs quadratically with corpus size.
    """
    return simhash_pairs(simhash_halves(spark, sf_dir))


# --- prefix-filtered exact Jaccard (PPJoin-style) ---------------------------

_PJ_THRESHOLD = 0.5


def ranked_prefix(
    darr: DataFrame, freq_cap: int | None = None
) -> DataFrame:
    """Frequency-ordered prefix shingles (r ≤ n//2 + 1, ties on the
    shingle itself) with the per-doc size attached — the candidate
    generator shared by dedup_jaccard_prefix and dedup_containment
    (the two MUST rank identically or their oracles desynchronize).
    ``freq_cap`` additionally drops prefix shingles with global
    frequency above the cap (containment's k²-hazard guard).

    Takes the per-doc DISTINCT shingle arrays
    (:func:`doc_shingle_arrays`): per-doc size is ``size(arr)``
    row-locally (the former sz groupBy + join are gone), so the only
    exchanges left are the global frequency aggregate and the
    ranking window's doc_id partition. The distinct-array input is
    load-bearing — duplicates would inflate freq and sizes and
    occupy multiple prefix ranks, silently breaking the PPJoin
    recall guarantee against the DISTINCT-based oracles."""
    sh = darr.select(
        "doc_id", F.size("arr").alias("n"), F.explode("arr").alias("shingle")
    )
    freq = sh.groupBy("shingle").agg(F.count("*").alias("f"))
    w = Window.partitionBy("doc_id").orderBy("f", "shingle")
    ranked = sh.join(freq, "shingle").withColumn("r", F.row_number().over(w))
    cond = F.col("r") <= F.expr("n div 2") + 1
    if freq_cap is not None:
        cond = cond & (F.col("f") <= freq_cap)
    # r is kept: dedup_jaccard_prefix's positional filter needs each
    # prefix shingle's rank; dedup_containment ignores it
    return ranked.filter(cond).select("doc_id", "shingle", "n", "r")


@register(
    "dedup_jaccard_prefix",
    bench=True,
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    freq AS (SELECT shingle, COUNT(*) AS f FROM sh GROUP BY shingle),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ranked AS (
      SELECT s.doc_id, s.shingle,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY f, s.shingle) AS r
      FROM sh s JOIN freq USING (shingle)
    ),
    prefix AS (
      SELECT r.doc_id, r.shingle
      FROM ranked r JOIN sz USING (doc_id)
      WHERE r.r <= sz.n // 2 + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
                 / (sa.n + sb.n - n_common) AS jaccard
    FROM common
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
          >= {_PJ_THRESHOLD}
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.5 pairs with PPJoin-style prefix filtering —
    the scale path for exact set-similarity joins.

    ``dedup_ngram_jaccard`` joins on EVERY shared shingle, so a stop
    shingle shared by k documents alone contributes k²/2 join rows.
    Prefix filtering orders each document's shingles by ascending
    global frequency (tie-break: the shingle itself — a total order
    both engines agree on) and generates candidates only from each
    document's first ⌊n/2⌋+1 shingles: any pair with J ≥ t must
    share a prefix element (prefix length n − ⌈t·n⌉ + 1, here
    integer-exact as n//2 + 1), so recall is provably 100% while
    frequent shingles — precisely the quadratic ones — drop out of
    candidate generation unless they are rare enough to sit in a
    prefix. Verification then counts common shingles only for
    candidate pairs. The per-doc ranking window partitions by doc_id
    (no global sort); tests pin prefix-vs-full equality on the real
    corpus.

    The per-doc array table feeds THREE consumers (frequency/ranking,
    verification side A, verification side B) — materialize it once
    (one row per document, the family's smallest possible reusable
    intermediate; the round-14 code checkpointed the EXPLODED
    shingle table instead and re-shuffled it per consumer).
    """
    darr = doc_shingle_arrays(spark, sf_dir).transform(stage_cut)
    prefix = ranked_prefix(darr)
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # PPJoin length filter, lossless at t=0.5: J >= t forces
            # min(n_a,n_b) >= t*max(n_a,n_b), so size-incompatible
            # pairs can never verify — drop them BEFORE the distinct
            # and the verification join (measured −24% candidates,
            # −20-30% wall at sf0.1, byte-identical output).
            & (F.col("b.n") * 2 >= F.col("a.n"))
            & (F.col("a.n") * 2 >= F.col("b.n"))
            # PPJoin POSITIONAL filter (round 15), lossless at t=0.5:
            # a colliding prefix shingle at ranks (r_a, r_b) bounds
            # the overlap by 1 + min(n_a - r_a, n_b - r_b), and
            # J >= t needs overlap >= ceil((n_a+n_b)/3); both sides
            # rank in the SAME global (f, shingle) order, so a true
            # pair's FIRST common prefix shingle has the minimal
            # ranks on both sides and always passes — the integer
            # form below is exact (no division). Measured −28% wall
            # at sf0.1 (4.28 -> 3.08 s), output exceptAll-identical
            # at sf0.01 and sf0.1.
            & (
                F.col("a.n") + F.col("b.n")
                <= 3
                + 3
                * F.least(
                    F.col("a.n") - F.col("a.r"),
                    F.col("b.n") - F.col("b.r"),
                )
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    j = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    # RAW double, no round: the ratio of identically-computed
    # integers is bit-identical on both engines, while round(x, 6)
    # breaks on non-dyadic 7-decimal midpoints (e.g. 321/640 —
    # Spark HALF_UP on the shortest repr vs DuckDB on the binary
    # value), the confirmed-live class the round-7 raw-double rework
    # removed.
    return (
        _verified_common(cand, darr)
        .filter(j >= _PJ_THRESHOLD)
        .select("doc_a", "doc_b", j.alias("jaccard"))
    )


# --- asymmetric containment (doc-inside-doc detection) ----------------------

_CT_THRESHOLD = 0.8
_CT_FREQ_CAP = 1000  # prefix shingles with global freq above this are skipped


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    freq AS (SELECT shingle, COUNT(*) AS f FROM sh GROUP BY shingle),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ranked AS (
      SELECT s.doc_id, s.shingle, f,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY f, s.shingle) AS r
      FROM sh s JOIN freq USING (shingle)),
    prefix AS (
      SELECT r.doc_id, r.shingle
      FROM ranked r JOIN sz USING (doc_id)
      WHERE r.r <= sz.n // 2 + 1 AND r.f <= {_CT_FREQ_CAP}),
    cand AS (
      SELECT DISTINCT least(p.doc_id, s.doc_id) AS doc_a,
             greatest(p.doc_id, s.doc_id) AS doc_b
      FROM prefix p JOIN sh s ON p.shingle = s.shingle
      WHERE p.doc_id <> s.doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / sa.n AS c_a_in_b,
           CAST(n_common AS DOUBLE) / sb.n AS c_b_in_a
    FROM common
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / sa.n >= {_CT_THRESHOLD}
       OR CAST(n_common AS DOUBLE) / sb.n >= {_CT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment C(A,B) = |A∩B|/|A| ≥
    0.8 in either direction — catches a short document embedded in a
    long one (quotes, boilerplate wrappers, chunked re-posts), which
    symmetric Jaccard structurally misses (a 10-shingle doc inside a
    1000-shingle doc has J ≈ 0.01).

    Candidate generation: containment ≥ t guarantees any
    (1−t)·|A|+1-element prefix of A (in ANY global order) intersects
    B's FULL shingle set — our Jaccard prefix (n//2+1 ≥ 0.2n+1 at
    t=0.8) over-covers, so recall is complete EXCEPT where the
    frequency cap bites: prefix shingles with global frequency >
    1000 are skipped (the k²-hazard guard, same policy as the LSH
    bucket cap, mirrored in the oracle so both engines agree
    exactly). The probe joins doc prefixes against the full shingle
    table — compact keys, hash-distributed, AQE-splittable — then
    exact intersection counts verify only the candidates.
    """
    darr = doc_shingle_arrays(spark, sf_dir).transform(stage_cut)
    prefix = ranked_prefix(darr, freq_cap=_CT_FREQ_CAP)
    p = prefix.alias("p")
    # full shingle probe side: row-local explode of the checkpointed
    # arrays — recomputing it per consumer is a cheap narrow op now
    s = darr.select("doc_id", F.explode("arr").alias("shingle")).alias("s")
    # one probe pass: least/greatest normalizes the unordered pair —
    # the previous two filtered branches unioned the SAME join twice
    # (exchange reuse saves the shuffle write, not the join compute)
    cand = (
        p.join(s, F.col("p.shingle") == F.col("s.shingle"))
        .filter(F.col("p.doc_id") != F.col("s.doc_id"))
        .select(
            F.least(F.col("p.doc_id"), F.col("s.doc_id")).alias("doc_a"),
            F.greatest(F.col("p.doc_id"), F.col("s.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    ca = F.col("n_common").cast("double") / F.col("n_a")
    cb = F.col("n_common").cast("double") / F.col("n_b")
    # RAW doubles, no round — see dedup_jaccard_prefix
    return (
        _verified_common(cand, darr)
        .filter((ca >= _CT_THRESHOLD) | (cb >= _CT_THRESHOLD))
        .select(
            "doc_a",
            "doc_b",
            ca.alias("c_a_in_b"),
            cb.alias("c_b_in_a"),
        )
    )
