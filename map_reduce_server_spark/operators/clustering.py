"""Near-duplicate clustering: connected components over the
MinHash-LSH candidate graph.

The canonical last stage of corpus dedup: LSH yields candidate
*pairs*; keeping one representative per duplicate *group* needs the
transitive closure. Implemented as iterative min-label propagation —
each iteration is one shuffle-join (label ← min(label of self and
neighbors)), repeated until a fixpoint. The driver loop only checks
a converged-count per iteration (a scalar), never data; at 100 TB
each iteration is a plain distributed join, and the iteration count
is O(graph diameter), which for near-dup graphs is tiny.

Although the fixpoint is iterative, it IS value-checked, not just
rows-counted: ``dedup_cluster`` registers a recursive-CTE DuckDB
oracle computing the same min-label components, and unit tests on
hand-built graphs pin exactness besides (tests/test_clustering.py).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.exact import qsum40, sql_qsum40
from map_reduce_server_spark.io.tempdirs import cleanup_at_exit
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.stagecut import stage_cut
from map_reduce_server_spark.tables import load_table


# Iterative-join broadcast gate (round 15, guide §3.1 / §2.4): the
# per-iteration joins of pagerank and connected_components pair an
# EDGE-sized side against a NODE-sized side (ranks / labels / their
# derivatives). Below this node count the node-sized side is
# broadcast-hinted, so the edge-sized side — the dominant bytes —
# never shuffles inside the loop; above it the hint is withheld and
# the planner/AQE falls back to shuffle joins (clusters additionally
# have pagerank's bucketed_adjacency mode). 2M rows of (long, double)
# ≈ 32 MB payload per broadcast — comfortably under the 8 GB/512M-row
# broadcast cap and the sort of size §3.1 calls "usually fine", while
# a 100 TB graph (billions of nodes) stays on the shuffle path. Same
# size-gating pattern as _BFS_BROADCAST_MAX_FRONTIER; the scalar
# node count is read from an already-materialized stage-cut, so the
# gate costs no extra computation.
_ITER_BROADCAST_MAX_NODES = 2_000_000

# CC-specific gate (round 16, ADVICE r15): connected_components
# broadcast-hints THREE node-sized frames per iteration (labels,
# propagated, jump) for up to max_iter=50 rounds, vs pagerank's two —
# near the shared 2M gate that is ~150 broadcasts of ~32 MB hashed
# relations whose release waits on ContextCleaner GC. Two-thirds of
# the shared gate keeps the same per-iteration broadcast byte budget
# as pagerank; larger graphs take the shuffle path (and long-iteration
# deployments the bucketed-adjacency pattern) instead of betting on
# timely broadcast cleanup.
_CC_BROADCAST_MAX_NODES = (_ITER_BROADCAST_MAX_NODES * 2) // 3


def connected_components(
    edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components of an undirected graph.

    ``edges``: DataFrame[src: long, dst: long]. Returns
    DataFrame[node: long, component: long] where component is the
    smallest node id in the node's component.

    Convergence: each iteration combines neighbor-min propagation
    with a pointer-jumping step (label ← label(label)), so label
    distances roughly HALVE per round — O(log diameter) iterations
    instead of O(diameter) for plain propagation (a diameter-10⁶
    chain converges in ~20 rounds). Non-convergence within
    ``max_iter`` RAISES instead of silently returning wrong labels.
    """
    # Materialize the edge list ONCE before fanning out: nodes, adj,
    # and labels all derive from it, and without this checkpoint each
    # derivation re-evaluates the (potentially expensive) upstream
    # candidate-pair pipeline — measured as ~2× the whole LSH stage
    # inside dedup_cluster at sf0.1.
    edges = edges.select("src", "dst").transform(stage_cut)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Undirected adjacency (both directions + self-loop keeps isolated
    # correctness trivially and simplifies the min computation). NOT
    # deduplicated: min-propagation is idempotent to repeated
    # neighbors, and distinct() would shuffle the largest CC
    # intermediate once more for zero semantic effect.
    adj = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(nodes.select(F.col("node").alias("src"), F.col("node").alias("dst")))
    )
    # stage_cut each iteration: truncates the lineage so the
    # logical plan stays O(1) deep instead of O(iterations) — without
    # it Catalyst re-analyzes an exponentially growing tree. (See
    # stagecut.py for the local-vs-reliable checkpoint policy.)
    adj = adj.transform(stage_cut)
    # Seed labels with one propagation for free: min over neighbors
    # (self-loop included) IS iteration 1's pre-jump candidate, and
    # this aggregate costs the same single shuffle the identity init
    # would — one fewer loop round on every graph.
    labels = adj.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("component")
    ).transform(stage_cut)
    # Scalar count over the eagerly-cut labels (local blocks, no
    # recomputation) decides the loop's join strategy once: under the
    # gate every node-sized side is broadcast-hinted so the edge-sized
    # adjacency never re-shuffles per iteration.
    small = labels.count() <= _CC_BROADCAST_MAX_NODES

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    for _ in range(max_iter):
        # candidate label for each node: min over neighbors' labels
        # (self-loop includes the node's own label)
        lab = _hint(labels)
        propagated = (
            adj.join(lab, adj.dst == lab.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("cand"))
        )
        # pointer jump: follow the candidate label one more hop —
        # labels form a forest rooted at component minima, so
        # label(label(u)) ≤ label(u) and chains compress geometrically.
        jump = labels.select(
            F.col("node").alias("cand"), F.col("component").alias("cand_comp")
        )
        updated = (
            labels.join(_hint(propagated), "node")
            .join(_hint(jump), "cand")
            .select(
                "node",
                F.least("component", "cand", "cand_comp").alias("component"),
                (
                    F.least("cand", "cand_comp") < F.col("component")
                ).alias("changed"),
            )
            .transform(stage_cut)
        )
        changed = updated.filter("changed").limit(1).count()
        labels = updated.select("node", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations; "
        "the label forest is still contracting — raise max_iter "
        "(convergence needs ~log2(graph diameter) iterations)"
    )


def sql_closure_oracle(
    pairs_sql: str,
    a_col: str,
    b_col: str,
    entity_table: str,
    id_col: str,
) -> str:
    """Recursive-CTE replay of ``connected_components`` + min-label +
    singleton coalesce — ONE SQL template shared by ``dedup_cluster``
    (MinHash pairs over documents) and similarity's
    ``dedup_semantic_cluster`` (cosine pairs over embeddings), so a
    change to the closure semantics cannot desynchronize the two
    gates."""
    return f"""
    WITH RECURSIVE
    pairs AS (SELECT {a_col}, {b_col} FROM {pairs_sql} p),
    edges AS (
      SELECT {a_col} AS src, {b_col} AS dst FROM pairs
      UNION SELECT {b_col}, {a_col} FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    comp AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a
    )
    SELECT d.{id_col},
           CAST(COALESCE(c.component, d.{id_col}) AS BIGINT) AS cluster_id
    FROM {entity_table} d LEFT JOIN comp c ON d.{id_col} = c.node
    """


def label_components(
    pairs: DataFrame,
    entities: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Connected components over (a_col, b_col) pairs with every
    entity labeled by its component's smallest id (singletons label
    themselves) — the Spark twin of :func:`sql_closure_oracle`."""
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    comp = connected_components(edges)
    return entities.join(
        comp, entities[id_col] == comp.node, "left"
    ).select(
        id_col,
        F.coalesce("component", id_col).alias("cluster_id"),
    )


def _sql_dedup_cluster_oracle() -> str:
    from map_reduce_server_spark.operators.dedup import _SQL_MINHASH_CAND

    return sql_closure_oracle(
        _SQL_MINHASH_CAND, "doc_a", "doc_b", "documents", "doc_id"
    )


@register("dedup_cluster", oracle=_sql_dedup_cluster_oracle(), bench=True)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups: connected components over MinHash-LSH
    candidate pairs; every document labeled with its group's smallest
    doc_id (documents with no near-dup candidate form singletons).

    The oracle replays the fixpoint as a DuckDB recursive CTE
    (transitive closure + min label), so even this iterative
    algorithm is value-checked, not just rows-counted.
    """
    from map_reduce_server_spark.operators.dedup import dedup_minhash_lsh

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return label_components(
        dedup_minhash_lsh(spark, sf_dir), docs, "doc_id", "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# PageRank (fixed-iteration, exact-decimal contribution sums)
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_DAMPING = 0.85
_PR_BUCKETS = 32  # bucket count for bucketed_adjacency mode
# Parity node encoding: customer k -> 2k, supplier k -> 2k+1. The two
# key spaces are disjoint at ANY scale factor — a fixed additive
# offset (the previous scheme) silently collides once custkeys grow
# past it (TPC-H custkeys reach 150k×SF), fusing customer and
# supplier nodes in a way a same-offset oracle cannot detect.


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected customer↔supplier edges from the order
    flow (orders⋈lineitem), suppliers offset into their own id range."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        # materialize BEFORE symmetrizing: both union branches read
        # pairs, and while ReuseExchange dedups the shuffle below the
        # distinct, the post-shuffle aggregate + projection would
        # still run twice over the full pair set (same rationale as
        # pagerank's own edge checkpoint)
        .transform(stage_cut)
    )
    return pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = _PR_ITERS,
    damping: float = _PR_DAMPING,
    bucketed_adjacency: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list (src, dst).

    Input contract: ``edges`` is SYMMETRIZED (every (u,v) has (v,u)),
    so every node has BOTH out-degree ≥ 1 (no dangling-mass term)
    and in-degree ≥ 1 (the per-iteration contribution aggregate's
    node domain is the full node set — the loop relies on this to
    skip a node-list join per iteration). The only caller
    (``graph_pagerank``) symmetrizes in ``_trade_edges``. Per iteration:
    ``r(v) ← (1−d)/N + d·Σ_{u→v} r(u)/deg(u)``. The contribution sum
    is a tie-free exact integer aggregate at 2^-40 quantization
    (``qsum40``) — order-independent, so the result is bit-stable
    across partitionings AND bit-identical to the SQL oracle replay
    (the former decimal(38,18) bridge disagreed between engines in
    both cast directions); per-contribution double arithmetic
    (division, damping) is identical on identical inputs. Fixed
    iteration count (not a convergence test) keeps the computation a
    finite, oracle-expressible unrolled recurrence.

    Scale: each iteration is one join plus one aggregate, all on
    compact (id, double) columns. The per-iteration lineage cut
    (``stage_cut``) is load-bearing — lazily composed
    iterations share attribute ids between ``adj`` and the
    ``adj``-derived ranks, and Spark silently misresolves that
    self-join — but a checkpointed scan advertises
    ``UnknownPartitioning``, so the checkpointed sides are
    re-shuffled every iteration (measured; see SCALING.md). A/B at
    sf0.1 (warm session, alternating runs): the default wins
    DECISIVELY at every measured iteration count — 4.2 s vs 9.1 s at
    iters=3 and 11.9 s vs ~30 s at iters=12 — because on a single
    node the bucketed table is re-READ from disk each iteration
    while the checkpoint re-shuffles from memory. The
    ``bucketed_adjacency=True`` path (adjacency written ONCE
    bucketed by src; every iteration's join derives its partitioning
    from the bucketed scan — zero exchange over the dominant side,
    verified by
    ``tests/test_plans.py::test_pagerank_bucketed_adjacency_no_shuffle``)
    is therefore NOT the local default; it is the multi-executor
    cluster pattern, where "re-shuffle" means moving the dominant
    side across the network every iteration and a co-located
    bucketed scan reads node-local files instead.
    The last iteration is returned un-checkpointed: callers aggregate
    or collect it anyway, and the final plan stays inspectable.
    """
    # Materialize the edge list once: deg, the rank init, and the
    # adjacency build below all derive from it, and without this the
    # (possibly join-produced) edge subtree re-evaluates three times.
    edges = edges.transform(stage_cut)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    ).transform(stage_cut)
    # Node count materializes ONCE as a checkpointed 1-row table:
    # the rank init and every iteration's broadcast teleport base
    # derive from it, and without this each of the iters broadcasts
    # would lazily re-run the COUNT over the node-sized deg table.
    n1 = deg.agg(F.count("*").alias("n_nodes")).transform(stage_cut)
    # One scalar read off the materialized 1-row count picks the
    # loop's join strategy: under the gate the node-sized sides
    # (ranks, per-iteration in-mass) are broadcast-hinted so the
    # edge-sized adjacency never shuffles inside the loop — see
    # _ITER_BROADCAST_MAX_NODES.
    small = n1.first()["n_nodes"] <= _ITER_BROADCAST_MAX_NODES

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    basedf = n1.select(
        (
            (F.lit(1.0) - F.lit(damping)) / F.col("n_nodes").cast("double")
        ).alias("base")
    )
    # NOT stage-cut (round 16): the init ranks derive from the
    # already-cut deg by one narrow projection and are consumed once
    # (iteration 0's broadcast build side) — the former cut spent a
    # whole materialization job to save recomputing a projection.
    ranks = deg.crossJoin(F.broadcast(n1)).select(
        "node",
        (F.lit(1.0) / F.col("n_nodes").cast("double")).alias("rank"),
    )
    adj = edges.join(_hint(deg.withColumnRenamed("node", "src")), "src")
    if bucketed_adjacency:
        # Write-once bucketed adjacency: the iteration join's
        # partitioning comes from the bucketed scan, so the dominant
        # side never re-shuffles. Worth it when iters is large; the
        # default checkpointed path wins at iters=3 (the one-time
        # write costs more than three shuffles of the same bytes).
        spark = edges.sparkSession
        tmp = tempfile.mkdtemp(prefix="mrss_pr_adj_")
        tname = f"pr_adj_{uuid.uuid4().hex[:8]}"
        (
            adj.write.bucketBy(_PR_BUCKETS, "src")
            .sortBy("src")
            .option("path", os.path.join(tmp, "t"))
            .mode("overwrite")
            .saveAsTable(tname)
        )
        # The table entry lives for the session (the returned plan
        # still reads it); backing files are removed at exit.
        cleanup_at_exit(tmp)
        adj = spark.table(tname)
    else:
        adj = adj.transform(stage_cut)
    for i in range(iters):
        rk = _hint(ranks)
        contrib = (
            adj.join(rk, adj.src == rk.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            # Tie-free engine-exact mass sum: the former
            # decimal(38,18) bridge disagreed between engines in BOTH
            # cast directions (Spark rounds the shortest decimal repr
            # HALF_UP where DuckDB rounds the binary value, and
            # DuckDB double-rounds unscaled mantissas > 2^53 back to
            # double) — hundreds of 1e-18 discrepancies per run that
            # only the final ROUND(rank, 12) hid. floor(c * 2^40)
            # integer sums are exact at every step on both engines;
            # normalized ranks keep every contribution <= 1, so the
            # scaled sums stay far below 2^53.
            .agg(qsum40(F.col("c")).alias("in_mass"))
        )
        # contrib's node domain IS the full node set: the edge list
        # is symmetrized (docstring contract), so every node appears
        # as a dst and receives in-mass every iteration. The former
        # shape re-joined a node list onto contrib per iteration —
        # one broadcast join × iters re-deriving a domain the
        # aggregate already has (round 16; −17% wall at sf0.1,
        # identical output, and one fewer node-sized join per
        # iteration at any scale).
        nxt = contrib.crossJoin(F.broadcast(basedf)).select(
            "node",
            (
                F.col("base")
                + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))
            ).alias("rank"),
        )
        # Cut lineage between iterations (self-join safety + O(1)
        # plan depth) — but return the last one lazy: callers
        # consume it exactly once and its plan stays inspectable.
        ranks = nxt.transform(stage_cut) if i < iters - 1 else nxt
    return ranks


def _sql_pagerank_oracle() -> str:
    """The same recurrence unrolled as CTEs (DuckDB has no loops).

    The teleport base subtracts in DOUBLE — ``CAST(1.0 AS DOUBLE) -
    0.85`` — because DuckDB evaluates the bare ``(1.0 - 0.85)`` as an
    exact DECIMAL (→ double 0.1499999999999999944) while Spark folds
    ``lit(1.0) - lit(damping)`` in double (→ 0.15000000000000002):
    one last-bit divergence feeding every iteration of a repr-exact
    comparison contract.
    """
    edges = f"""
      (WITH p AS (SELECT DISTINCT o_custkey * 2 AS src,
                         l_suppkey * 2 + 1 AS dst
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       SELECT src, dst FROM p
       UNION ALL SELECT dst, src FROM p)
    """
    sql = f"""
    WITH edges AS ({edges}),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS n_nodes FROM deg),
    r0 AS (SELECT node, 1.0 / (SELECT CAST(n_nodes AS DOUBLE) FROM n)
                    AS rank FROM deg)
    """
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        sql += f"""
        , r{i} AS (
          SELECT d.node,
                 (CAST(1.0 AS DOUBLE) - {_PR_DAMPING})
                   / (SELECT CAST(n_nodes AS DOUBLE) FROM n)
                 + {_PR_DAMPING} * COALESCE(m.in_mass, 0.0) AS rank
          FROM deg d LEFT JOIN (
            SELECT e.dst AS node,
                   {sql_qsum40('r.rank / d2.deg')} AS in_mass
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN deg d2 ON e.src = d2.node
            GROUP BY e.dst
          ) m ON d.node = m.node)
        """
        prev = f"r{i}"
    sql += f"""
    SELECT node, rank FROM {prev}
    """
    return sql


@register("graph_pagerank", oracle=_sql_pagerank_oracle(), bench=True)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier trade graph — the second
    iterative-algorithm pattern (after connected components): a
    driver loop of pure DataFrame joins with lineage truncation,
    deterministic by tie-free exact integer mass sums, and
    value-checked against the oracle's unrolled recurrence. Ranks
    emit RAW: with in_mass engine-exact the whole recurrence is
    bit-identical, and a round(double, 12) would re-introduce the
    midpoint tie class the qsum40 rework just removed."""
    ranks = pagerank(_trade_edges(spark, sf_dir))
    return ranks.select("node", "rank")


# ---------------------------------------------------------------------------
# Triangle counting over the frequent co-purchase graph
# ---------------------------------------------------------------------------

_TRI_MINSUP = 2  # a pair must co-occur in >= this many orders


def _copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    minsup: int = _TRI_MINSUP,
    keep_support: bool = False,
    li: DataFrame | None = None,
    max_cart_size: int | None = None,
) -> DataFrame:
    """Thresholded ordered co-purchase edge list (u < v, support ≥
    ``minsup`` orders); pass ``keep_support`` for consumers that need
    the pair count (q_market_basket), and ``li`` to share an
    already-deduped (l_orderkey, l_partkey) projection.

    ``max_cart_size`` (round 16, ADVICE r15): orders whose DISTINCT
    part set exceeds the cap are dropped BEFORE the k²/2 pair
    expansion — the same enforceable-policy pattern as the LSH
    ``_LSH_BUCKET_CAP``. TPC-H carts hold ≤ 7 line items so the
    registered queries pass ``None`` (no behavior change and the
    oracles need no HAVING twin), but a reuse on a corpus with
    unbounded carts has a real single-task OOM hazard (the collect_set
    buffer grows O(cart) and the expanded pair array O(cart²)) and
    MUST set a cap — previously the policy was documented but not
    implementable without editing the operator.

    Pair generation (round 15) collects each order's DISTINCT part
    set into a sorted array and expands the ordered (u < v) pairs
    row-locally with nested array transforms — one shuffle on
    l_orderkey (map-side partial collect_set) plus the (u, v) count
    shuffle. The former shape was a distinct + equi-self-join: three
    corpus-sized exchanges and a sort-merge join whose per-order
    output is identical to the array expansion (an equi-join on
    l_orderkey puts the whole order in one task either way, so the
    k²/2 quadratic hazard is unchanged and still bounded by the cart
    size — TPC-H orders cap at 7 line items; a corpus with unbounded
    carts needs a per-order cap, same policy as the LSH bucket cap).
    collect_set absorbs duplicate (order, part) rows, so each order
    contributes a pair at most once and support stays a plain
    COUNT(*). Equivalence vs the join form is exceptAll-pinned in
    tests/test_clustering.py.
    """
    if li is None:
        # no pre-distinct needed: collect_set dedups within the one
        # shuffle the groupBy already pays
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
    ps = F.sort_array(F.collect_set("l_partkey"))
    per_order = li.groupBy("l_orderkey").agg(ps.alias("ps"))
    if max_cart_size is not None:
        per_order = per_order.filter(F.size("ps") <= max_cart_size)
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    pairs = (
        per_order.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= minsup)
    )
    return pairs if keep_support else pairs.select("u", "v")


@register(
    "q_copurchase_triangles",
    bench=True,
    oracle=f"""
    WITH e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_MINSUP}),
    wedges AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM e e1 JOIN e e2 ON e1.v = e2.u),
    tris AS (
      SELECT wedges.u, wedges.v, wedges.w
      FROM wedges JOIN e e3 ON wedges.u = e3.u AND wedges.w = e3.v)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tris) AS n_triangles
    """,
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting — the classic MapReduce-era graph algorithm —
    over the frequent co-purchase graph (part pairs sharing >= 2
    orders). Ordered adjacency (u < v everywhere) means each triangle
    is generated exactly once as u < v < w: one wedge join on the
    middle vertex, one closing equi-join — never an all-pairs
    product.

    Scale: the support threshold IS the degree bound (frequent-pair
    graphs are orders of magnitude sparser than raw co-occurrence);
    the production refinement is degree-ordered adjacency (orient
    edges low-degree -> high-degree) which bounds the wedge join by
    arboricity — noted here, unnecessary at the thresholded density.
    Note ``n_wedges`` counts ORDERED (u<v<w) wedges — the join's
    unit of work — not all 2-paths: a lone triangle has n_wedges=1
    but three 2-paths, so 3*tri/n_wedges is NOT the global
    clustering coefficient (that denominator is Σ_v C(deg_v, 2),
    available from ``graph_degree_stats``).
    """
    e = _copurchase_edges(spark, sf_dir).transform(stage_cut)
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("u"),
        F.col("e1.v").alias("v"),
        F.col("e2.v").alias("w"),
    )
    e3 = e.alias("e3")
    wg = wedges.alias("wg")
    # ONE pass over the wedge join for both counts: the closing LEFT
    # join preserves wedge multiplicity (edges are distinct (u,v)
    # rows), so count(*) is the wedge count and count(matched) the
    # triangle count — the previous two-branch form evaluated the
    # quadratic-in-degree wedge join twice.
    closed = wg.join(
        e3,
        (F.col("wg.u") == F.col("e3.u")) & (F.col("wg.w") == F.col("e3.v")),
        "left",
    )
    return (
        closed.agg(
            F.count("*").alias("n_wedges"),
            F.count(F.col("e3.u")).alias("n_triangles"),
        )
        .join(F.broadcast(e.agg(F.count("*").alias("n_edges"))))
        .select(
            F.col("n_edges").cast("bigint"),
            F.col("n_wedges").cast("bigint"),
            F.col("n_triangles").cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket association rules over co-purchase pairs
# ---------------------------------------------------------------------------

_MB_MINSUP = 3  # pair must co-occur in >= this many orders


@register(
    "q_market_basket",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS DOUBLE) AS n_orders FROM li),
    isup AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS sup
             FROM li GROUP BY p),
    pairs AS (
      SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS sup_uv
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= {_MB_MINSUP}),
    rules AS (
      SELECT u, v, sup_uv,
             round(CAST(sup_uv AS DOUBLE) / su.sup, 6) AS conf_u_v,
             round(CAST(sup_uv AS DOUBLE) / sv.sup, 6) AS conf_v_u,
             round(n_orders * sup_uv / (su.sup * sv.sup), 6) AS lift
      FROM pairs
      JOIN isup su ON u = su.p
      JOIN isup sv ON v = sv.p
      CROSS JOIN n)
    SELECT u, v, sup_uv, conf_u_v, conf_v_u, lift FROM rules
    """,
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the co-purchase graph: support,
    bidirectional confidence and lift for every part pair sharing
    at least _MB_MINSUP orders — the classic MapReduce-era
    frequent-itemset workload at pair granularity.

    Scale shape: the distinct (order, part) projection is the only
    corpus-sized shuffle; pair generation is the SAME support-
    thresholded ordered self-join as q_copurchase_triangles (the
    threshold bounds the quadratic hazard); item supports are a
    per-part aggregate joined back onto the (already tiny) rule set,
    and the order count folds in as a broadcast 1-row aggregate.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .transform(stage_cut)
    )
    n = li.agg(
        F.count_distinct("l_orderkey").cast("double").alias("n_orders")
    )
    isup = li.groupBy("l_partkey").agg(F.count("*").alias("sup"))
    pairs = _copurchase_edges(
        spark, sf_dir, minsup=_MB_MINSUP, keep_support=True, li=li
    ).withColumnRenamed("sup", "sup_uv")
    su = isup.select(
        F.col("l_partkey").alias("u"), F.col("sup").alias("sup_u")
    )
    sv = isup.select(
        F.col("l_partkey").alias("v"), F.col("sup").alias("sup_v")
    )
    return (
        pairs.join(su, "u")
        .join(sv, "v")
        .crossJoin(F.broadcast(n))
        .select(
            "u",
            "v",
            "sup_uv",
            F.round(F.col("sup_uv").cast("double") / F.col("sup_u"), 6).alias(
                "conf_u_v"
            ),
            F.round(F.col("sup_uv").cast("double") / F.col("sup_v"), 6).alias(
                "conf_v_u"
            ),
            F.round(
                F.col("n_orders")
                * F.col("sup_uv")
                / (F.col("sup_u") * F.col("sup_v")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "graph_degree_stats",
    oracle=f"""
    WITH e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_MINSUP}),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e) d
      GROUP BY node)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the frequent co-purchase graph — the
    first diagnostic run on any large graph (degree skew is what
    decides between plain wedge joins and degree-ordered orientation
    for q_copurchase_triangles; this op measures exactly that).

    Scale: edges are already the thresholded compact pair list;
    degree = one union-all + count keyed by node, histogram = a
    second count keyed by degree (a key space of at most a few
    hundred values). No row of lineitem survives past the first
    aggregation.
    """
    # two consumers (u- and v-branch of the union): materialize once,
    # same rationale as the triangles call site
    e = _copurchase_edges(spark, sf_dir).transform(stage_cut)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# BFS shortest hops over the co-purchase graph (round-14 queue)
# ---------------------------------------------------------------------------

_BFS_MAX_HOPS = 4

# Oracle for graph_bfs_hops below: DuckDB's native
# recursive CTE (UNION, not UNION ALL — the recursion dedupes
# (node, hops) states so bounded-depth path explosion cannot occur),
# minimized per node. Spark has no recursive CTE; the engine side is
# the iterative frontier expansion instead — the THIRD iterative-
# algorithm pattern after connected components and pagerank, and the
# first with an exact recursive-SQL oracle.
_BFS_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_MINSUP}),
ed AS (SELECT u AS src, v AS dst FROM e
       UNION ALL SELECT v AS src, u AS dst FROM e),
seed AS (SELECT MIN(src) AS s FROM ed),
walk(node, hops) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT ed.dst, w.hops + 1 FROM walk w JOIN ed ON ed.src = w.node
  WHERE w.hops < {_BFS_MAX_HOPS}
)
SELECT node AS part_id, CAST(MIN(hops) AS INTEGER) AS hops
FROM walk GROUP BY node
"""


@register("graph_bfs_hops", oracle=_BFS_ORACLE)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS: minimum hop count from the smallest part in
    the thresholded co-purchase graph to every part reachable within
    ``_BFS_MAX_HOPS`` hops — the bounded-depth transitive-closure /
    shortest-path primitive (recommendation radius, blast-radius
    analysis) that SQL engines express as a recursive CTE and Spark
    cannot: the engine side is the iterative frontier expansion every
    distributed BFS uses (Pregel's canonical example).

    Scale shape: the visited set only ever GROWS and each iteration
    joins the (small) frontier against the edge list — one
    broadcast-able join + anti-join per hop, never a path
    enumeration, so work per hop is O(frontier-degree sum) and state
    is O(visited), immune to the path-count explosion a naive
    closure would hit. Edges are stage-cut once (every iteration
    reuses the materialized list; without the cut each hop would
    re-expand the corpus-wide pair self-join), and each hop's
    frontier/visited are cut so plan depth stays O(1) — the exact
    lineage discipline of :func:`pagerank` and connected components.
    The seed is a broadcast 1-row aggregate, never a driver
    collect.
    """
    e = _copurchase_edges(spark, sf_dir)
    return bfs_hops(e, _BFS_MAX_HOPS).select(
        F.col("node").alias("part_id"), "hops"
    )


# Frontier rows above which bfs_hops stops FORCING a broadcast of the
# frontier⋈edges join and lets AQE pick the strategy from runtime
# sizes. On a small-world graph the frontier approaches |V| within a
# few hops — an unconditional broadcast hint there ships an O(|V|)
# table to every executor and OOMs at 100× scale. 500k ids ≈ a few MB
# broadcast, comfortably under any executor's memory.
_BFS_BROADCAST_MAX_FRONTIER = 500_000


def bfs_hops(edges: DataFrame, max_hops: int) -> DataFrame:
    """Single-source BFS over an UNDIRECTED (u, v) edge list: minimum
    hop count from min(u) to every node within ``max_hops`` — the
    reusable iterative core of :func:`graph_bfs_hops` (see there for
    the scale analysis; the fuzz in test_differential_fuzz.py sweeps
    this against per-draw recursive-CTE oracles). Returns
    (node, hops int).

    Broadcast discipline: the frontier⋈edges join is broadcast ONLY
    while the frontier is small (``_BFS_BROADCAST_MAX_FRONTIER``).
    On hub-and-spoke / small-world graphs the frontier can approach
    |V| within 2-3 hops, and a forced broadcast of an O(|V|) frontier
    kills executors at scale — past the gate the hint is dropped and
    AQE chooses from the frontier's actual runtime size. The count
    used for the gate is free of recompute: every frontier is a
    stage-cut (materialized) intermediate, so ``count()`` scans
    already-stored blocks. An empty frontier short-circuits the
    remaining hops (the reachable set is closed)."""
    ed = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(
            edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        .transform(stage_cut)
    )
    seed = ed.agg(F.min("src").alias("node"))
    dist = stage_cut(seed.withColumn("hops", F.lit(0)))
    frontier = dist.select("node")
    for k in range(1, max_hops + 1):
        n_frontier = frontier.count()
        if n_frontier == 0:
            break
        if n_frontier <= _BFS_BROADCAST_MAX_FRONTIER:
            fr = F.broadcast(frontier)
        else:
            fr = frontier
        nxt = (
            fr.join(ed, fr["node"] == ed["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("hops", F.lit(k))
        )
        nxt = stage_cut(nxt)
        dist = stage_cut(dist.unionAll(nxt))
        frontier = nxt.select("node")
    return dist.select("node", F.col("hops").cast("int").alias("hops"))


# Oracle for graph_connected_components: each node's component label
# is the MINIMUM id over its reachability closure, computed by a
# recursive CTE (UNION dedupes states, so the closure is
# O(V x component) rows at oracle SF, never a path enumeration).
_CC_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_MINSUP}),
ed AS (SELECT u AS src, v AS dst FROM e
       UNION ALL SELECT v AS src, u AS dst FROM e),
reach(node, r) AS (
  SELECT src, src FROM ed
  UNION
  SELECT w.node, ed.dst FROM reach w JOIN ed ON ed.src = w.r
)
SELECT node AS part_id, MIN(r) AS component
FROM reach GROUP BY node
"""


@register("graph_connected_components", oracle=_CC_ORACLE)
def graph_connected_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components of the thresholded co-purchase graph:
    every part labeled with the smallest part id it is connected to
    — the graph-clustering primitive behind :func:`dedup_cluster`
    (where it groups near-duplicate documents), registered here on
    its own with an exact recursive-CTE oracle so the
    pointer-jumping core is driver-certified directly, not only
    through the LSH pipeline that feeds it.

    Scale shape is :func:`connected_components`'s: neighbor-min
    propagation fused with pointer jumping halves label distances
    per round (O(log diameter) iterations), each iteration is one
    equi-join + min-aggregate on stage-cut O(V) state, and
    non-convergence raises rather than returning wrong labels.
    """
    e = _copurchase_edges(spark, sf_dir)
    labels = connected_components(
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    return labels.select(F.col("node").alias("part_id"), "component")


_JACC_MIN_COMMON = 1  # emit pairs sharing at least one neighbor

# Oracle for graph_jaccard_neighbors below: same wedge enumeration +
# degree marginals in SQL; round(…, 9) under the repo's
# libm/division portability contract.
_JACC_NEIGHBORS_ORACLE = f"""
WITH e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_MINSUP}),
ed AS (SELECT u AS src, v AS dst FROM e
       UNION ALL SELECT v AS src, u AS dst FROM e),
deg AS (SELECT src AS node, COUNT(*) AS d FROM ed GROUP BY src),
common AS (
  SELECT e1.src AS a, e2.src AS b, COUNT(*) AS n_common
  FROM ed e1 JOIN ed e2 ON e1.dst = e2.dst AND e1.src < e2.src
  GROUP BY 1, 2 HAVING COUNT(*) >= {_JACC_MIN_COMMON})
SELECT c.a AS part_a, c.b AS part_b,
       CAST(c.n_common AS BIGINT) AS n_common,
       round(CAST(c.n_common AS DOUBLE)
             / (da.d + db.d - c.n_common), 9) AS jaccard
FROM common c JOIN deg da ON da.node = c.a JOIN deg db ON db.node = c.b
"""


@register("graph_jaccard_neighbors", oracle=_JACC_NEIGHBORS_ORACLE)
def graph_jaccard_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neighborhood-similarity link prediction: for every part pair
    sharing at least one co-purchase neighbor, the Jaccard overlap
    of their neighbor sets ``|N(a) ∩ N(b)| / |N(a) ∪ N(b)|`` — the
    classic common-neighbors recommender signal ("parts bought
    alongside the same parts"), computed purely relationally.

    Scale shape is the triangle count's: common neighbors enumerate
    as WEDGES through an equi-join of the adjacency list with itself
    on the shared endpoint (e1.dst = e2.dst, src < src — never an
    all-pairs product), so work is O(Σ deg²) over the
    support-thresholded graph, and the union size derives from the
    two degree marginals (deg(a) + deg(b) − common) — no second pass
    over edges. Adjacency is stage-cut once and reused by both the
    wedge join and the degree aggregate."""
    e = _copurchase_edges(spark, sf_dir)
    ed = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(
            e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        .transform(stage_cut)
    )
    deg = ed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    e1 = ed.select(F.col("src").alias("a"), F.col("dst").alias("w"))
    e2 = ed.select(F.col("src").alias("b"), F.col("dst").alias("w"))
    common = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= _JACC_MIN_COMMON)
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    return (
        common.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                9,
            ).alias("jaccard"),
        )
    )


# Oracle for graph_shortest_paths below. Phase 1 is the exact hops
# recursion of graph_bfs_hops; phase 2 derives each node's UNIQUE
# min-parent (the smallest BFS predecessor one hop closer to the
# seed) and walks the parent chain per node — a LINEAR recursion of
# total size O(V x diameter), never a path enumeration (enumerating
# all shortest paths is exponential on dense graphs; the min-parent
# tree makes the reported path deterministic and both engines derive
# it from the same hops table).
_SP_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_MINSUP}),
ed AS (SELECT u AS src, v AS dst FROM e
       UNION ALL SELECT v AS src, u AS dst FROM e),
seed AS (SELECT MIN(src) AS s FROM ed),
walk(node, hops) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT ed.dst, w.hops + 1 FROM walk w JOIN ed ON ed.src = w.node
  WHERE w.hops < {_BFS_MAX_HOPS}
),
dist AS (SELECT node, MIN(hops) AS hops FROM walk GROUP BY node),
par AS (
  SELECT d.node, MIN(p.node) AS parent
  FROM dist d
  JOIN ed ON ed.dst = d.node
  JOIN dist p ON p.node = ed.src AND p.hops = d.hops - 1
  GROUP BY d.node),
chain(node, cur, path) AS (
  SELECT node, node, CAST(node AS VARCHAR) FROM dist
  UNION ALL
  SELECT c.node, par.parent,
         CAST(par.parent AS VARCHAR) || ',' || c.path
  FROM chain c JOIN par ON par.node = c.cur
)
SELECT c.node AS part_id,
       CAST(d.hops AS INTEGER) AS hops,
       c.path AS path
FROM chain c
JOIN dist d ON d.node = c.node
JOIN seed ON c.cur = seed.s
"""


@register("graph_shortest_paths", oracle=_SP_ORACLE)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths WITH path reconstruction: every
    part reachable within ``_BFS_MAX_HOPS`` of the seed, labeled with
    its hop count and the actual seed→node path — the provenance
    question ("HOW is this node connected?") that hop counts alone
    (graph_bfs_hops) cannot answer: recommendation explanations,
    fraud-ring tracing, dependency chains.

    Determinism without enumeration: all shortest paths to a node
    can be exponentially many on dense graphs, so the reported path
    is defined by the MIN-PARENT TREE — each node's predecessor is
    the smallest neighbor one hop closer to the seed. That makes the
    path unique, derivable from the hops table alone, and identical
    on any engine (the oracle replays the same tree from its own
    recursive hops CTE).

    Scale shape: phase 1 is the bounded BFS (frontier⋈edges +
    anti-join visited, size-gated broadcast — see
    :func:`bfs_hops`); phase 2 adds ONE edges⋈dist⋈dist join to
    derive parents (shuffles O(E) once), then ``_BFS_MAX_HOPS``
    iterations of a walk⋈parents equi-join, each moving O(V) rows —
    total O(V x diameter), the linear-chain cost every distributed
    lineage/provenance reconstruction pays. The parent table is a
    slim (node, parent) pair; no step carries paths through a
    shuffle wider than the string being built.
    """
    e = _copurchase_edges(spark, sf_dir)
    return shortest_paths(e, _BFS_MAX_HOPS).select(
        F.col("node").alias("part_id"), "hops", "path"
    )


def shortest_paths(edges: DataFrame, max_hops: int) -> DataFrame:
    """Reusable core of :func:`graph_shortest_paths`: min-parent-tree
    shortest paths from min(u) over an UNDIRECTED (u, v) edge list.
    Returns (node, hops int, path string — comma-joined ids from the
    seed to the node). See there for the scale analysis."""
    e = edges
    ed = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(
            e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        .transform(stage_cut)
    )
    dist = stage_cut(
        bfs_hops(e, max_hops).select(
            "node", F.col("hops").cast("int").alias("hops")
        )
    )
    d_dst = dist.select(
        F.col("node").alias("c_node"), F.col("hops").alias("c_hops")
    )
    d_src = dist.select(
        F.col("node").alias("p_node"), F.col("hops").alias("p_hops")
    )
    par = stage_cut(
        d_dst.join(ed, ed["dst"] == d_dst["c_node"])
        .join(
            d_src,
            (d_src["p_node"] == ed["src"])
            & (d_src["p_hops"] == d_dst["c_hops"] - 1),
        )
        .groupBy(F.col("c_node").alias("node"))
        .agg(F.min("p_node").alias("parent"))
    )
    walk = dist.select(
        "node",
        F.col("node").alias("cur"),
        F.col("node").cast("string").alias("path"),
    )
    for _ in range(max_hops):
        p = par.select(
            F.col("node").alias("w_cur"), F.col("parent").alias("w_par")
        )
        walk = walk.join(p, walk["cur"] == p["w_cur"], "left").select(
            "node",
            F.coalesce(F.col("w_par"), F.col("cur")).alias("cur"),
            F.when(
                F.col("w_par").isNotNull(),
                F.concat_ws(
                    ",", F.col("w_par").cast("string"), F.col("path")
                ),
            )
            .otherwise(F.col("path"))
            .alias("path"),
        )
    seed = ed.agg(F.min("src").alias("s"))
    return (
        walk.join(F.broadcast(seed), walk["cur"] == F.col("s"))
        .join(dist.select(F.col("node").alias("d_node"), "hops"),
              F.col("node") == F.col("d_node"))
        .select("node", "hops", "path")
    )


_KCORE_K = 2
_KCORE_UNROLL = 8  # oracle peel depth; Spark raises past it


def _k_core_oracle_sql(k: int, depth: int) -> str:
    """Unrolled-peeling oracle for graph_k_core — the same
    fixed-unroll technique as pagerank's recurrence oracle: peeling
    is MONOTONE (once converged, further peels are no-ops), so an
    unroll of depth >= the actual iteration count IS the fixpoint,
    and the Spark side raises loudly if convergence would need more
    than ``depth`` rounds (measured: <= 5 at every shipped SF for
    k = 2). Recursive CTEs cannot express peeling at all — the
    recursive term would need a per-round aggregate."""
    # AS MATERIALIZED on every level: each ed{{i}} is referenced
    # TWICE by level i+1, so plain (inlined) CTEs would re-expand the
    # whole chain 2^depth times — measured as an fd explosion on the
    # base parquet scan before it was a perf problem.
    parts = [
        "ed0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v, u FROM e)"
    ]
    prev = "ed0"
    for i in range(1, depth + 1):
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT src FROM {prev} "
            f"GROUP BY src HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f"ed{i} AS MATERIALIZED (SELECT p.src, p.dst FROM {prev} p "
            f"JOIN n{i} a ON p.src = a.src "
            f"JOIN n{i} b ON p.dst = b.src)"
        )
        prev = f"ed{i}"
    return f"""
WITH e AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= {_TRI_MINSUP}),
{', '.join(parts)}
SELECT src AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM {prev} GROUP BY src
"""


_KCORE_ORACLE = _k_core_oracle_sql(_KCORE_K, _KCORE_UNROLL)


def k_core(edges: DataFrame, k: int, max_iter: int) -> DataFrame:
    """Iterative k-core peeling over an UNDIRECTED (u, v) edge list:
    repeatedly remove nodes of degree < k until none remain; returns
    the surviving (node, core_degree). Raises if the fixpoint needs
    more than ``max_iter`` peels — silent truncation would return a
    superset of the core."""
    ed = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(
            edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        .transform(stage_cut)
    )
    for _ in range(max_iter):
        deg = ed.groupBy("src").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src")
        n_before = ed.select("src").distinct().count()
        n_keep = keep.count()
        if n_keep == n_before:
            return ed.groupBy(F.col("src").alias("node")).agg(
                F.count("*").alias("core_degree")
            )
        keep_dst = keep.select(F.col("src").alias("dst"))
        ed = stage_cut(
            ed.join(keep, "src", "left_semi").join(
                keep_dst, "dst", "left_semi"
            )
        )
        if n_keep == 0:
            return ed.groupBy(F.col("src").alias("node")).agg(
                F.count("*").alias("core_degree")
            )
    raise RuntimeError(
        f"k_core did not converge in {max_iter} peels; raise max_iter "
        "(and the oracle unroll) together"
    )


@register("graph_k_core", oracle=_KCORE_ORACLE)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (fixed k = 2) of the thresholded
    co-purchase graph: the maximal subgraph where every surviving
    part still has >= k co-purchase partners — the standard
    dense-region extractor (community cores, spam/fraud rings,
    robust-seed selection for embeddings) and the FOURTH iterative
    graph algorithm here after components, pagerank and BFS, with a
    different convergence structure: the iterate is a shrinking
    SUBGRAPH, not a label assignment.

    Scale shape: each peel is one map-combined degree aggregate +
    two semi-joins against the (shrinking) survivor set — O(E)
    shuffle per round, with every intermediate stage-cut so plan
    depth stays O(1). Peel count is small on heavy-tailed graphs
    (measured <= 5 at every shipped SF); non-convergence within the
    bound RAISES rather than returning a superset, and the oracle
    unrolls the same peel exactly (monotonicity makes depth-8 the
    fixpoint). Output is each core member with its degree INSIDE
    the core, so downstream consumers can rank members without
    re-deriving the subgraph.
    """
    e = _copurchase_edges(spark, sf_dir)
    return k_core(e, _KCORE_K, _KCORE_UNROLL).select(
        F.col("node").alias("part_id"), "core_degree"
    )
