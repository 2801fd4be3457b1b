"""Hand-computed fixtures for the sequence/interval/changelog
operators: tiny inputs where the correct answer is verifiable by
inspection, complementing the corpus-level DuckDB oracles (the
reference's golden-file strategy, SURVEY.md §5, applied to the
extension surface)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from map_reduce_server_spark import registry

registry.load_all()


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_funnel_stage_logic(spark):
    """Stages must be ordered subsequences: a purchase BEFORE the
    signup chain must not count."""
    rows = [
        # user 1: full ordered funnel s->c->v->p with noise
        (1, _ts(1), 1, "signup"), (2, _ts(2), 1, "error"),
        (3, _ts(3), 1, "click"), (4, _ts(4), 1, "view"),
        (5, _ts(5), 1, "purchase"),
        # user 2: purchase first, then signup+click only -> stage 2
        (6, _ts(1), 2, "purchase"), (7, _ts(2), 2, "signup"),
        (8, _ts(3), 2, "click"),
        # user 3: no signup at all -> stage 0
        (9, _ts(1), 3, "click"), (10, _ts(2), 3, "view"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    )
    df = df.withColumn("value", F.lit(1.0)).withColumn(
        "props", F.lit("{}")
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            r.stage_reached: r.n_users
            for r in registry.QUERIES["q_funnel"](spark, d).collect()
        }
    assert got == {4: 1, 2: 1, 0: 1}


def test_scd2_intervals(spark, sf_small):
    """Adjacent versions must tile each customer's history: every
    valid_to equals the next valid_from, exactly one current row per
    customer, and same-timestamp orders version by orderkey."""
    df = registry.QUERIES["q_scd2_customer_orders"](spark, sf_small)
    rows = df.collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for cust, vs in by_cust.items():
        vs.sort(key=lambda r: (r.valid_from, r.o_orderkey))
        currents = [r for r in vs if r.is_current]
        assert len(currents) == 1, cust
        assert vs[-1].is_current and vs[-1].valid_to is None
        for prev, nxt in zip(vs, vs[1:]):
            assert prev.valid_to == nxt.valid_from, cust


def test_cdc_apply_latest_op_wins(spark, sf_small):
    """Replay the synthesized changelog in plain Python and compare
    survivor sets + last payloads with the operator."""
    from map_reduce_server_spark.tables import load_table

    orders = load_table(spark, sf_small, "orders").collect()
    latest: dict[int, tuple] = {}
    n_ops: dict[int, int] = {}
    for o in orders:
        n_ops[o.o_custkey] = n_ops.get(o.o_custkey, 0) + 1
        key = (o.o_orderdate, o.o_orderkey)
        if o.o_custkey not in latest or key > latest[o.o_custkey][0]:
            op = "D" if o.o_orderkey % 19 == 0 else "U"
            latest[o.o_custkey] = (key, op, o.o_totalprice)
    expected = {
        ck: (v[2], n_ops[ck])
        for ck, v in latest.items()
        if v[1] != "D"
    }
    got = {
        r.c_custkey: (r.last_price, r.n_ops)
        for r in registry.QUERIES["q_cdc_apply"](spark, sf_small).collect()
    }
    assert got == expected


def test_pagerank_matches_numpy_replay(spark):
    """Random 30-node graph: the DataFrame PageRank must match a
    dense NumPy power-iteration replay of the same recurrence."""
    import random

    import numpy as np

    from map_reduce_server_spark.operators.clustering import (
        _PR_DAMPING,
        _PR_ITERS,
        pagerank,
    )

    rng = random.Random(7)
    n = 30
    undirected = {
        tuple(sorted((rng.randrange(n), rng.randrange(n))))
        for _ in range(60)
    }
    undirected = {(a, b) for a, b in undirected if a != b}
    edges = [(a, b) for a, b in undirected] + [
        (b, a) for a, b in undirected
    ]
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    deg = {v: 0 for v in nodes}
    for s, _ in edges:
        deg[s] += 1
    r = np.full(len(nodes), 1.0 / len(nodes))
    base = (1.0 - _PR_DAMPING) / len(nodes)
    for _ in range(_PR_ITERS):
        nxt = np.full(len(nodes), base)
        for s, d in edges:
            nxt[idx[d]] += _PR_DAMPING * r[idx[s]] / deg[s]
        r = nxt
    got = {
        row.node: row.rank
        for row in pagerank(
            spark.createDataFrame(edges, ["src", "dst"])
        ).collect()
    }
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v


def test_prefix_filter_lossless_on_random_corpora(spark):
    """Hypothesis: for random tiny documents, prefix-filtered
    candidates must retain every pair with Jaccard >= the threshold
    (checked against an all-pairs Python computation on shingles)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_server_spark.operators.dedup import (
        _PJ_THRESHOLD,
        dedup_jaccard_prefix,
    )

    token = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
    doc = st.lists(token, min_size=3, max_size=8).map(" ".join)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=6))
    def check(texts):
        import tempfile

        from pyspark.sql import functions as F

        def shingle_set(t):
            toks = [x for x in t.lower().split(" ") if x]
            return {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }

        expected = set()
        for i, ta in enumerate(texts):
            for j in range(i + 1, len(texts)):
                sa, sb = shingle_set(ta), shingle_set(texts[j])
                if not sa or not sb:
                    continue
                jac = len(sa & sb) / len(sa | sb)
                if jac >= _PJ_THRESHOLD:
                    expected.add((i, j))
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("t")
        ).withColumn("n_chars", F.length("text"))
        with tempfile.TemporaryDirectory() as d:
            df.coalesce(1).write.mode("overwrite").parquet(
                f"{d}/documents.parquet"
            )
            got = {
                (r.doc_a, r.doc_b)
                for r in dedup_jaccard_prefix(spark, d).collect()
            }
        assert got == expected

    check()


def _write_events(spark, d, rows):
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    ).withColumn("value", F.col("event_id").cast("double")).withColumn(
        "props", F.lit("{}")
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")


def _write_docs(spark, d, rows):
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source"]
    ).withColumn("n_chars", F.length("text").cast("long"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")


def test_debounce_gap_semantics(spark):
    """Gap is measured from the previous EVENT (not the previous kept
    event): a burst at 0/5/9 min keeps only its leader because every
    inter-event gap stays under 10 min; the 16-min quiet spell before
    25 min reopens the window."""
    import tempfile

    rows = [
        (1, _ts(1, 0), 1, "click"),
        (2, _ts(1, 5), 1, "click"),   # 5 min after ev1  -> suppressed
        (3, _ts(1, 9), 1, "click"),   # 4 min after ev2  -> suppressed
        (4, _ts(1, 25), 1, "click"),  # 16 min after ev3 -> kept
        (5, _ts(1, 7), 1, "view"),    # other type: independent leader
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, d, rows)
        kept = {
            r.event_id
            for r in registry.QUERIES["q_debounce_events"](spark, d).collect()
        }
    assert kept == {1, 4, 5}


def test_locf_gapfill_carries_and_leads_null(spark):
    """Day panel: values carry forward across empty days; days before
    a user's first event stay NULL; the span covers the whole corpus,
    not just the user's own range."""
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1, 12), 1, "click"),  # value 1.0
        (2, dt.datetime(2024, 1, 3, 12), 1, "click"),  # value 2.0
        (3, dt.datetime(2024, 1, 4, 12), 2, "click"),  # value 3.0
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, d, rows)
        got = {
            (r.user_id, r.day.day): r.locf_value
            for r in registry.QUERIES["q_locf_gapfill"](spark, d).collect()
        }
    assert got == {
        (1, 1): 1.0, (1, 2): 1.0, (1, 3): 2.0, (1, 4): 2.0,
        (2, 1): None, (2, 2): None, (2, 3): None, (2, 4): 3.0,
    }


def test_session_concurrency_hand_computed(spark):
    """Three overlapping sessions in one hour: [10:00,10:20],
    [10:10,10:10], [10:20,10:20]. Ends are inclusive (+1 us), so the
    peak is 2 (at 10:10 and again at 10:20), never 3."""
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0), 1, "click"),
        (2, dt.datetime(2024, 1, 1, 10, 20), 1, "click"),
        (3, dt.datetime(2024, 1, 1, 10, 10), 2, "click"),
        (4, dt.datetime(2024, 1, 1, 10, 20), 4, "click"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, d, rows)
        got = {
            (r.hour.hour): r.peak_concurrent
            for r in registry.QUERIES["q_session_concurrency"](
                spark, d
            ).collect()
        }
    assert got == {10: 2}


def test_session_concurrency_year_boundary_carry(spark):
    """The two-pass prefix sum's cross-partition carries, hand
    computed: a session SPANNING the year boundary (events 23:50 and
    00:15, 25-min gap = one session) must carry +1 from the 2023
    hour bucket into the 2024 one via the prior-years broadcast
    fold, and a lone 2025 session must see the net zero carry of
    both earlier years ((+1) + (-1)). The sf parquet corpora span
    one month, so only this fixture exercises the year-level carry
    path."""
    import tempfile

    rows = [
        # hour 2023-12-31 23:00 — peak 2 (u1 with u2 at 23:10)
        (1, dt.datetime(2023, 12, 31, 23, 0), 1, "click"),
        (2, dt.datetime(2023, 12, 31, 23, 20), 1, "click"),
        (3, dt.datetime(2023, 12, 31, 23, 10), 2, "click"),
        # u6's session spans the year boundary: [23:50, 00:15]
        (4, dt.datetime(2023, 12, 31, 23, 50), 6, "click"),
        (5, dt.datetime(2024, 1, 1, 0, 15), 6, "click"),
        # hour 2024-01-01 00:00 — peak 2 ONLY via the +1 carry
        # (u6 still open when u3's point session fires at 00:05)
        (6, dt.datetime(2024, 1, 1, 0, 5), 3, "click"),
        (7, dt.datetime(2024, 1, 1, 0, 10), 4, "click"),
        # hour 2025-06-01 12:00 — peak 1 (carry from 2023+2024 = 0)
        (8, dt.datetime(2025, 6, 1, 12, 0), 5, "click"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, d, rows)
        got = {
            (r.hour.year, r.hour.month, r.hour.day, r.hour.hour):
            r.peak_concurrent
            for r in registry.QUERIES["q_session_concurrency"](
                spark, d
            ).collect()
        }
    assert got == {
        (2023, 12, 31, 23): 2,
        (2024, 1, 1, 0): 2,
        (2025, 6, 1, 12): 1,
    }


def test_text_quality_mixed_case_nonalpha(spark):
    """Uppercase letters are alphabetic: 'Hello World There Friend
    Person.' must count only the period as non-alpha (ratio 1/30),
    not the capitals — both engines shared the un-lowercased regex
    bug, so only a mixed-case fixture can catch it. (The 5-token
    minimum keeps passes_quality exercised too.)"""
    import tempfile

    from map_reduce_server_spark import registry

    text = "Hello World There Friend Person."
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, [(1, text, "en", "src0")])
        row = registry.QUERIES["text_quality"](spark, d).collect()[0]
    assert row.nonalpha_ratio == round(1 / len(text), 6)
    assert row.passes_quality == 1


def test_coverage_report_empty_table_zero_not_null(spark, sf_small):
    """An EMPTY audited table must report pk_nulls = 0, not NULL:
    SUM over zero rows is NULL in both engines, but the report's
    contract (and the oracle's COUNT(*)) is a count. Build an sf dir
    that symlinks sf0.001 except for an empty events.parquet."""
    import os
    import tempfile

    from map_reduce_server_spark import registry
    from map_reduce_server_spark.tables import load_table

    with tempfile.TemporaryDirectory() as d:
        for f in os.listdir(sf_small):
            if f != "events.parquet":
                os.symlink(os.path.join(sf_small, f), os.path.join(d, f))
        load_table(spark, sf_small, "events").limit(0).write.parquet(
            os.path.join(d, "events.parquet")
        )
        rows = {
            r.table_name: r
            for r in registry.QUERIES["q_coverage_report"](spark, d).collect()
        }
    ev = rows["events"]
    assert (ev.n_rows, ev.pk_distinct, ev.pk_nulls) == (0, 0, 0)
    assert ev.pk_nulls is not None


def test_pack_sequences_budget_boundary(spark):
    """300+300 fits sequence 0 (600 > 512 only AFTER the second doc
    is placed — docs are atomic); the third doc starts sequence 1."""
    import tempfile

    mk = lambda n: " ".join(["w"] * n)
    rows = [
        (1, mk(300), "en", "s1"),
        (2, mk(300), "en", "s1"),
        (3, mk(300), "en", "s1"),
        (4, mk(10), "en", "s2"),  # other source packs independently
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        got = {
            (r.source, r.seq_id): (r.n_docs, r.n_tokens)
            for r in registry.QUERIES["q_pack_sequences"](spark, d).collect()
        }
    assert got == {
        ("s1", 0): (2, 600), ("s1", 1): (1, 300), ("s2", 0): (1, 10),
    }


def test_novelty_first_occurrence_rule(spark):
    """Novelty credits the MINIMUM doc_id per shingle: an exact dup of
    an earlier doc scores 0; a doc sharing half its shingles scores
    0.5; a doc too short for any shingle gets NULL."""
    import tempfile

    rows = [
        (1, "a b c d", "en", "s"),   # shingles {a b c, b c d}: both novel
        (2, "a b c d", "en", "s"),   # same shingles, later id -> 0.0
        (3, "a b c x", "en", "s"),   # {a b c (seen), b c x (novel)} -> 0.5
        (4, "a b", "en", "s"),       # no shingles -> NULL
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        got = {
            r.doc_id: (r.n_shingles, r.n_novel, r.novelty)
            for r in registry.QUERIES["text_novelty"](spark, d).collect()
        }
    assert got == {
        1: (2, 2, 1.0), 2: (2, 0, 0.0), 3: (2, 1, 0.5), 4: (0, 0, None),
    }


def test_quality_gate_drops_bottom_quartile(spark):
    """Four docs with distinct-token ratios .25/.5/.75/1.0: percent
    rank 0 is strictly below the 0.25 cut, so exactly the worst doc
    drops."""
    import tempfile

    rows = [
        (1, "a a a a", "en", "s"),   # ratio 0.25 -> pr 0.0  -> dropped
        (2, "a b a b", "en", "s"),   # 0.5  -> pr 1/3
        (3, "a b c a", "en", "s"),   # 0.75 -> pr 2/3
        (4, "a b c d", "en", "s"),   # 1.0  -> pr 1.0
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        kept = {
            r.doc_id
            for r in registry.QUERIES["q_quality_gate"](spark, d).collect()
        }
    assert kept == {2, 3, 4}


def test_quantize_int8_hand_values(spark):
    """[1.0, -0.5, 0.0]: scale = 127/1.0; -0.5 -> floor(-63.5+0.5) =
    -63 (round-half-up toward +inf, NOT away from zero); an all-zero
    vector quantizes to zeros with zero error."""
    import tempfile

    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    rows = [(1, [1.0, -0.5, 0.0], 0), (2, [0.0, 0.0, 0.0], 1)]
    df = spark.createDataFrame(rows, schema)
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        from map_reduce_server_spark import registry as reg

        got = {
            # q is CSV-serialized (driver-canonicalizer portability)
            r.vec_id: (r.max_abs, [int(x) for x in r.q.split(",")], r.max_err)
            for r in reg.QUERIES["embedding_quantize_int8"](
                spark, d
            ).collect()
        }
    assert got[1][0] == 1.0
    assert got[1][1] == [127, -63, 0]
    # reconstruction error of -63/127 vs -0.5 = 0.5 - 63/127
    assert abs(got[1][2] - (0.5 - 63.0 / 127.0)) < 1e-9
    assert got[2] == (0.0, [0, 0, 0], 0.0)


def test_dup_spans_hand_values(spark):
    """doc 1 and 2 share one verbatim 5-token window; doc 3 shares
    nothing. Ratios are over each doc's DISTINCT windows."""
    import tempfile

    rows = [
        (1, "a b c d e f", "en", "s"),     # windows: abcde, bcdef
        (2, "z a b c d e", "en", "s"),     # windows: zabcd, abcde
        (3, "p q r s t", "en", "s"),       # window:  pqrst
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        got = {
            r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_ratio)
            for r in registry.QUERIES["text_dup_spans"](spark, d).collect()
        }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (1, 0, 0.0)


def test_bm25_orders_by_saturating_tf(spark):
    """More matching terms beats one repeated term (tf saturates);
    docs without any query term never appear."""
    import tempfile

    rows = [
        (1, "join filter window x", "en", "s"),   # all 3 terms
        (2, "join join join join", "en", "s"),    # 1 term, high tf
        (3, "nothing relevant here", "en", "s"),  # no terms
        (4, "join filter y z", "en", "s"),        # 2 terms
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        out = registry.QUERIES["text_bm25"](spark, d).collect()
    scores = {r.doc_id: r.score for r in out}
    assert 3 not in scores
    assert scores[1] > scores[4] > scores[2]


def test_market_basket_hand_values(spark):
    """3 orders of {10,20}, 1 of {10,30}: only (10,20) reaches
    min-support 3; conf(10→20)=3/4, conf(20→10)=1, lift=4·3/(4·3)."""
    import tempfile

    rows = []
    oid = 0
    for _ in range(3):
        oid += 1
        rows += [(oid, 10), (oid, 20)]
    oid += 1
    rows += [(oid, 10), (oid, 30)]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    for col, val in [
        ("l_suppkey", 1), ("l_linenumber", 1), ("l_quantity", 1.0),
        ("l_extendedprice", 1.0), ("l_discount", 0.0), ("l_tax", 0.0),
    ]:
        li = li.withColumn(col, F.lit(val))
    li = li.withColumn("l_returnflag", F.lit("N")).withColumn(
        "l_linestatus", F.lit("O")
    ).withColumn("l_shipdate", F.lit(dt.datetime(2024, 1, 1)))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        li.coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        out = registry.QUERIES["q_market_basket"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.u, r.v, r.sup_uv) == (10, 20, 3)
    assert r.conf_u_v == 0.75 and r.conf_v_u == 1.0
    assert r.lift == 1.0  # 4 orders * 3 / (4 * 3)


def test_time_weighted_avg_hand_values(spark):
    """Readings 10 (held 30s) then 20 (held 10s): TWA = (10·30 +
    20·10)/40 = 12.5; the final reading carries no weight."""
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "click", 10.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 30), 7, "click", 20.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 0, 0, 40), 7, "click", 99.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = registry.QUERIES["q_time_weighted_avg"](spark, d).collect()
    assert len(out) == 1
    assert out[0].n_intervals == 2
    assert out[0].twa == 12.5


def test_attribution_strictly_preceding(spark):
    """A purchase attributes to the latest click BEFORE it; a user
    with no prior click yields NULL lag."""
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 5, 0), 7, "click", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 0, 6, 0), 7, "purchase", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 0, 1, 0), 8, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            r.event_id: r.lag_us
            for r in registry.QUERIES["q_attribution_last_touch"](
                spark, d
            ).collect()
        }
    assert got[3] == 60_000_000  # attributed to the 0:05 click
    assert got[4] is None


def test_session_window_boundary_and_null_ts(spark):
    """Spark's session_window MERGES an event landing exactly on the
    previous session's exclusive end (gap == 30:00) and DROPS
    NULL-ts events; the lag/cumsum oracle must replay both rules on
    the same fixture or the twins diverge on boundary data the
    synthetic corpus happens not to contain."""
    import tempfile

    import duckdb

    from tests.oracle_utils import canonical_rows

    rows = [
        # user 1: exactly-30:00 gap -> ONE session [10:00, 11:00)
        (1, dt.datetime(2024, 1, 1, 10, 0, 0), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10, 30, 0), 1, "click", 2.0, "{}"),
        # user 2: 30:01 gap -> TWO sessions
        (3, dt.datetime(2024, 1, 1, 9, 0, 0), 2, "click", 5.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 9, 30, 1), 2, "click", 6.0, "{}"),
        # user 3: NULL ts is dropped by SessionWindowing
        (5, None, 3, "click", 9.0, "{}"),
        (6, dt.datetime(2024, 1, 1, 8, 0, 0), 3, "click", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        sdf = registry.QUERIES["q_session_window"](spark, d).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{d}/events.parquet/*.parquet'"
        )
        odf = con.execute(registry.ORACLE["q_session_window"]).fetchdf()
        con.close()
    got = {
        (r.user_id, r.s_start.isoformat()): (r.n_events, r.total_value)
        for r in sdf.itertuples()
    }
    assert got == {
        (1, "2024-01-01T10:00:00"): (2, 3.0),
        (2, "2024-01-01T09:00:00"): (1, 5.0),
        (2, "2024-01-01T09:30:01"): (1, 6.0),
        (3, "2024-01-01T08:00:00"): (1, 4.0),
    }
    assert canonical_rows(sdf) == canonical_rows(odf)


def test_shared_sessionizer_drops_null_ts(spark):
    """The SHARED sessionizer (functions/sessionize.py) must drop
    NULL-ts rows like Spark's native session_window, and all three
    twins built on it must hash-match their oracles on a fixture
    containing NULL ts: Spark sorts NULLs first (each would seed a
    phantom session via prev_ts IS NULL) while DuckDB sorts them
    last (is_new stays 0) — kept rows make the twins diverge."""
    import tempfile

    import duckdb

    from tests.oracle_utils import canonical_rows

    rows = [
        # user 1: exactly-30:00 gap -> ONE session
        (1, dt.datetime(2024, 1, 1, 10, 0, 0), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10, 30, 0), 1, "click", 2.0, "{}"),
        # user 2: 30:01 gap -> TWO sessions
        (3, dt.datetime(2024, 1, 1, 9, 0, 0), 2, "click", 5.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 9, 30, 1), 2, "click", 6.0, "{}"),
        # user 3: NULL ts must be dropped, not counted or sessioned
        (5, None, 3, "click", 9.0, "{}"),
        (6, dt.datetime(2024, 1, 1, 8, 0, 0), 3, "click", 4.0, "{}"),
        # user 4: three errors in epoch-hour 10 -> an incident window
        # so q_interval_overlap_join produces rows on this fixture
        (7, dt.datetime(2024, 1, 1, 10, 5, 0), 4, "error", 1.0, "{}"),
        (8, dt.datetime(2024, 1, 1, 10, 10, 0), 4, "error", 1.0, "{}"),
        (9, dt.datetime(2024, 1, 1, 10, 20, 0), 4, "error", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{d}/events.parquet/*.parquet'"
        )
        for name in (
            "q_sessionize",
            "q_session_concurrency",
            "q_interval_overlap_join",
        ):
            sdf = registry.QUERIES[name](spark, d).toPandas()
            odf = con.execute(registry.ORACLE[name]).fetchdf()
            assert canonical_rows(sdf) == canonical_rows(odf), name
            if name == "q_sessionize":
                by_user = {
                    r.user_id: (r.n_sessions, r.n_events)
                    for r in sdf.itertuples()
                }
                # user 3's NULL-ts row is gone: one 1-event session
                assert by_user[3] == (1, 1)
                assert by_user[1] == (1, 2)
                assert by_user[2] == (2, 2)
            if name == "q_interval_overlap_join":
                assert len(sdf) > 0  # the incident hour matched
        con.close()


def test_snapshot_diff_null_revenue_transitions(spark):
    """NULL-revenue transitions must classify as 'changed', not be
    NULL-swallowed into 'unchanged': a plain <> returns NULL when one
    snapshot's revenue sum is NULL (all prices NULL), silently
    dropping the row on BOTH twin sides — the oracle gate can never
    catch a twin-consistent bug, so the null-safe inequality is
    pinned here."""
    import tempfile

    import duckdb

    from tests.oracle_utils import canonical_rows

    cutoff = dt.datetime(1998, 1, 1)
    old_d = dt.datetime(1997, 6, 1)
    new_d = dt.datetime(1998, 6, 1)
    rows = [
        # cust 1: NULL old revenue -> priced new order: CHANGED
        (1, 1, old_d, None),
        (2, 1, new_d, 100.0),
        # cust 2: priced old -> additional NULL order only: new rev
        # equals old rev (NULL adds nothing): UNCHANGED (dropped)
        (3, 2, old_d, 50.0),
        (4, 2, new_d, None),
        # cust 3: NULL old -> NULL new only: both sums NULL: UNCHANGED
        (5, 3, old_d, None),
        (6, 3, new_d, None),
        # cust 4: first seen post-cutoff: ADDED
        (7, 4, new_d, 75.0),
        # cust 5: priced old -> priced new: CHANGED with delta
        (8, 5, old_d, 10.0),
        (9, 5, new_d, 5.0),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp,"
        " o_totalprice double",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
        sdf = registry.QUERIES["q_snapshot_diff"](spark, d).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"'{d}/orders.parquet/*.parquet'"
        )
        odf = con.execute(registry.ORACLE["q_snapshot_diff"]).fetchdf()
        con.close()
    assert canonical_rows(sdf) == canonical_rows(odf)
    got = {r.custkey: r.status for r in sdf.itertuples()}
    assert got == {1: "changed", 4: "added", 5: "changed"}


def test_null_ts_guards_match_oracle(spark, tmp_path):
    """Engine-divergence fixture: Spark window/sort orders ASC NULLS
    FIRST, DuckDB NULLS LAST, so every event-ordering query must
    drop NULL-ts rows in BOTH twins (the guard added after the r7
    review found six queries without it). The driver corpus has no
    NULL ts, so only this crafted corpus exercises the class: on
    unguarded code, each assertion below fails with path strings /
    window frames built in opposite orders."""
    import duckdb

    from tests.oracle_utils import canonical_rows

    rows = [
        # user 1: real funnel + a NULL-ts purchase and NULL-ts click
        (1, _ts(1), 1, "signup", 2.0),
        (2, _ts(2), 1, "click", 3.0),
        (3, None, 1, "purchase", 5.0),
        (4, _ts(3), 1, "view", 1.0),
        (5, None, 1, "click", 7.0),
        # user 2: ONLY NULL-ts events (must vanish identically)
        (6, None, 2, "purchase", 9.0),
        # user 3: bursts + a NULL-ts row inside the debounce group
        (7, _ts(4), 3, "click", 1.0),
        (8, _ts(4, 5), 3, "click", 2.0),
        (9, None, 3, "click", 4.0),
        (10, _ts(5), 3, "purchase", 6.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("props", F.lit("{}"))
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    # a tiny orders table (one NULL o_orderdate) so the
    # point-in-time join's update stream exercises its guard too
    odf = spark.createDataFrame(
        [
            (100, 1, _ts(0)),
            (101, 1, None),
            (102, 3, _ts(4, 2)),
        ],
        ["o_orderkey", "o_custkey", "o_orderdate"],
    )
    odf.coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")

    con = duckdb.connect()
    # Spark writes a part-file DIRECTORY; glob it for DuckDB
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{d}/{t}.parquet/*.parquet'"
        )
    for name in (
        "q_funnel",
        "q_debounce_events",
        "q_locf_gapfill",
        "q_event_transitions",
        "q_time_weighted_avg",
        "q_attribution_last_touch",
        "q_point_in_time_join",
    ):
        got = registry.QUERIES[name](spark, d).toPandas()
        exp = con.execute(registry.ORACLE[name]).fetchdf()
        assert sorted(got.columns) == sorted(exp.columns), name
        assert canonical_rows(got) == canonical_rows(exp), name


def test_rollup_multi_distinct_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered q_rollup_multi_distinct
    (registration deferred to round 13 — the round-12 window is
    reserved for stale-row re-certification): the portable
    multi-distinct + ordered-string-agg grid renderings must match
    the DuckDB oracle exactly as the driver's compare would check."""
    from map_reduce_server_spark.operators.advanced import (
        _ROLLUP_MD_ORACLE,
        q_rollup_multi_distinct,
    )
    from tests.oracle_utils import compare_to_oracle

    df = q_rollup_multi_distinct(spark, sf_small)
    ok, msg = compare_to_oracle(df, _ROLLUP_MD_ORACLE, sf_small)
    assert ok, msg
    # the grid shape itself: 3 leaf statuses + 1 grand-total row,
    # and the grand total sees every priority
    rows = {(r.gid, r.o_orderstatus): r for r in df.collect()}
    assert sum(1 for gid, _ in rows if gid == 0) >= 2
    total = next(r for (gid, _), r in rows.items() if gid == 1)
    assert total.n_priorities == len(total.priorities.split("|"))


def test_asof_join_forward_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered forward as-of query: the
    MIN-over-following-range rendering must match DuckDB's native
    forward ASOF JOIN."""
    from map_reduce_server_spark.operators.advanced import (
        _ASOF_FWD_ORACLE,
        q_asof_join_forward,
    )
    from tests.oracle_utils import compare_to_oracle

    df = q_asof_join_forward(spark, sf_small)
    ok, msg = compare_to_oracle(df, _ASOF_FWD_ORACLE, sf_small)
    assert ok, msg
    # a purchase row is its own forward match (ties included)
    own = df.filter(
        (F.col("ts") == F.col("next_purchase_ts"))
    ).count()
    assert own > 0


def test_collocations_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered text_collocations
    (now registered): the single-heavy-shuffle PMI
    factorization must match the oracle replay exactly, including
    the ln-rounding portability contract."""
    import math

    from map_reduce_server_spark.operators.text import (
        _COLLOC_MIN_COUNT,
        _COLLOC_ORACLE,
        text_collocations,
    )
    from tests.oracle_utils import compare_to_oracle

    df = text_collocations(spark, sf_small)
    ok, msg = compare_to_oracle(df, _COLLOC_ORACLE, sf_small)
    assert ok, msg
    rows = df.collect()
    assert rows and all(r.n >= _COLLOC_MIN_COUNT for r in rows)
    # PMI sanity on one row: recompute from independent corpus counts
    some = {r.bigram: r for r in rows}
    any_bigram = sorted(some)[0]
    r = some[any_bigram]
    assert math.isfinite(r.pmi)


def test_bloom_prefilter_join_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered q_bloom_prefilter_join
    (now registered): the bloom prefilter must be
    result-invisible — bit-set probing plus the exact semi-join
    equals the plain semi-join oracle."""
    from map_reduce_server_spark.operators.advanced import (
        _BLOOM_ORACLE,
        q_bloom_prefilter_join,
    )
    from tests.oracle_utils import compare_to_oracle

    df = q_bloom_prefilter_join(spark, sf_small)
    ok, msg = compare_to_oracle(df, _BLOOM_ORACLE, sf_small)
    assert ok, msg
    assert df.count() >= 1


def test_graph_bfs_hops_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered graph_bfs_hops
    (now registered): the iterative frontier expansion
    must land exactly on the recursive-CTE oracle's minimum hop
    counts."""
    from map_reduce_server_spark.operators.clustering import (
        _BFS_MAX_HOPS,
        _BFS_ORACLE,
        graph_bfs_hops,
    )
    from tests.oracle_utils import compare_to_oracle

    df = graph_bfs_hops(spark, sf_small)
    ok, msg = compare_to_oracle(df, _BFS_ORACLE, sf_small)
    assert ok, msg
    rows = {r.part_id: r.hops for r in df.collect()}
    assert rows
    assert min(rows.values()) == 0 and max(rows.values()) <= _BFS_MAX_HOPS
    # the seed is the smallest edge endpoint and only it has hops 0
    assert sum(1 for h in rows.values() if h == 0) == 1


def test_window_time_range_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered q_window_time_range
    (now registered): the calendar-INTERVAL range frame
    must agree with DuckDB's, including tied-timestamp symmetry."""
    from map_reduce_server_spark.operators.relational import (
        _TIME_RANGE_ORACLE,
        q_window_time_range,
    )
    from tests.oracle_utils import compare_to_oracle

    df = q_window_time_range(spark, sf_small)
    ok, msg = compare_to_oracle(df, _TIME_RANGE_ORACLE, sf_small)
    assert ok, msg
    # a row's own event is always inside its trailing frame
    assert df.filter(F.col("n_trailing_30m") < 1).count() == 0


def test_lateral_topk_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered q_lateral_topk
    (now registered): Catalyst's decorrelated LATERAL
    ORDER BY/LIMIT must agree with DuckDB's lateral execution,
    unique-key tie-break included."""
    from map_reduce_server_spark.operators.subqueries import (
        _LATERAL_ORACLE,
        q_lateral_topk,
    )
    from tests.oracle_utils import compare_to_oracle

    df = q_lateral_topk(spark, sf_small)
    ok, msg = compare_to_oracle(df, _LATERAL_ORACLE, sf_small)
    assert ok, msg
    # every nation contributes at most 3 rows
    import pyspark.sql.functions as F

    over = (
        df.groupBy("n_name")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 3)
        .count()
    )
    assert over == 0


def test_bitmap_distinct_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered q_bitmap_distinct
    (now registered): the bitmap OR-aggregation is
    EXACT, so it must land bit-identically on COUNT(DISTINCT)."""
    from map_reduce_server_spark.operators.advanced import (
        _BITMAP_DISTINCT_ORACLE,
        q_bitmap_distinct,
    )
    from tests.oracle_utils import compare_to_oracle

    df = q_bitmap_distinct(spark, sf_small)
    ok, msg = compare_to_oracle(df, _BITMAP_DISTINCT_ORACLE, sf_small)
    assert ok, msg
    assert df.count() >= 1


def test_bitmap_distinct_helper_edge_cases(spark):
    """bitmap_distinct unit edges: NULL ids excluded like
    COUNT(DISTINCT), duplicates collapse, ids straddling word
    boundaries (63/64) count once each, and a group whose ids are
    ALL NULL survives at 0 (COUNT(DISTINCT) keeps the group; a
    pre-filter would delete it)."""
    from map_reduce_server_spark.operators.advanced import bitmap_distinct

    rows = [
        ("a", 0), ("a", 0), ("a", 63), ("a", 64), ("a", None),
        ("b", None), ("b", 128),
        ("c", None), ("c", None),
    ]
    df = spark.createDataFrame(rows, "g string, id bigint")
    got = {
        (r.g, r.n_distinct)
        for r in bitmap_distinct(df, "g", "id").collect()
    }
    assert got == {("a", 3), ("b", 1), ("c", 0)}


def test_graph_connected_components_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered
    graph_connected_components: the
    pointer-jumping labels must equal the recursive-CTE closure's
    min-label components."""
    from map_reduce_server_spark.operators.clustering import (
        _CC_ORACLE,
        graph_connected_components,
    )
    from tests.oracle_utils import compare_to_oracle

    df = graph_connected_components(spark, sf_small)
    ok, msg = compare_to_oracle(df, _CC_ORACLE, sf_small)
    assert ok, msg
    rows = {r.part_id: r.component for r in df.collect()}
    assert rows
    # labels are component minima: every label labels itself
    assert all(rows[c] == c for c in set(rows.values()))


def test_inverted_index_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered text_inverted_index
    (now registered): df/tf marginals and the
    numerically-sorted posting strings must match DuckDB's."""
    from map_reduce_server_spark.operators.text import (
        _INVERTED_INDEX_ORACLE,
        text_inverted_index,
    )
    from tests.oracle_utils import compare_to_oracle

    df = text_inverted_index(spark, sf_small)
    ok, msg = compare_to_oracle(df, _INVERTED_INDEX_ORACLE, sf_small)
    assert ok, msg
    rows = df.collect()
    assert rows
    for r in rows[:50]:
        ids = r.postings.split(",")
        assert len(ids) == r.df >= 2
        assert r.tf_total >= r.df
        # numeric, strictly increasing posting order
        nums = [int(x) for x in ids]
        assert nums == sorted(nums) and len(set(nums)) == len(nums)


def test_bitmap_distinct_words_merge_losslessly(spark, sf_small):
    """The SCALING.md mergeability claim, executed: aggregating two
    disjoint shards separately and OR-merging their word tables must
    equal aggregating the union directly — the property that lets
    bitmap state roll up incrementally / across datacenters."""
    import pyspark.sql.functions as F

    from map_reduce_server_spark.operators.advanced import bitmap_distinct
    from map_reduce_server_spark.tables import load_table

    ev = load_table(spark, sf_small, "events").select(
        "event_type", "user_id"
    )
    whole = {
        (r.event_type, r.n_distinct)
        for r in bitmap_distinct(ev, "event_type", "user_id").collect()
    }

    def words(df):
        bit = F.when(
            F.col("user_id").isNotNull(),
            F.expr("shiftleft(1L, CAST(user_id % 64 AS INT))"),
        )
        return df.groupBy(
            "event_type",
            (F.col("user_id") / 64).cast("long").alias("word_idx"),
        ).agg(F.bit_or(bit).alias("bits"))

    # two disjoint shards by event id parity
    ev2 = load_table(spark, sf_small, "events")
    sh0 = ev2.filter(F.col("event_id") % 2 == 0).select(
        "event_type", "user_id"
    )
    sh1 = ev2.filter(F.col("event_id") % 2 == 1).select(
        "event_type", "user_id"
    )
    merged = (
        words(sh0)
        .unionAll(words(sh1))
        .groupBy("event_type", "word_idx")
        .agg(F.bit_or("bits").alias("bits"))
        .groupBy("event_type")
        .agg(
            F.sum(F.coalesce(F.bit_count("bits"), F.lit(0))).alias(
                "n_distinct"
            )
        )
    )
    got = {(r.event_type, r.n_distinct) for r in merged.collect()}
    assert got == whole


def test_chunk_windows_matches_oracle(spark, sf_small):
    """Chunk invariants of text_chunk_windows (oracle parity runs
    in test_query_matches_oracle): contiguous chunk indices from
    0, full windows except the tail, and stride coverage of every
    token."""
    from map_reduce_server_spark.operators.text import (
        _CHUNK_S,
        _CHUNK_W,
        text_chunk_windows,
    )

    df = text_chunk_windows(spark, sf_small)
    rows = df.collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, ch in by_doc.items():
        ch.sort(key=lambda r: r.chunk_idx)
        # contiguous indices from 0; only the tail chunk may be short
        assert [r.chunk_idx for r in ch] == list(range(len(ch))), doc
        assert all(r.n_tokens == _CHUNK_W for r in ch[:-1]), doc
        assert 1 <= ch[-1].n_tokens <= _CHUNK_W, doc
        # stride coverage: every token index falls in some window
        last = ch[-1]
        total = last.chunk_idx * _CHUNK_S + last.n_tokens
        assert all(
            len(r.chunk_text.split(" ")) == r.n_tokens for r in ch
        ), doc
        assert total >= len(ch[0].chunk_text.split(" ")), doc


def test_graph_jaccard_neighbors_matches_oracle(spark, sf_small):
    """graph_jaccard_neighbors emits each unordered pair once
    (part_a < part_b) with a Jaccard score in (0, 1]."""
    from map_reduce_server_spark.operators.clustering import (
        graph_jaccard_neighbors,
    )

    df = graph_jaccard_neighbors(spark, sf_small)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.part_a < r.part_b
        assert 0.0 < r.jaccard <= 1.0


def test_hll_sketch_rollup_matches_oracle(spark, sf_small):
    """q_hll_sketch_rollup: one row per region, every per-nation
    sketch union estimating within 3 sigma of the exact count (the
    boolean the oracle asserts literally)."""
    from map_reduce_server_spark.operators.advanced import (
        q_hll_sketch_rollup,
    )

    df = q_hll_sketch_rollup(spark, sf_small)
    rows = df.collect()
    assert len(rows) == 5  # one row per region
    assert all(r.est_within_3rsd for r in rows)


def test_hll_sketch_union_equals_direct_sketch(spark, sf_small):
    """Mergeability of the sketch itself: unioning per-nation
    sketches must estimate the same value as one direct region-level
    sketch over raw rows — the property that lets per-shard sketches
    replace rescans."""
    import pyspark.sql.functions as F

    from map_reduce_server_spark.tables import load_table

    cust = load_table(spark, sf_small, "customer")
    nat = load_table(spark, sf_small, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    joined = cust.join(
        F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
    )
    direct = {
        r.n_regionkey: r.est
        for r in joined.groupBy("n_regionkey")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("c_custkey", F.lit(14))
            ).alias("est")
        )
        .collect()
    }
    merged = {
        r.n_regionkey: r.est
        for r in joined.groupBy("c_nationkey", "n_regionkey")
        .agg(F.hll_sketch_agg("c_custkey", F.lit(14)).alias("sk"))
        .groupBy("n_regionkey")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
        .collect()
    }
    assert direct == merged


def test_ann_range_search_matches_oracle(spark, sf_small):
    """ann_range_search returns only neighbors at or above the
    threshold, and never the query vector itself."""
    from map_reduce_server_spark.operators.similarity import (
        _RANGE_THETA,
        ann_range_search,
    )

    df = ann_range_search(spark, sf_small)
    rows = df.collect()
    assert rows
    assert all(r.cos_sim >= _RANGE_THETA - 1e-6 for r in rows)
    assert all(r.query_id != r.neighbor_id for r in rows)


def test_weighted_median_matches_oracle(spark, sf_small):
    """q_weighted_median yields a median and a positive total
    weight for each return flag."""
    from map_reduce_server_spark.operators.stats import (
        q_weighted_median,
    )

    df = q_weighted_median(spark, sf_small)
    rows = {r.l_returnflag: r for r in df.collect()}
    assert set(rows) == {"A", "N", "R"}
    # the median is a data value inside the group's range, and at
    # least half the group's weight sits at or below it
    for r in rows.values():
        assert r.weighted_median is not None and r.total_weight > 0


def test_weighted_median_is_weight_midpoint(spark, sf_small):
    """First-principles check: cumulative weight at the reported
    median crosses half the total, and strictly-below stays under
    half (the defining property of the lower weighted median)."""
    from pyspark.sql import functions as F

    from map_reduce_server_spark.operators.stats import q_weighted_median
    from map_reduce_server_spark.tables import load_table

    med = {
        r.l_returnflag: r.weighted_median
        for r in q_weighted_median(spark, sf_small).collect()
    }
    li = load_table(spark, sf_small, "lineitem")
    for flag, m in med.items():
        g = li.filter(F.col("l_returnflag") == flag)
        tot = g.agg(F.sum("l_quantity")).first()[0]
        at_or_below = (
            g.filter(F.col("l_extendedprice") <= m)
            .agg(F.sum("l_quantity"))
            .first()[0]
        )
        below = (
            g.filter(F.col("l_extendedprice") < m)
            .agg(F.sum("l_quantity"))
            .first()[0]
        ) or 0.0
        assert at_or_below * 2 >= tot
        assert below * 2 < tot


def test_merge_intervals_matches_oracle(spark, sf_small):
    """q_merge_intervals: every merged span covers at least one
    300 s interval, and coverage is bounded by span count times
    the longest span."""
    from map_reduce_server_spark.operators.advanced import (
        q_merge_intervals,
    )

    df = q_merge_intervals(spark, sf_small)
    rows = df.collect()
    assert rows
    # every merged span is at least one interval long (300 s) and
    # coverage is bounded by span count x longest span
    for r in rows:
        assert r.max_interval_sec >= 300
        assert r.covered_sec >= r.n_intervals * 300
        assert r.covered_sec <= r.n_intervals * r.max_interval_sec


def test_merge_intervals_contained_interval_fixture(spark):
    """A span fully inside its predecessor must NOT reopen an island
    (the lag(e)-vs-running-max trap), and touching endpoints merge."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # island 1: long interval, then one CONTAINED inside it,
        # then one TOUCHING its end exactly (s == prev_max merges)
        ("u1", 1, base),
        ("u1", 2, base + dt.timedelta(seconds=30)),
        ("u1", 3, base + dt.timedelta(minutes=5, seconds=30)),
        # island 2: strictly past the merged end
        ("u1", 4, base + dt.timedelta(minutes=20)),
        # other user: independent single island
        ("u2", 5, base),
    ]
    spark_df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp"
    )
    iv = spark_df.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.expr("ts + INTERVAL 5 MINUTES").alias("e"),
    )
    # replay the operator's sweep on the fixture (same expressions
    # as q_merge_intervals' island cut)
    from pyspark.sql import Window

    order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = order.rowsBetween(Window.unboundedPreceding, -1)
    fl = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(F.col("s") <= F.max("e").over(prev_max), 0)
        .otherwise(1)
        .alias("new_i"),
    )
    isl = fl.select(
        "user_id",
        F.sum("new_i")
        .over(order.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    per_user = {
        r.user_id: r.n
        for r in isl.groupBy("user_id")
        .agg(F.countDistinct("island").alias("n"))
        .collect()
    }
    assert per_user == {"u1": 2, "u2": 1}


def test_reservoir_sample_matches_oracle(spark, sf_small):
    """q_reservoir_sample keeps at most k distinct documents per
    source."""
    from map_reduce_server_spark.operators.curation import (
        _RSV_K,
        q_reservoir_sample,
    )

    df = q_reservoir_sample(spark, sf_small)
    rows = df.collect()
    assert rows
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r)
    for src, rs in per_src.items():
        assert len(rs) <= _RSV_K
        assert len({r.doc_id for r in rs}) == len(rs)


def test_reservoir_sample_is_mergeable(spark, sf_small):
    """The mergeability claim in the docstring, executed: the
    bottom-k of a partition union equals re-taking the bottom-k of
    the per-partition bottom-k sets."""
    from pyspark.sql import functions as F

    from map_reduce_server_spark.functions.hashing import uniform01
    from map_reduce_server_spark.operators.curation import _RSV_K
    from map_reduce_server_spark.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    keyed = docs.select(
        "source", "doc_id", uniform01("rsv", F.col("doc_id")).alias("u")
    )
    direct = {
        (r.source, r.doc_id)
        for r in keyed.sort("u", "doc_id").limit(_RSV_K).collect()
    }
    # split by doc parity, reservoir each half, merge, re-take k
    half_a = keyed.filter(F.col("doc_id") % 2 == 0).sort("u", "doc_id").limit(_RSV_K)
    half_b = keyed.filter(F.col("doc_id") % 2 == 1).sort("u", "doc_id").limit(_RSV_K)
    merged = {
        (r.source, r.doc_id)
        for r in half_a.unionAll(half_b).sort("u", "doc_id").limit(_RSV_K).collect()
    }
    assert direct == merged


def test_shortest_paths_matches_oracle(spark, sf_small):
    """graph_shortest_paths: every path lists hops + 1 node ids
    and ends at its node."""
    from map_reduce_server_spark.operators.clustering import (
        graph_shortest_paths,
    )

    df = graph_shortest_paths(spark, sf_small)
    rows = df.collect()
    assert rows
    for r in rows:
        ids = r.path.split(",")
        # path length = hops + 1, ends at the node, starts at seed
        assert len(ids) == r.hops + 1
        assert ids[-1] == str(r.part_id)


def test_shortest_paths_min_parent_replay(spark):
    """Random small graph: paths must equal a Python BFS + min-parent
    replay — hop-minimal AND choosing the smallest predecessor at
    every step, not just any shortest path."""
    import random

    from map_reduce_server_spark.operators.clustering import shortest_paths

    rng = random.Random(23)
    n = 14
    und = {
        tuple(sorted((rng.randrange(n), rng.randrange(n))))
        for _ in range(22)
    }
    und = sorted((a, b) for a, b in und if a != b)
    seed = min(min(e) for e in und)
    # Python replay
    adj: dict[int, set] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    hops = {seed: 0}
    frontier = [seed]
    max_hops = 4
    for h in range(1, max_hops + 1):
        nxt = sorted(
            {v for u in frontier for v in adj[u] if v not in hops}
        )
        for v in nxt:
            hops[v] = h
        frontier = nxt
    parent = {
        v: min(p for p in adj[v] if hops.get(p, 99) == h - 1)
        for v, h in hops.items()
        if h > 0
    }
    def path(v):
        chain = [v]
        while chain[0] != seed:
            chain.insert(0, parent[chain[0]])
        return ",".join(str(x) for x in chain)
    expected = {(v, h, path(v)) for v, h in hops.items()}
    edges = spark.createDataFrame(und, ["u", "v"])
    got = {
        (r.node, r.hops, r.path)
        for r in shortest_paths(edges, max_hops).collect()
    }
    assert got == expected


def test_cumulative_distinct_users_matches_oracle(spark, sf_small):
    """q_cumulative_distinct_users: the cumulative count is the
    running sum of first arrivals and ends at the total user
    count."""
    from map_reduce_server_spark.operators.advanced import (
        q_cumulative_distinct_users,
    )

    df = q_cumulative_distinct_users(spark, sf_small)
    rows = sorted(df.collect(), key=lambda r: r.day_num)
    # the defining identities: cumulative is non-decreasing, equals
    # the running sum of arrivals, and ends at the total user count
    running = 0
    for r in rows:
        running += r.n_new
        assert r.cum_users == running
        assert r.n_new <= r.n_active
    from pyspark.sql import functions as F

    from map_reduce_server_spark.tables import load_table

    total = (
        load_table(spark, sf_small, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[-1].cum_users == total


def test_sequence_mining_matches_oracle(spark, sf_small):
    """q_sequence_mining obeys the Apriori property: a triple's
    support never exceeds its prefix pair's."""
    from map_reduce_server_spark.operators.advanced import (
        q_sequence_mining,
    )

    df = q_sequence_mining(spark, sf_small)
    rows = {(r.t1, r.t2, r.t3): r.n_users for r in df.collect()}
    assert rows
    # support monotonicity (Apriori property, order-3 -> order-2
    # prefix): a triple's support cannot exceed its prefix pair's.
    # Derive pair support directly from the same path table logic.
    from pyspark.sql import functions as F

    from map_reduce_server_spark.operators.advanced import _SEQ_TYPES
    from map_reduce_server_spark.tables import load_table

    ev = load_table(spark, sf_small, "events")
    mapping = F.create_map(
        *[F.lit(x) for pair in _SEQ_TYPES for x in pair]
    )
    paths = (
        ev.filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin([t for t, _ in _SEQ_TYPES])
        )
        .select(
            "user_id", "ts", "event_id",
            mapping[F.col("event_type")].alias("c"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "c"))
                ).getField("c"),
            ).alias("path")
        )
    )
    import re

    path_list = [r.path for r in paths.collect()]
    for (t1, t2, t3), n in rows.items():
        pair = sum(
            1 for p in path_list if re.search(f"{t1}.*{t2}", p)
        )
        assert n <= pair, (t1, t2, t3)


def test_sequence_mining_subsequence_fixture(spark):
    """Hand-built check: interleaving noise must not break
    containment, and REVERSED order must not count (the regex is a
    subsequence test, not a bag test)."""
    import datetime as dt
    import tempfile

    from map_reduce_server_spark.operators.advanced import (
        q_sequence_mining,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: s ... e ... c ... p  (s->c->p holds with noise)
        (1, base, 1, "signup"),
        (2, base + dt.timedelta(minutes=1), 1, "error"),
        (3, base + dt.timedelta(minutes=2), 1, "click"),
        (4, base + dt.timedelta(minutes=3), 1, "purchase"),
        # user 2: p ... c ... s (REVERSE order only)
        (5, base, 2, "purchase"),
        (6, base + dt.timedelta(minutes=1), 2, "click"),
        (7, base + dt.timedelta(minutes=2), 2, "signup"),
    ]
    d = tempfile.mkdtemp()
    _write_events(spark, d, rows)
    got = {
        (r.t1, r.t2, r.t3): r.n_users
        for r in q_sequence_mining(spark, d).collect()
    }
    assert got.get(("s", "c", "p")) == 1  # user 1 only
    assert ("p", "c", "s") in got  # user 2's reverse chain
    assert got[("p", "c", "s")] == 1
    assert got.get(("s", "e", "c")) == 1  # noise chain is itself a seq


def test_rolling_zscore_matches_oracle(spark, sf_small):
    """q_rolling_zscore: a population-sigma z-score of a window
    member is bounded by sqrt(n - 1)."""
    from map_reduce_server_spark.operators.advanced import (
        _RZ_W,
        q_rolling_zscore,
    )

    df = q_rolling_zscore(spark, sf_small)
    rows = df.collect()
    assert rows
    # a population-σ z-score of the window's own member is bounded
    # by sqrt(n-1) (single-outlier extremal configuration)
    bound = (_RZ_W - 1) ** 0.5 + 1e-9
    assert all(abs(r.z) <= bound for r in rows)


def test_k_core_matches_oracle(spark, sf_small):
    """graph_k_core: every survivor keeps at least k neighbors
    inside the core."""
    from map_reduce_server_spark.operators.clustering import (
        _KCORE_K,
        graph_k_core,
    )

    df = graph_k_core(spark, sf_small)
    # the defining invariant: every survivor keeps >= k neighbors
    # INSIDE the core
    assert all(r.core_degree >= _KCORE_K for r in df.collect())


def test_k_core_matches_python_replay(spark):
    """Random graphs: the distributed peel must equal a plain Python
    peeling replay — survivors AND their in-core degrees."""
    import random

    from map_reduce_server_spark.operators.clustering import k_core

    rng = random.Random(31)
    for trial in range(3):
        n = 16
        und = {
            tuple(sorted((rng.randrange(n), rng.randrange(n))))
            for _ in range(24 + 6 * trial)
        }
        und = sorted((a, b) for a, b in und if a != b)
        k = 2 + trial % 2
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        while True:
            drop = [v for v, s in adj.items() if len(s) < k]
            if not drop:
                break
            for v in drop:
                for m in adj[v]:
                    adj[m].discard(v)
                del adj[v]
        expected = {(v, len(s)) for v, s in adj.items()}
        edges = spark.createDataFrame(und, ["u", "v"])
        got = {
            (r.node, r.core_degree)
            for r in k_core(edges, k, 20).collect()
        }
        assert got == expected, (trial, k)
