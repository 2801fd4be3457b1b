"""Central query registry feeding ``__spark_entry__.py``.

Every operator the engine implements registers a named query
(``(spark, sf_dir) -> DataFrame``) and, when SQL-expressible, a
DuckDB oracle SQL twin. This replaces the reference's golden-file
test corpus (reference ``tests/testdata/correct/*``) with an
executable oracle, per SURVEY.md §5.
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from map_reduce_server_spark import tables

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
# Queries worth timing at sf0.1 (bench.py headline set).
BENCH_QUERIES: list[str] = []
# Optional untimed fixture staging, run by bench.py BEFORE the timed
# region — for queries whose inputs must first be materialized in a
# non-parquet layout (e.g. the MapReduce façade's text directory).
# Correctness runs ignore this (the query stages lazily on its own).
PREPARE: dict[str, Callable[[SparkSession, str], None]] = {}


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    prepare: Callable[[SparkSession, str], None] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query, its oracle SQL, bench flag,
    and optional untimed fixture-staging hook."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Pin session-level semantics up front so results are
            # identical and ORDER-INDEPENDENT in any session —
            # including the grading driver's vanilla one, which would
            # otherwise render timestamps under the JVM default TZ
            # until the first events load flips the conf mid-session.
            tables.pin_utc_session(spark)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # Spark 4 defaults ANSI ON (x/0 throws); the oracle
            # contract is NULL-on-zero — a degenerate group must
            # yield a NULL cell like DuckDB, not crash the query.
            spark.conf.set("spark.sql.ansi.enabled", "false")
            # ...but non-ANSI silently re-enables the LEGACY
            # size(NULL) = -1 behavior, which no oracle can mirror
            # (DuckDB len(NULL) is NULL): a NULL document would give
            # n_tokens=-1, ratio=-1.0, even a wrong lang_guess.
            # Pin the modern NULL-in-NULL-out semantics explicitly.
            spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
            return fn(spark, sf_dir)

        if oracle is not None:
            # The storage form collapses ALL whitespace — including
            # inside quoted SQL literals. Single internal spaces
            # survive the collapse; any OTHER whitespace char (tab,
            # newline, \r, \v, \f, NBSP — anything str.split treats
            # as whitespace) or a 2+ run would be silently rewritten
            # into a different literal (a baffling oracle mismatch
            # with no pointer to the cause), so refuse it loudly at
            # registration. Odd-indexed split segments are the
            # inside-quote spans.
            # A doubled quote ('') is SQL's escaped apostrophe: it
            # flips the odd/even parity of a naive split and every
            # span after it would be misclassified. Collapse each
            # pair to a sentinel BEFORE splitting — the sentinel is
            # data inside whichever span it lands in, keeping the
            # remaining quotes as genuine string delimiters.
            parsed = oracle.replace("''", "\x00")
            for lit in parsed.split("'")[1::2]:
                if "  " in lit or any(
                    c.isspace() and c != " " for c in lit
                ):
                    # report the literal as the author wrote it, not
                    # the sentinel form
                    shown = lit.replace("\x00", "''")
                    raise ValueError(
                        f"oracle for {name!r} contains a quoted literal "
                        f"({shown!r}) that whitespace collapsing would "
                        "corrupt — use a single space or an escape "
                        "(chr()/concat) instead"
                    )
            # A line comment would swallow the REST OF THE QUERY once
            # everything is collapsed onto one line. Only the
            # outside-quote spans can start a comment — a quoted
            # '--' is legitimate data (even-indexed split segments).
            if any("--" in seg for seg in parsed.split("'")[0::2]):
                raise ValueError(
                    f"oracle for {name!r} contains a '--' line comment, "
                    "which whitespace collapsing would extend over the "
                    "whole remaining query — remove it"
                )
        if name in QUERIES:
            # refuse loudly, like the literal/comment lints above: a
            # duplicate name would silently shadow the earlier query
            # (shrinking the corpus the gate checks) and double-time
            # a bench entry
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = pinned
        if oracle is not None:
            ORACLE[name] = " ".join(oracle.split())
        if bench:
            BENCH_QUERIES.append(name)
        if prepare is not None:
            PREPARE[name] = prepare
        # return the PINNED wrapper, not the raw fn: direct imports
        # of a query function (notebooks, internal composition like
        # dedup_cluster -> dedup_minhash_lsh) must get the same
        # session-conf guarantees the registry path gets
        return pinned

    return deco


_LOADED = False


def load_all() -> None:
    """Import every operator module so registrations run."""
    global _LOADED
    if _LOADED:
        return
    # Imports are for registration side effects only.
    from map_reduce_server_spark.operators import (  # noqa: F401
        advanced,
        clustering,
        curation,
        dedup,
        multimodal,
        relational,
        retrieval,
        similarity,
        stats,
        subqueries,
        text,
        tpch,
        udf,
    )
    from map_reduce_server_spark.mapreduce import queries  # noqa: F401
    from map_reduce_server_spark.streaming import events, joins  # noqa: F401

    _LOADED = True


# Driver verification history: each CORRECTNESS_rNN.json next to the
# package holds one round's driver rows for a ~50-query prefix of
# ``all_queries()``. To spend that window on the stalest queries,
# ``all_queries``/``all_oracles`` put the queries with no green row
# certifying the current code first (new registrations, RECERTIFY
# names), then the rest by the round of their freshest green row,
# oldest first. Local oracle-parity tests cover every query regardless.
_ROOT = Path(__file__).resolve().parents[1]

# Queries whose result or plan changed after their last green driver
# row: each needs a green row from round >= N before it leaves the
# head. An entry goes stale on its own once such a row lands.
RECERTIFY: dict[str, int] = {
    name: 17
    for name in (
        "graph_pagerank",
        "q_hybrid_retrieval_rrf",
        "multimodal_decode_jpeg",
        "multimodal_decode_jpeg_progressive",
        "multimodal_decode_jpeg_color",
        "multimodal_decode_video",
        "multimodal_decode_flac",
        "multimodal_decode_gif",
    )
}


def _freshest_green(root: Path) -> dict[str, int]:
    """Query name -> the latest round under ``root`` with a green row:
    rows and schema matched, no error, and the value hash matched (or
    is null, a rows-only check)."""
    fresh: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        n = int(m.group(1))
        for name, r in json.loads(path.read_text()).items():
            green = (
                r.get("rows_match")
                and r.get("schema_match")
                and not r.get("err")
                and r.get("hash_match") in (True, None)
            )
            if green and n > fresh.get(name, 0):
                fresh[name] = n
    return fresh


def _stale_first(d: dict, root: Path = _ROOT) -> dict:
    fresh = _freshest_green(root)

    def round_of(name: str) -> int:
        n = fresh.get(name, 0)
        return n if n >= RECERTIFY.get(name, 0) else 0

    return {k: d[k] for k in sorted(d, key=round_of)}


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return _stale_first(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return _stale_first(ORACLE)


def bench_query_names() -> list[str]:
    load_all()
    return list(BENCH_QUERIES)
