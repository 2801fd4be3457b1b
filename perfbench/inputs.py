"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from the run's
seed: the star-schema parquet tables the registered queries scan, and
the text corpus the MapReduce jobs consume. The same seed gives
byte-identical files.

The tables follow the schemas and value domains of the engine's
synthetic star schema (TPC-H-like tables plus ``events``,
``documents`` and ``embeddings``): uniform keys, the same categorical
vocabularies and date ranges, so the queries' filters select the same
shares of rows as on the project's test data.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH = datetime(1970, 1, 1)


def _day_us(d: datetime) -> int:
    return (d - _EPOCH).days * _DAY_US


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: datetime, last: datetime, n: int):
    lo, hi = _day_us(first) // _DAY_US, _day_us(last) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()


def star_schema_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (lineitem has 6M x sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_doc = max(10, int(50_000 * sf))
    n_users = max(5, int(15_000 * sf))
    i32 = pa.int32()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    _pick(rng, ["small", "red", "blue", "green", "large",
                                "steel", "brass", "tiny"], n_part),
                    _pick(rng, ["ring", "widget", "bolt", "gear", "nut",
                                "pipe", "valve", "spring"], n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, datetime(1995, 1, 1),
                                 datetime(2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, datetime(1995, 1, 2),
                                datetime(2001, 11, 4), n_li),
        }),
    }
    # events: strictly increasing microsecond timestamps over 30 days
    start = _day_us(datetime(2024, 1, 1))
    ts = np.sort(rng.choice(30 * _DAY_US, n_ev, replace=False)) + start
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(_pick(rng, _WORDS, int(k)))
        for k in rng.integers(8, 90, n_doc)
    ]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_doc, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), i32),
    })
    return out


def write_star_schema(dest: str, seed: int, sf: float) -> str:
    """Write ``{dest}/{table}.parquet`` for every table; returns ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for name, table in star_schema_tables(seed, sf).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest


# --- MapReduce corpus -------------------------------------------------

_LETTERS = "abcdefghijklmnoprstuvw"  # no q, x, y, z: the grep term uses them


def corpus_lines(seed: int, n_lines: int, vocab: int = 5000) -> tuple[list[list[str]], str]:
    """Zipf-distributed text, split into uneven files, plus one empty file.

    Returns ``(files, grep_term)``: ``files`` is a list of line lists in
    file-name order, ``grep_term`` a token that occurs in about one line
    in 200 (and is a substring of no other token, because vocabulary
    words never contain q, x, y or z). Words are mixed case and a few
    lines hold a double space, so the mapper's lowercasing and its
    empty-token rule are both exercised.
    """
    rng = np.random.default_rng([seed, 2])
    words = sorted({
        "".join(rng.choice(list(_LETTERS), int(k)))
        for k in rng.integers(2, 10, vocab * 2)
    })[:vocab]
    rng.shuffle(words)
    grep_term = "qz" + "".join(rng.choice(list("xyz"), 3))
    ranks = np.arange(1, len(words) + 1)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    lens = rng.integers(4, 16, n_lines)
    flat = rng.choice(len(words), int(lens.sum()), p=p)
    lines, pos = [], 0
    for k in lens:
        toks = [words[i] for i in flat[pos:pos + k]]
        pos += k
        if rng.random() < 0.005:
            toks[rng.integers(0, k)] = grep_term
        if rng.random() < 0.1:
            toks[0] = toks[0].capitalize()
        sep = "  " if rng.random() < 0.02 else " "
        lines.append(sep.join(toks))
    # 9 data files of uneven size plus one empty file: more files than
    # mappers, so the reference's round-robin dealing is exercised
    cuts = np.sort(rng.choice(np.arange(1, n_lines), 8, replace=False))
    files = [list(part) for part in np.split(np.array(lines, dtype=object), cuts)]
    files.insert(int(rng.integers(0, len(files) + 1)), [])
    return files, grep_term


def write_corpus(dest: str, files: list[list[str]]) -> str:
    os.makedirs(dest, exist_ok=True)
    for i, lines in enumerate(files):
        with open(os.path.join(dest, f"file{i:02d}"), "w") as fh:
            fh.writelines(line + "\n" for line in lines)
    return dest


def wordcount_mapped(files: list[list[str]]) -> Counter:
    """Mapper output lines of ``wc_map.py`` as a multiset."""
    return Counter(
        f"{tok}\t1" for lines in files for line in lines
        for tok in re.split(r"[ \t]", line.lower())
    )


def grep_mapped(files: list[list[str]], term: str) -> Counter:
    """Mapper output lines of ``grep_map.py`` for ``term`` as a multiset."""
    return Counter(
        f"1\t{line.strip()}" for lines in files for line in lines
        if line.strip() and term.lower() in line.lower()
    )


def expected_outputs(mapped: Counter, kind: str, num_reducers: int) -> dict[int, Counter]:
    """Reducer output per output file, derived from the mapper multiset.

    The group stage deals each distinct mapper line to reducer
    ``rank % R``, rank being its position in byte order, and every
    copy of a line goes with it. The wordcount reducer prints
    ``word<TAB>count`` per distinct line; the grep reducer prints the
    line after the tab once per copy.
    """
    out: dict[int, Counter] = {r: Counter() for r in range(num_reducers)}
    for rank, line in enumerate(sorted(mapped, key=lambda s: s.encode())):
        key, _, rest = line.partition("\t")
        if kind == "wordcount":
            out[rank % num_reducers][f"{key}\t{mapped[line]}"] += 1
        else:
            out[rank % num_reducers][rest] += mapped[line]
    return out
