"""The driver-rotation order is derived from the CORRECTNESS_r*.json
files, never kept by hand.

The driver verifies a ~50-query prefix of ``all_queries()`` each
round, so the registry orders itself stalest-first: queries with no
green row certifying the current code, then the rest by the round of
their freshest green row, oldest first. These tests pin that
derivation against the real files and against synthetic ones in a
temporary directory.

No Spark session needed — pure JSON + module attributes.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from map_reduce_server_spark import registry

REPO = Path(__file__).resolve().parents[1]


def _row(**over) -> dict:
    """A green driver row, with any field overridden."""
    row = {"rows_match": True, "schema_match": True, "hash_match": True,
           "err": None}
    row.update(over)
    return row


def _write_round(root: Path, n: int, rows: dict) -> None:
    (root / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))


def _order(root: Path, names: list[str]) -> list[str]:
    return list(registry._stale_first(dict.fromkeys(names), root))


def test_latest_round_greens_are_the_tail():
    """The freshest driver round's greens occupy a contiguous tail of
    ``all_queries()`` — the next window goes to staler queries."""
    rounds = {
        int(m.group(1)): p
        for p in REPO.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    }
    assert rounds, "no CORRECTNESS_r*.json next to the package"
    n = max(rounds)
    greens = {
        name
        for name, r in json.loads(rounds[n].read_text()).items()
        if r["rows_match"] and r["schema_match"] and not r["err"]
        and r["hash_match"] is not False
        and registry.RECERTIFY.get(name, 0) <= n
    }
    order = list(registry.all_queries())
    tail = sorted(order.index(name) for name in greens if name in order)
    assert tail
    assert tail == list(range(len(order) - len(tail), len(order)))


def test_order_ignores_working_directory(tmp_path, monkeypatch):
    """The files are read next to the package, not from the cwd."""
    before = list(registry.all_queries())
    monkeypatch.chdir(tmp_path)
    assert list(registry.all_queries()) == before


def test_never_green_first_then_oldest_round_first(tmp_path):
    _write_round(tmp_path, 2, {"c_r2": _row(), "d_r2_r3": _row()})
    _write_round(tmp_path, 3, {"a_r3": _row(), "d_r2_r3": _row()})
    order = _order(tmp_path, ["a_r3", "b_new", "c_r2", "d_r2_r3"])
    # d's freshest row is round 3; ties keep registration order
    assert order == ["b_new", "c_r2", "a_r3", "d_r2_r3"]


def test_failed_rows_are_not_green(tmp_path):
    _write_round(tmp_path, 2, {
        "green": _row(),
        "rows_only": _row(hash_match=None),
        "err": _row(err="Py4JJavaError"),
        "hash_mismatch": _row(hash_match=False),
        "rows_mismatch": _row(rows_match=False),
        "schema_mismatch": _row(schema_match=False),
    })
    order = _order(tmp_path, [
        "green", "rows_only", "err", "hash_mismatch", "rows_mismatch",
        "schema_mismatch",
    ])
    assert order == [
        "err", "hash_mismatch", "rows_mismatch", "schema_mismatch",
        "green", "rows_only",
    ]


def test_changed_name_recertified_by_later_round_counts_green(
    tmp_path, monkeypatch
):
    """A RECERTIFY name counts green again once a round at or after
    its number certifies it — an entry expires on its own."""
    monkeypatch.setattr(registry, "RECERTIFY", {"changed": 3})
    _write_round(tmp_path, 2, {"changed": _row(), "old": _row()})
    _write_round(tmp_path, 3, {"changed": _row(), "fresh": _row()})
    order = _order(tmp_path, ["changed", "fresh", "old"])
    assert order == ["old", "changed", "fresh"]


def test_changed_name_never_recertified_stays_head(tmp_path, monkeypatch):
    """A RECERTIFY name whose green rows all predate its number stays
    at the head, however recent those rows are."""
    monkeypatch.setattr(registry, "RECERTIFY", {"changed": 4})
    _write_round(tmp_path, 2, {"old": _row()})
    _write_round(tmp_path, 3, {"changed": _row(), "fresh": _row()})
    order = _order(tmp_path, ["old", "fresh", "changed"])
    assert order == ["changed", "old", "fresh"]


def test_new_round_file_moves_order(tmp_path):
    """A new driver round reorders the registry with no code edit."""
    names = ["a", "b", "c"]
    _write_round(tmp_path, 2, {"a": _row(), "b": _row()})
    _write_round(tmp_path, 3, {"c": _row()})
    assert _order(tmp_path, names) == ["a", "b", "c"]
    _write_round(tmp_path, 17, {"a": _row()})
    assert _order(tmp_path, names) == ["b", "c", "a"]


def test_no_files_means_registration_order(tmp_path):
    registry.load_all()
    order = list(registry._stale_first(registry.QUERIES, tmp_path))
    assert order == list(registry.QUERIES)
