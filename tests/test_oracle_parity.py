"""The correctness gate, run locally: every registered query with an
oracle must hash-match DuckDB at sf0.001 (fast) — the driver runs the
same comparison at sf0.01."""

from __future__ import annotations

import pytest

from map_reduce_server_spark import registry

registry.load_all()

_ORACLE_NAMES = sorted(registry.all_oracles())


@pytest.mark.parametrize("name", _ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_small, name):
    from tests.oracle_utils import compare_to_oracle

    qfn = registry.all_queries()[name]
    oracle = registry.all_oracles()[name]
    df = qfn(spark, sf_small)
    ok, msg = compare_to_oracle(df, oracle, sf_small)
    assert ok, f"{name}: {msg}"


def test_every_query_runs(spark, sf_small):
    """Queries without oracles still must run and return a schema
    (the ones with an oracle run in test_query_matches_oracle)."""
    for name, fn in registry.all_queries().items():
        if name in registry.ORACLE:
            continue
        df = fn(spark, sf_small)
        assert df.columns, f"{name} returned no columns"


def test_every_oracle_constant_is_registered():
    """No parked operators: every module-level ``*_ORACLE`` string in
    ``operators/`` and ``streaming/`` is some registered query's oracle
    (compared in the registry's whitespace-collapsed storage form)."""
    import importlib
    import pkgutil

    from map_reduce_server_spark import operators, streaming

    registered = set(registry.ORACLE.values())
    parked = []
    for pkg in (operators, streaming):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            parked += [
                f"{info.name}.{attr}"
                for attr, value in vars(mod).items()
                if attr.endswith("_ORACLE")
                and isinstance(value, str)
                and " ".join(value.split()) not in registered
            ]
    assert not parked, parked


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
