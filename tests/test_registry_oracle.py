"""Every registered query with an oracle must hash-match DuckDB at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01) so breakage is
caught locally first. Queries without an oracle get a rows-run check.
"""

from __future__ import annotations

import importlib.util

import pytest

from bigdatafinalproject_spark import registry
from tests.conftest import REPO, SF_DIR, assert_df_matches_oracle


def _params():
    return sorted(registry.QUERIES)


@pytest.mark.parametrize("name", _params())
def test_query_matches_oracle(spark, duck, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    if name in registry.ORACLES:
        assert_df_matches_oracle(df, duck, registry.ORACLES[name])
    else:
        # weaker rows-only check, mirroring the driver
        assert df.count() >= 0


def test_driver_contract_orders_front_then_registry():
    """``__spark_entry__``, loaded by path as the driver loads it: the
    driver checks the first 50 of ``queries()``, so ``_FRONT`` (at most
    50 registered names, no repeats) comes first, then every other
    query in registry order, and the oracles are the registry's."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    front = list(mod._FRONT)
    assert len(front) == len(set(front)) <= 50, front
    assert set(front) <= set(registry.QUERIES), set(front) - set(registry.QUERIES)
    qs = mod.queries()
    assert list(qs)[: len(front)] == front
    assert list(qs)[len(front):] == [n for n in registry.QUERIES if n not in front]
    assert all(fn is registry.QUERIES[n] for n, fn in qs.items())
    assert mod.oracle_sql() == registry.ORACLES


def test_registry_holds_every_query():
    # a query module dropped from the import would shrink this silently
    assert len(registry.QUERIES) == 253


def test_missing_query_module_fails_loudly(monkeypatch):
    monkeypatch.setattr(registry, "_MODULES", ("no_such_queries_module",))
    with pytest.raises(ModuleNotFoundError, match="no_such_queries_module"):
        registry._load_all()


def test_each_query_module_imported_first_loads_the_full_registry():
    """Importing any query module before the registry, in a fresh
    interpreter, still ends with every query registered and every
    ``oracle_of`` link resolved — including links INTO the module
    imported first."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import importlib, sys\n"
        "importlib.import_module("
        "'bigdatafinalproject_spark.queries.' + sys.argv[1])\n"
        "from bigdatafinalproject_spark import registry\n"
        "print(len(registry.QUERIES))\n"
    )
    env = dict(os.environ, PYTHONPATH=repo)
    mods = list(registry._MODULES)
    for i in range(0, len(mods), 4):
        procs = {
            m: subprocess.Popen(
                [sys.executable, "-c", code, m], env=env, cwd=repo,
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            )
            for m in mods[i:i + 4]
        }
        for m, p in procs.items():
            out, err = p.communicate(timeout=120)
            assert p.returncode == 0, (m, err[-2000:])
            assert out.strip() == "253", (m, out)


def test_unknown_oracle_of_names_both_queries(monkeypatch):
    monkeypatch.setattr(registry, "_LINKS", {"twin_q": "no_such_q"})
    with pytest.raises(ValueError, match="'twin_q'.*'no_such_q'"):
        registry._resolve_links()


def test_udaf_median_builds_without_pandas_udf_type_warning(spark):
    """``events_udaf_median`` declares its grouped-agg pandas UDFs by
    type hints: building it emits none of the warnings Spark raises for
    the ``PandasUDFType`` form."""
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        registry.QUERIES["events_udaf_median"](spark, SF_DIR)
    hinted = [w for w in caught if "type hints" in str(w.message)]
    assert not hinted, [str(w.message) for w in hinted]
