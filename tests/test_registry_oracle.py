"""Every registered query with an oracle must hash-match DuckDB at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01) so breakage is
caught locally first. Queries without an oracle get a rows-run check.
"""

from __future__ import annotations

import pytest

from bigdatafinalproject_spark import registry
from tests.conftest import SF_DIR, assert_df_matches_oracle


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


def test_registry_holds_every_query():
    # a query module dropped from the import would shrink this silently
    assert len(registry.QUERIES) == 253


def test_missing_query_module_fails_loudly(monkeypatch):
    monkeypatch.setattr(registry, "_MODULES", ("no_such_queries_module",))
    with pytest.raises(ModuleNotFoundError, match="no_such_queries_module"):
        registry._load_all()
