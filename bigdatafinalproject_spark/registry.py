"""Query registry: every implemented operator exposed as a named query.

This is the single source for ``__spark_entry__.queries()`` /
``oracle_sql()``. Each entry maps a SURVEY.md §2 operator (or a net-new
LLM-pipeline operator) onto the driver's test star schema
(region/nation/customer/supplier/part/orders/lineitem/events/
documents/embeddings — TESTDATA.md).

Conventions (driver contract):
- every computed column is aliased IDENTICALLY in the Spark query and
  the DuckDB oracle SQL;
- float aggregates use the decimal-sum trick (functions.dsum/davg) so
  values are bit-identical across engines;
- hashes / pseudo-randomness use md5-derived portable hashes
  (functions.portable_hash64), never engine-native hash() or rand();
- timestamps leaving a query are formatted to strings.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_MODULES = (
    "flagship",
    "relational",
    "joins",
    "aggregates",
    "windows",
    "ids_splits",
    "recommend",
    "similarity",
    "text_dedup",
    "ann",
    "events",
    "streaming",
    "multimodal",
    "sql_json",
    "arrays",
    "neardup_streamjoin",
    "ivf_ranking",
    "ivfpq",
    "percentiles_bands",
    "etl_quality",
    "pipeline_ops",
    "funnels",
    "graph_skew",
    "clustering",
    "layout",
    "jdbc",
    "corpus_mix",
    "privacy",
    "sketches",
    "formats",
    "modern_sql",
    "tpch",
    "tpcds_shapes",
    "pruning",
)


def query(name: str, oracle: str | None = None, oracle_of: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable + its oracle.

    ``oracle_of`` shares another registered query's oracle verbatim —
    for result-identical twins (e.g. a persisted-index serve path vs
    its end-to-end build+search query), where a shared oracle IS the
    equivalence theorem the driver then checks. The referenced query
    must already be registered (module import order)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        if oracle is not None and oracle_of is not None:
            raise ValueError(f"{name!r}: pass oracle OR oracle_of, not both")
        if oracle_of is not None and oracle_of not in ORACLES:
            # validate BEFORE mutating QUERIES so a bad reference can't
            # leave a half-registered query behind (import-order
            # contract enforced with a descriptive error)
            raise ValueError(
                f"{name!r}: oracle_of={oracle_of!r} is not a registered "
                f"oracle-bearing query (check _MODULES import order)"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        elif oracle_of is not None:
            ORACLES[name] = ORACLES[oracle_of]
        return fn

    return deco


def _load_all() -> None:
    """Import every query module. A listed module that does not import
    raises (``ModuleNotFoundError`` names it) rather than silently
    dropping its queries from the registry."""
    for mod in _MODULES:
        importlib.import_module(f"bigdatafinalproject_spark.queries.{mod}")


_load_all()
