"""Shared pytest fixtures: one SparkSession + DuckDB mini-oracle."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"

from bigdatafinalproject_spark.catalog import TABLES, table_path  # noqa: E402
from bigdatafinalproject_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="bdfp-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


def duck_views(sf_dir: str):
    """DuckDB connection with ``sf_dir``'s tables registered as views."""
    con = duckdb.connect()
    for name in TABLES:
        p = table_path(sf_dir, name)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same tables registered as views."""
    con = duck_views(SF_DIR)
    yield con
    con.close()


def assert_df_matches_oracle(spark_df, duck_con, sql, float_tol=0.0):
    """Order-insensitive comparison of a Spark DataFrame vs DuckDB SQL."""
    assert_frames_match(
        spark_df.toPandas(), duck_con.execute(sql).fetchdf(), float_tol
    )


def assert_frames_match(sdf, ddf, float_tol=0.0):
    """Order-insensitive comparison of a Spark result vs its DuckDB
    oracle, both as pandas frames.

    Mirrors the driver's check: sort columns by name, sort rows, compare
    values (exact by default — our queries are engineered to be
    bit-identical across engines). ``scripts/oracle_sweep.py`` judges
    the full registry with this same function.
    """
    import math

    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"columns differ: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"
    )
    cols = sorted(sdf.columns)

    if float_tol > 0:
        # Tolerance-stable row alignment: floats that differ within tol
        # could repr-sort into different positions on each side. Sort
        # primarily on the non-float values; floats participate only as
        # a numeric (not repr) secondary key, so near-equal values stay
        # adjacent and pair up.
        def sort_key(row):
            hard = tuple(
                repr(v) for v in row if not isinstance(v, float)
            )
            soft = tuple(
                (0.0 if math.isnan(v) else v) for v in row if isinstance(v, float)
            )
            return (hard, soft)
    else:
        sort_key = repr

    srows = sorted(map(tuple, sdf[cols].itertuples(index=False)), key=sort_key)
    drows = sorted(map(tuple, ddf[cols].itertuples(index=False)), key=sort_key)
    assert len(srows) == len(drows), f"row counts differ: {len(srows)} vs {len(drows)}"
    for i, (sr, dr) in enumerate(zip(srows, drows)):
        for sv, dv in zip(sr, dr):
            if isinstance(sv, float) and isinstance(dv, float):
                if math.isnan(sv) and math.isnan(dv):
                    continue
                assert abs(sv - dv) <= float_tol, f"row {i}: {sr} vs {dr}"
            else:
                assert str(sv) == str(dv), f"row {i}: {sr} vs {dr}"
