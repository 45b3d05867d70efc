"""Table catalog: load the test-data star schema and register SQL views.

Plays the role the reference's per-script ``load_table`` JDBC helper
played (reference: ALS_model3.py:67-73, duplicated in five other
scripts) — one place that knows where tables live and hands out
DataFrames — but parquet-first, with temp views registered so the
``spark.sql`` entry point (reference: sample_users.py:21-29 raw
sqlite3 SQL) shares the same Catalyst path.

Every table read goes through ``sources.readers.read_parquet``, so only
the first load of a table (per file state and schema confs) runs
Spark's schema-inference job; building a query that loads tables
already seen starts no Spark job for the loads.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from bigdatafinalproject_spark.sources.readers import read_parquet

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at ANY scale factor (region/nation
# are fixed-size; part/supplier/customer grow with SF and are left to
# Catalyst's size-based broadcast decision + AQE).
ALWAYS_BROADCAST = {"region", "nation"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_SCRATCH: set[str] = set()


def scratch_dir(sf_dir: str, kind: str) -> str:
    """This process's scratch path for ``kind`` over ``sf_dir``:
    ``bdfp_<kind>_<sf_dir hash>_<pid>`` in the temporary directory.

    The pid keeps concurrent pytest/bench/driver processes apart, and
    embedded Derby boots a database directory from one JVM only. The
    path is not created here. It is removed at interpreter exit, with
    every ``<path>_*`` sibling: a WAP-published path is a symlink to
    ``<path>_v<N>`` versions beside a ``<path>_log``. A caller that may
    run twice in one process removes the path first itself."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(
        tempfile.gettempdir(), f"bdfp_{kind}_{tag}_{os.getpid()}"
    )
    _SCRATCH.add(path)
    return path


@atexit.register
def _remove_scratch() -> None:
    for path in _SCRATCH:
        for p in (path, *glob.glob(glob.escape(path) + "_*")):
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                with contextlib.suppress(OSError):
                    os.unlink(p)


def ensure_session_defaults(spark: SparkSession) -> None:
    """Make a FOREIGN SparkSession (e.g. the driver harness's) safe for
    this engine's queries: nanosecond-parquet reads, UTC timestamp
    rendering, Arrow transfers. All three are runtime-settable SQL
    confs; our own session factory sets them at build time already."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static in this deployment; session factory covers it


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_defaults(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        # The testdata's physical type for ts has changed across
        # regenerations (TIMESTAMP(NANOS), then timestamp[us]); normalize
        # every variant to TIMESTAMP so downstream epoch extraction
        # (unix_micros, cast-to-long) is always legal. Session TZ is UTC,
        # so the NTZ->TIMESTAMP cast is wall-clock exact (what DuckDB's
        # naive read of the same parquet sees).
        from pyspark.sql import functions as F

        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            # TIMESTAMP(NANOS) read as long via nanosAsLong; truncate to
            # microseconds (same ns->us truncation DuckDB applies).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names if os.path.exists(table_path(sf_dir, n))}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register tables as temp views for the SQL surface (pass ``names``
    to register only what a query reads)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
