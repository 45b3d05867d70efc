"""Readers (SURVEY §2.1: S1 jdbc, S2 parquet, S6 csv + json).

Schema policy. Parquet carries its own schema, but Spark learns it with
a parallel footer-merge job on every ``spark.read.parquet(path)`` —
60-90 ms at sf0.01 on 4 vCPUs, even for a single file read a moment
earlier, and most of a query's construction time when it reads several
tables.
``read_parquet`` therefore infers each table's schema once per file
state and hands Spark the remembered ``StructType`` on every later read
(no job). The remembered schema is the one Spark itself inferred, never
a pyarrow mapping of the footer, so the types match a plain read under
every session conf (``nanosAsLong`` reads ``TIMESTAMP(NANOS)`` as
``bigint``; ``streaming.schema.footer_read_schema`` says ``timestamp``).
CSV and JSON take an explicit ``StructType``; ``inferSchema`` is a full
extra pass over the data and is only allowed when the caller opts in
(the reference relied on JDBC-declared schemas, SURVEY §1.3).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Session confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# (path state, schema confs) -> the schema Spark inferred for it.
_inferred_schemas: dict[tuple, T.StructType] = {}


def _path_state(path: str) -> tuple | None:
    """What identifies the bytes under a local ``path`` without reading
    them: for a file its inode, size and change times (an in-place
    rewrite moves ``ctime``); for a directory the sorted listing of
    every file under it with size and mtime. ``None`` when the path is
    not a local one that exists — such a read is never memoized."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
        if not stat.S_ISDIR(st.st_mode):
            return (
                real, st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns,
                st.st_ctime_ns,
            )
        listing = []
        for root, _, names in os.walk(real):
            for name in names:
                f = os.path.join(root, name)
                fst = os.stat(f)
                listing.append(
                    (os.path.relpath(f, real), fst.st_size, fst.st_mtime_ns)
                )
    except OSError:
        return None
    return (real, tuple(sorted(listing)))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema-inference job run
    only on the first read of a file state under a given set of schema
    confs (module doc). A path that is not local, or is missing, is
    inferred on every read and is never remembered; a missing one
    raises Spark's usual error from that inference."""
    state = _path_state(path)
    key = (state, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    schema = _inferred_schemas.get(key) if state is not None else None
    if schema is None:
        schema = spark.read.parquet(path).schema
        if state is not None:
            _inferred_schemas[key] = schema
    return spark.read.schema(schema).parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV source (reference used driver-side pandas.read_csv,
    model_report.py:35 — here distributed)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    **options: str,
) -> DataFrame:
    """JDBC table scan — parity with the reference's per-script
    ``load_table`` (reference ALS_model3.py:67-73: sqlite over JDBC,
    duplicated in five scripts). No JDBC drivers ship in this
    container, so failures surface as a clear RuntimeError rather than
    a py4j stack.

    At scale, pass partitionColumn/lowerBound/upperBound/numPartitions
    through ``options`` — a single-connection JDBC read is a driver
    bottleneck.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        reader = reader.option("driver", driver)
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as e:  # pragma: no cover - driver-dependent
        raise RuntimeError(
            f"JDBC load failed for {url!r} table {table!r} — is the driver "
            f"jar on the classpath? ({e})"
        ) from e
