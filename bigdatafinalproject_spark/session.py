"""SparkSession factory (SURVEY.md §7.1 stage 0).

Replaces the reference's per-script hand-rolled sessions
(reference: ALS_model3.py:50-62, recommendations3.py:20-29) with one
factory that turns on what the reference left off:

- AQE (adaptive coalescing + skew-join handling) instead of a
  hard-coded ``spark.sql.shuffle.partitions=700``;
- Arrow for any JVM<->Python transfer (the reference's ``toPandas``
  calls ran without it);
- UTC session timezone so results are comparable across engines;
- Kryo serializer (kept from the reference — it is the right call);
- for ``local[...]`` masters, the engine's own Python-worker daemon
  (``worker_daemon``).

Why the worker daemon: Spark starts every Python task with
``worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython 3.11 that
makes every ``zipimporter`` re-read its archive's whole central
directory. Workers import pyspark and py4j from the zips under
``$SPARK_HOME/python/lib``, with one importer per imported subpackage,
so each task parsed ~27k directory entries: 0.1-0.3 s of CPU before a
``mapInArrow`` kernel ran, most of the Python-worker time of the index
maintenance ops. The daemon re-reads an archive only when its
(inode, size, mtime_ns) changed. CPython 3.13 made
``zipimporter.invalidate_caches`` lazy, so there the daemon is the
stock one. Workers import the daemon through
``spark.executorEnv.PYTHONPATH`` (this package's parent directory),
not through the JVM's working directory, so a session works from any
directory. Other masters keep Spark's stock daemon: their executors
need not have this checkout on disk.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from pyspark.sql import SparkSession

# the directory that holds this package; local Python workers import
# worker_daemon from it
_PKG_PARENT = str(Path(__file__).resolve().parent.parent)


def default_parallelism() -> int:
    """Local-mode thread count; on a real cluster this is ignored."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bigdatafinalproject-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster AQE coalescing makes the initial number mostly irrelevant
    (it only caps the pre-coalesce split count), so we deliberately do
    NOT replicate the reference's fixed 700.
    """
    cpus = default_parallelism()
    # Shuffle partitions are a DATA-size knob, not a core-count knob
    # (optimization guide §2.2: size post-shuffle partitions toward
    # 100 MB-1 GB; at 100 TB that is >> core count and AQE coalescing
    # trims the excess). SPARK_GRAFT_SHUFFLE_PARTITIONS parameterizes
    # it for scale runs; the local default stays the historical core
    # count so driver bench lineage remains comparable.
    env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    sp = shuffle_partitions or (int(env_sp) if env_sp else cpus)
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the test data's events table stores TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as long, catalog converts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if re.fullmatch(r"local(\[.*\])?", master):
        builder = builder.config(
            "spark.python.daemon.module", "bigdatafinalproject_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
