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
  (``worker_daemon``) and Unix domain sockets between the JVM and
  Python.

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

Why Unix domain sockets: over the TCP loopback Spark uses by default,
every Python task waited ~40 ms for its first Arrow batch, whatever
the batch size. A one-partition identity ``mapInArrow`` took ~90 ms
of wall time and 44 ms of "time to run Python workers", over 55 rows
and over 5,000 alike; over a Unix domain socket it takes ~50 ms and
3 ms (4 vCPUs). With ``spark.python.unix.domain.socket.enabled`` the
workers, the accumulator server and the JVM's serving sockets all use
AF_UNIX. Spark names each socket ``<dir>/.<uuid4>.sock`` and an
AF_UNIX path holds at most 107 bytes, so ``<dir>`` must be short;
Spark's default, ``java.io.tmpdir``, can be too long (with a
96-character one the session fails to start). :func:`_socket_dir`
makes one directory per process, under the temporary directory when
the socket paths fit there and under ``/tmp`` otherwise, and removes
it at interpreter exit, so a process that never calls
``spark.stop()`` leaves no socket behind (a killed one leaves it, as
it leaves Spark's own temporary directories). Only local masters
switch: the directory is the driver's, which a cluster's executors do
not have, and on YARN a container's ``java.io.tmpdir`` alone is
longer than the limit allows.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import socket
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

# the directory that holds this package; local Python workers import
# worker_daemon from it
_PKG_PARENT = str(Path(__file__).resolve().parent.parent)

# Spark names each socket ``<dir>/.<uuid4>.sock``: 43 bytes after the
# directory. An AF_UNIX path holds at most 107 bytes.
_SOCK_NAME_BYTES = len(f"/.{'0' * 36}.sock")
_SOCK_PATH_MAX = 107

# this process's socket directory, made on first use (see _socket_dir)
_sock_dir: str | None = None


def _socket_dir() -> str | None:
    """This process's directory for Spark's Unix domain sockets, or
    None when no short enough directory can be made (the session then
    keeps TCP). Made under the temporary directory when the socket
    paths fit there, else under ``/tmp``, and removed at interpreter
    exit, sockets and all."""
    global _sock_dir
    if _sock_dir is not None or not hasattr(socket, "AF_UNIX"):
        return _sock_dir
    for base in (tempfile.gettempdir(), "/tmp"):
        try:
            d = tempfile.mkdtemp(prefix="bdfp-uds-", dir=base)
        except OSError:
            continue
        if len(os.fsencode(d)) + _SOCK_NAME_BYTES <= _SOCK_PATH_MAX:
            _sock_dir = d
            atexit.register(shutil.rmtree, d, ignore_errors=True)
            return d
        os.rmdir(d)
    return None


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
        sock_dir = _socket_dir()
        if sock_dir is not None:
            builder = builder.config(
                "spark.python.unix.domain.socket.enabled", "true"
            ).config("spark.python.unix.domain.socket.dir", sock_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
