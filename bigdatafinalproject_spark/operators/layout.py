"""Partition-layout helpers.

``pin``: hash-partition a frame by key with an explicit, data-sized
count, so AQE cannot byte-coalesce a row- or compute-heavy input (an
Arrow kernel's input, pair keys, compressed text/embedding parquet
that locally scans as ONE split) down to a handful of tasks. The count
is ``ceil(estimate / target)`` capped at ``defaultParallelism``, from
the optimized plan's size estimate (``plan_bytes``); the target is
``_PIN_TARGET_BYTES``, or ``TEXT_PIN_BYTES`` for text kernels. An
input below one target partition is returned unchanged, with no
exchange, and one whose size Spark does not know gets
``defaultParallelism``. It never runs the input, so it starts no
job and is safe on shuffle-fed frames. It is the only by-key layout
choice in ``operators/``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# One pin partition's share of the input, in bytes of the optimized
# plan's estimate. Chosen by measurement (CHANGES.md, sf0.01 and sf0.1,
# each query timed with every pin on and with every pin off): inputs
# estimated at 143-230 KB (the IVF append delta, the embeddings scan,
# the graph edge lists, the int8 corpus) ran faster on their scan's one
# split than behind an exchange, and the Lloyd trainer's sf0.1 input
# (666 KB) must still fan out.
_PIN_TARGET_BYTES = 256 * 1024

# The same share for text kernels' inputs (minhash, shingles, simhash,
# winnow, segments, n-gram scrub). Their estimate counts compressed
# text (the sf0.01 documents file is 65 KB on disk, 167 KB in Arrow),
# and the kernels hash every character: the sf0.01 documents, whose
# (id, text) projection is estimated at 28 KB, ran MinHash in 0.24 s
# over 4 tasks and 0.38 s over one, and at sf0.1 (255 KB) in 0.98 s
# and 2.92 s. The streaming dedup index's micro-batches (5 KB) ran
# faster without the exchange.
TEXT_PIN_BYTES = 6 * 1024


def plan_bytes(df: DataFrame) -> int | None:
    """The optimized plan's ``sizeInBytes`` estimate of ``df``, or None
    when Spark does not know it: an estimate at or above
    ``spark.sql.defaultSizeInBytes`` (``Long.MaxValue`` unless set) is
    the fallback of a leaf without statistics (a ``LogicalRDD`` with no
    origin stats) or the product of a join's inputs. For a file scan
    the estimate is the listed file lengths that Spark already holds to
    plan the read, so reading it runs no job and reads no data."""
    # py4j hands the Scala BigInt back as a Python int
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return None if size >= conf.defaultSizeInBytes() else size


def pin(
    df: DataFrame,
    *key_cols: str | Column,
    target_bytes: int = _PIN_TARGET_BYTES,
) -> DataFrame:
    """Hash-partition ``df`` by ``key_cols`` into
    ``min(defaultParallelism, ceil(plan_bytes / target_bytes))``
    partitions; return ``df`` unchanged when its estimate is below one
    ``target_bytes``, and use ``defaultParallelism`` when the estimate
    is unknown (``plan_bytes`` is None). Text kernels pass
    ``TEXT_PIN_BYTES``.

    For a frame about to feed a window/groupBy keyed on the same
    columns this is SHUFFLE-NEUTRAL: the explicit exchange satisfies
    the operator's clustered-distribution requirement, so it replaces
    (not precedes) the exchange the operator would have inserted. The
    difference is that a user-specified partition count is exempt from
    AQE's byte-based coalescing — which otherwise shrinks byte-light
    but row- or compute-heavy inputs (compressed facts, pair keys) to
    a handful of tasks. It reads no partition count and runs no part of
    the plan, so it starts no job even on a shuffle-rooted frame. The
    consumers are partition-invariant, so only speed depends on the
    count: below one target partition the exchange costs more than
    the fan-out saves, and on a scan that already has at least that
    many splits it is one extra shuffle.
    """
    size = plan_bytes(df)
    if size is not None and size < target_bytes:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if size is not None:
        n = min(n, -(-size // target_bytes))
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return df.repartition(n, *cols)


def zvalue(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low ``bits`` bits of two
    non-negative integer columns: bit i of x lands at position 2i, bit
    i of y at 2i+1. Values are masked to ``bits`` bits first, so the
    caller picks the resolution.

    Sorting by this value clusters rows so that any contiguous z-range
    covers a small rectangle in (x, y) space — the standard
    multi-dimensional clustering trick (Delta/Iceberg OPTIMIZE ZORDER)
    that lets min/max file statistics prune scans filtered on EITHER
    column, where a plain sort only serves its leading column.
    """
    mask = (1 << bits) - 1
    xm = x.cast("long").bitwiseAND(F.lit(mask))
    ym = y.cast("long").bitwiseAND(F.lit(mask))
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftrightunsigned(xm, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftrightunsigned(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zvalue_sql(x: str, y: str, bits: int = 16) -> str:
    """The same Morton interleave as ``zvalue`` in portable SQL
    (DuckDB-compatible bit operators), for oracle replay."""
    mask = (1 << bits) - 1
    parts = []
    # fully parenthesized: DuckDB's | binds tighter than <<
    for i in range(bits):
        parts.append(f"(((({x} & {mask}) >> {i}) & 1) << {2 * i})")
        parts.append(f"(((({y} & {mask}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(parts) + ")"


def scale_to_bits(col_expr: str, max_expr: str, bits: int) -> str:
    """Scale a non-negative integer expression into [0, 2^bits) by its
    maximum: ``(x * 2^bits) DIV (max + 1)``. Z-ordering REQUIRES both
    dimensions on the same bit width — interleaving an 11-bit key with
    a 7-bit key puts every varying high bit on the wide key, and the
    layout degenerates to a plain sort on it (no pruning on the narrow
    key). Portable: Spark ``DIV`` == DuckDB ``//`` for non-negatives."""
    return f"((CAST({col_expr} AS BIGINT) * {1 << bits}) DIV (CAST({max_expr} AS BIGINT) + 1))"


def zorder_write(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int,
    bits: int = 8,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    Z-order of (x_col, y_col): normalize both keys to ``bits`` bits
    (max-scaled — see ``scale_to_bits``), range-partition by the
    interleaved z-value, sort within each partition, drop the helper.
    Each output file then covers a narrow rectangle of the key space,
    so footer min/max stats prune 2-D range predicates on either
    column (demonstrated in tests/test_layout_zorder.py).

    The two max() lookups are one bounded scalar collect (metadata-
    grade action, same class as compact_small_files' file count)."""
    mx, my = df.agg(F.max(x_col), F.max(y_col)).first()
    z = zvalue(
        F.expr(scale_to_bits(x_col, str(mx), bits)),
        F.expr(scale_to_bits(y_col, str(my), bits)),
        bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact(
    spark,
    src_path: str | list[str],
    dst_path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> int:
    """OPTIMIZE-style small-files compaction: rewrite a fragmented
    parquet dataset into ~``target_bytes`` files. Returns the file
    count written. ``src_path`` may be a list of directories — the
    manifest-referenced unit dirs of a maintained index (v6): the
    rewrite must read exactly the LIVE units, never a directory
    listing that would sweep in a dead writer's unreferenced files.

    Why this is an operator and not "just a repartition": the output
    file COUNT must be computed from the INPUT's physical size, and at
    100 TB nothing may pass through the driver — the size is the plan
    statistic of the scan, which Spark sums from the file index it
    already built to plan the read (file lengths it listed, kilobytes of
    metadata), so sizing runs no job and reads no data. ``n =
    clamp(input_bytes / target_bytes)`` then:

    - unsorted: ``repartition(n)`` — round-robin, every output file
      lands within ~1 row group of target size regardless of input
      skew;
    - ``sort_col``: ``repartitionByRange(n, col)`` +
      ``sortWithinPartitions`` — compaction and global clustering in
      one shuffle, so each output file covers a disjoint key range
      (footer min/max prune like the z-order path, but 1-D).

    The returned count is the output's file index, listed by a
    schema-given read of ``dst_path`` (no inference job). Spark jobs per
    call: the input's schema inference plus the write.

    Compaction is content-neutral by contract — the registry query
    aggregates the compacted copy against the ORIGINAL table's oracle
    to prove it.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    srcs = [src_path] if isinstance(src_path, str) else list(src_path)
    # missing path and exists-but-empty (schema inference finds no
    # file) both surface as the SAME ValueError — callers see one error
    # type for "nothing to compact"
    try:
        df = spark.read.parquet(*srcs)
    except AnalysisException as e:
        raise ValueError(
            f"compact: no *.parquet files under {src_path!r}"
        ) from e
    input_bytes = plan_bytes(df)
    if input_bytes is None:
        raise ValueError(f"compact: no size estimate for {src_path!r}")
    n = max(1, -(-input_bytes // target_bytes))
    if sort_col is None:
        out = df.repartition(n)
    else:
        out = df.repartitionByRange(n, F.col(sort_col)).sortWithinPartitions(
            sort_col
        )
    out.write.mode("overwrite").parquet(dst_path)
    written = spark.read.schema(df.schema).parquet(dst_path).inputFiles()
    return sum(f.endswith(".parquet") for f in written)
