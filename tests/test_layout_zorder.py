"""Z-order clustering: the physical payoff.

Writes lineitem twice — linearly sorted on l_partkey, and z-ordered on
(l_partkey, l_suppkey) — and reads back parquet footer min/max stats.
A range predicate on the NON-leading dimension must prune files under
the z-order layout; under the linear layout every file matches (each
spans the full suppkey range). This is exactly the mechanism a
100 TB table relies on for 2-D pruning (Delta/Iceberg ZORDER); plain
parquet files + footer stats demonstrate it without a table format.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow.parquet as pq
import pytest

from bigdatafinalproject_spark.catalog import load_table
from bigdatafinalproject_spark.operators.layout import zorder_write

SF01_DIR = "/root/testdata/sf0.01"
N_FILES = 16


def _file_ranges(d: str, col: str) -> list[tuple[int, int]]:
    out = []
    for f in sorted(glob.glob(os.path.join(d, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append((lo, hi))
    return out


def _hits(ranges: list[tuple[int, int]], lo: int, hi: int) -> int:
    return sum(1 for (a, b) in ranges if b >= lo and a <= hi)


def test_zorder_layout_prunes_non_leading_dimension(spark):
    li = load_table(spark, SF01_DIR, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    base = os.path.join(tempfile.gettempdir(), "bdfp_zorder")
    zdir, ldir = base + "_z", base + "_linear"
    zorder_write(li, zdir, "l_partkey", "l_suppkey", n_files=N_FILES, bits=11)
    (
        li.repartitionByRange(N_FILES, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    z_supp = _file_ranges(zdir, "l_suppkey")
    l_supp = _file_ranges(ldir, "l_suppkey")
    assert len(z_supp) == N_FILES and len(l_supp) == N_FILES

    # suppkey band = ~1/8 of the 1..100 range (sf0.01 has 100 suppliers)
    z_hit, l_hit = _hits(z_supp, 1, 12), _hits(l_supp, 1, 12)
    # linear-on-partkey layout: suppkey is unclustered, every file matches
    assert l_hit == N_FILES, f"expected no pruning on linear layout, got {l_hit}"
    # z-order: the band must prune at least half the files
    assert z_hit <= N_FILES // 2, f"z-order pruned too little: {z_hit}/{N_FILES}"

    # the leading dimension still prunes on BOTH layouts
    z_part = _file_ranges(zdir, "l_partkey")
    l_part = _file_ranges(ldir, "l_partkey")
    assert _hits(l_part, 1, 250) <= 4
    assert _hits(z_part, 1, 250) <= N_FILES // 2

    # correctness: both layouts hold identical data
    assert (
        spark.read.parquet(zdir).count()
        == spark.read.parquet(ldir).count()
        == li.count()
    )


def test_compact_file_count_and_disjoint_ranges(spark, tmp_path):
    """compact() must (a) hit the computed file count from the input's
    physical size, (b) with sort_col, produce files whose footer
    min/max l_orderkey ranges are pairwise disjoint (the 1-D clustering
    that makes row-group pruning work), and (c) preserve content."""
    import pyarrow.parquet as pq

    from bigdatafinalproject_spark.catalog import load_table
    from bigdatafinalproject_spark.operators.layout import compact
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    frag = str(tmp_path / "frag")
    li.repartition(16).write.parquet(frag)
    input_bytes = sum(
        f.stat().st_size for f in (tmp_path / "frag").glob("*.parquet")
    )
    target = max(1, input_bytes // 4)
    dst = str(tmp_path / "compacted")
    n = compact(spark, frag, dst, target_bytes=target, sort_col="l_orderkey")

    expected = max(1, -(-input_bytes // target))
    assert n == expected
    files = sorted((tmp_path / "compacted").glob("*.parquet"))
    assert len(files) == n

    ranges = []
    for f in files:
        md = pq.read_metadata(str(f))
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "l_orderkey"
            )
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        if los:
            ranges.append((min(los), max(his)))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b  # range-partitioned: disjoint up to boundary

    assert (
        spark.read.parquet(dst).count() == li.count()
    )


def test_compact_sizes_from_the_file_index(spark, tmp_path):
    """compact() sizes its input from the scan's plan statistics and
    counts its output from the file index: the input's schema inference
    plus the write, and no listing job. The byte figure is exact — a
    target of the ``*.parquet`` byte sum gives one file, one byte less
    gives two."""
    from bigdatafinalproject_spark.operators.layout import compact
    from tests.conftest import SF_DIR

    nation = load_table(spark, SF_DIR, "nation")
    srcs = []
    for i in range(3):
        srcs.append(str(tmp_path / f"unit{i}"))
        part = nation.filter(nation.n_nationkey % 3 == i).coalesce(1)
        part.write.parquet(srcs[-1])
    input_bytes = sum(
        os.path.getsize(f) for s in srcs for f in glob.glob(f"{s}/*.parquet")
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for target, files in ((input_bytes, 1), (input_bytes - 1, 2)):
        dst = str(tmp_path / f"out{files}")
        j0 = dag.nextJobId()
        assert compact(spark, srcs, dst, target_bytes=target) == files
        assert dag.nextJobId() - j0 <= 3
        assert len(glob.glob(f"{dst}/*.parquet")) == files
        assert spark.read.parquet(dst).count() == 25
    (tmp_path / "empty").mkdir()
    for missing_or_empty in (str(tmp_path / "absent"), str(tmp_path / "empty")):
        with pytest.raises(ValueError, match="no \\*.parquet files"):
            compact(spark, missing_or_empty, str(tmp_path / "x"))


def _pin_without_a_job(spark, df, *keys):
    """``layout.pin(df, *keys)``, asserting that the call started no
    Spark job: the size comes from the plan's statistics."""
    from bigdatafinalproject_spark.operators.layout import pin

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    pinned = pin(df, *keys)
    assert dag.nextJobId() == j0
    return pinned


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pin_leaves_a_frame_below_one_target_partition_unchanged(spark):
    """A shuffle-rooted frame whose estimate is below one target
    partition comes back as it is, with no ``Repartition`` node: the
    exchange would cost more than the fan-out saves."""
    from pyspark.sql import functions as F

    from bigdatafinalproject_spark.operators.layout import (
        _PIN_TARGET_BYTES,
        plan_bytes,
    )
    from tests.conftest import SF_DIR

    agg = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert plan_bytes(agg) < _PIN_TARGET_BYTES
    pinned = _pin_without_a_job(spark, agg, "l_orderkey")
    assert pinned is agg
    assert "Repartition" not in _plan(pinned)


def test_pin_sizes_the_count_from_the_estimate(spark):
    """Between one target partition and ``defaultParallelism`` of them,
    the count is ``ceil(estimate / target)``; ``spark.range(n)`` is
    estimated at 8 bytes a row."""
    from bigdatafinalproject_spark.operators.layout import (
        _PIN_TARGET_BYTES,
        plan_bytes,
    )

    dp = spark.sparkContext.defaultParallelism
    df = spark.range(_PIN_TARGET_BYTES // 8 + 1)
    assert plan_bytes(df) == 8 * (_PIN_TARGET_BYTES // 8 + 1)
    pinned = _pin_without_a_job(spark, df, "id")
    assert "Repartition" in _plan(pinned)
    assert pinned.count() == _PIN_TARGET_BYTES // 8 + 1
    assert pinned.rdd.getNumPartitions() == min(dp, 2)


def test_pin_runs_no_job_and_survives_aqe_coalescing(spark):
    """A frame estimated far above ``defaultParallelism`` target
    partitions gets ``defaultParallelism`` of them, and keeps them when
    executed: the explicit count exempts the exchange from AQE's
    byte-based coalescing, which shrinks the same exchange without a
    count. ``spark.range(10**9)`` is estimated at 8 GB; the filter
    keeps the estimate and leaves a thousand rows to move."""
    from pyspark.sql import functions as F

    from bigdatafinalproject_spark.operators.layout import (
        _PIN_TARGET_BYTES,
        plan_bytes,
    )

    dp = spark.sparkContext.defaultParallelism
    big = spark.range(10**9).filter(F.col("id") % 10**6 == 0)
    assert plan_bytes(big) == 8 * 10**9
    assert min(dp, -(-8 * 10**9 // _PIN_TARGET_BYTES)) == dp
    pinned = _pin_without_a_job(spark, big, "id")

    assert pinned.count() == 1000
    assert pinned.rdd.getNumPartitions() == dp
    if dp > 1:
        unpinned = big.repartition("id")
        unpinned.collect()
        assert unpinned.rdd.getNumPartitions() < dp


def test_pin_keeps_default_parallelism_when_the_size_is_unknown(spark):
    """A frame over an RDD has no statistics: its estimate is the
    ``spark.sql.defaultSizeInBytes`` fallback, which ``plan_bytes``
    reports as unknown, and ``pin`` keeps ``defaultParallelism``."""
    from bigdatafinalproject_spark.operators.layout import plan_bytes

    dp = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(100)], 1), "k long"
    )
    assert plan_bytes(df) is None
    pinned = _pin_without_a_job(spark, df, "k")
    assert sorted(r.k for r in pinned.collect()) == list(range(100))
    assert pinned.rdd.getNumPartitions() == dp


def test_only_layout_reads_the_size_estimate():
    """``sizeInBytes`` is read in one place, ``layout.plan_bytes``, so
    every size decision shares its rule for an unknown estimate."""
    import ast
    from pathlib import Path

    import bigdatafinalproject_spark

    root = Path(bigdatafinalproject_spark.__file__).parent
    reads = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and node.attr == "sizeInBytes":
                reads.append(str(path.relative_to(root)))
    assert set(reads) == {"operators/layout.py"}


def test_package_never_reads_a_partition_count():
    """No module of the engine calls ``getNumPartitions``: under AQE the
    call runs any shuffle-rooted subtree as a throwaway job at plan-build
    time. By-key layout goes through ``layout.pin``, which needs no
    count."""
    import ast
    from pathlib import Path

    import bigdatafinalproject_spark

    root = Path(bigdatafinalproject_spark.__file__).parent
    calls = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute) and node.attr == "getNumPartitions":
                calls.append(f"{path.relative_to(root)}:{node.lineno}")
    assert calls == []
