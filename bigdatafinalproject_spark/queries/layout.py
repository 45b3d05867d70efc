"""Multi-dimensional clustering (Z-order) queries.

The physical payoff — parquet footer min/max pruning of 2-D range
predicates — is asserted in tests/test_layout_zorder.py; the query
here pins the Morton transform itself (bit-interleave + max-scaling
parity with the DuckDB oracle) and shows the clustering effect as
per-z-bucket bounding rectangles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_spark.catalog import load_table, scratch_dir
from bigdatafinalproject_spark.operators.layout import (
    scale_to_bits,
    zvalue,
    zvalue_sql,
)
from bigdatafinalproject_spark.registry import query

_BITS = 8  # both keys max-scaled onto a 256x256 grid
_BUCKET_SHIFT = 8  # 256 z-buckets of 16x16 grid cells


@query(
    "lineitem_zorder_buckets",
    oracle=f"""
    WITH m AS (SELECT MAX(l_partkey) AS mx, MAX(l_suppkey) AS my FROM lineitem),
    z AS (
      SELECT {zvalue_sql(
          "((CAST(l_partkey AS BIGINT) * 256) // (CAST(mx AS BIGINT) + 1))",
          "((CAST(l_suppkey AS BIGINT) * 256) // (CAST(my AS BIGINT) + 1))",
          _BITS,
      )} >> {_BUCKET_SHIFT} AS z_bucket,
             l_partkey, l_suppkey
      FROM lineitem, m)
    SELECT CAST(z_bucket AS BIGINT) AS z_bucket,
           COUNT(*) AS n,
           CAST(MIN(l_partkey) AS BIGINT) AS part_lo,
           CAST(MAX(l_partkey) AS BIGINT) AS part_hi,
           CAST(MIN(l_suppkey) AS BIGINT) AS supp_lo,
           CAST(MAX(l_suppkey) AS BIGINT) AS supp_hi
    FROM z GROUP BY z_bucket
    """,
)
def lineitem_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order bucket profile of lineitem on (l_partkey, l_suppkey):
    both keys max-scaled to 8 bits (equal weight — see
    operators/layout.scale_to_bits for why that is load-bearing), then
    Morton-interleaved; every bucket (a contiguous z-range) bounds a
    small rectangle of the 2-D key space — the property that makes
    min/max file stats prune range predicates on EITHER key after a
    z-ordered write (operators/layout.zorder_write). The max() scalars
    ride in on a broadcast join; everything else is per-row bit
    arithmetic + one hash aggregate: shuffle-light at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(F.max("l_partkey").alias("mx"), F.max("l_suppkey").alias("my"))
    z = zvalue(
        F.expr(scale_to_bits("l_partkey", "mx", _BITS)),
        F.expr(scale_to_bits("l_suppkey", "my", _BITS)),
        _BITS,
    )
    return (
        li.crossJoin(F.broadcast(m))
        .select(
            F.shiftrightunsigned(z, _BUCKET_SHIFT).alias("z_bucket"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("part_lo"),
            F.max("l_partkey").alias("part_hi"),
            F.min("l_suppkey").alias("supp_lo"),
            F.max("l_suppkey").alias("supp_hi"),
        )
    )


# ---------------------------------------------------------------------------
# physical-layout source/sink patterns: hive-partitioned write + pruned
# read, and bucketed co-located joins. The plan-level evidence (pruned
# PartitionFilters, shuffle-free SortMergeJoin) is asserted in
# tests/test_sources.py and tests/test_bucketing_grid.py; these queries
# give the same patterns end-to-end driver correctness rows.

@query(
    "hive_partitioned_prune_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
               AS total_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def hive_partitioned_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → hive-partitioned parquet (partitionBy status) → read
    back filtered to ONE partition → aggregate.

    At 100 TB the partition column is the first scan-eliminator: the
    filter lands in PartitionFilters (directory-level pruning — the
    non-matching partitions are never even listed), before any footer
    or row-group work. The status filter here reads 1 of 3 directories.
    Partition values come back as strings; o_orderstatus is already a
    string, so the roundtrip is lossless.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir(sf_dir, "hivepart")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    from bigdatafinalproject_spark.functions import dsum as _dsum

    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


@query(
    "bucketed_join_agg",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(25,6))) AS DOUBLE)
               AS total_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders + lineitem bucketed on the join key → co-located join →
    aggregate.

    Both sides are written with bucketBy(8, key) + sortBy, so the join
    consumes the on-disk bucketing and plans with NO shuffle exchange
    on either side (asserted in tests/test_bucketing_grid.py). This is
    the 100 TB strategy for fact-fact joins that repeat every run:
    shuffle once at write time, never again at read time.
    """
    pid = os.getpid()
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    ot, lt = f"bdfp_orders_b_{pid}", f"bdfp_lineitem_b_{pid}"
    # repartition to the bucket count ON THE BUCKET KEY before writing:
    # Spark's bucket id and repartition(n, col) both hash with Murmur3
    # pmod n, so each write task holds exactly one bucket -> 8 files per
    # table instead of up to (input partitions x 8) bucket fragments.
    # At 100 TB this is the difference between 4096 files and millions.
    (
        o.repartition(8, F.col("o_orderkey"))
        .write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", scratch_dir(sf_dir, "bucket_o"))
        .mode("overwrite").saveAsTable(ot)
    )
    (
        li.repartition(8, F.col("o_orderkey"))
        .write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", scratch_dir(sf_dir, "bucket_l"))
        .mode("overwrite").saveAsTable(lt)
    )
    from bigdatafinalproject_spark.functions import dsum as _dsum

    joined = spark.table(ot).join(spark.table(lt), "o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        _dsum(F.col("l_quantity")).alias("total_qty"),
    )


@query(
    "lineitem_compaction_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem GROUP BY l_returnflag
    """,
)
def lineitem_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style compaction, content-neutrality proven by oracle:
    lineitem is deliberately fragmented into 64 small files, compacted
    back to ~8 MB target files SORTED on l_orderkey
    (operators/layout.compact: input size from the scan's plan
    statistics, which Spark sums from its file index with no job,
    repartitionByRange + sortWithinPartitions — one
    shuffle buys both compaction and disjoint per-file key ranges for
    footer pruning), and the aggregate over the COMPACTED copy must
    hash-match the original table. File-count and range-disjointness
    are pinned in tests/test_layout_zorder.py."""
    from bigdatafinalproject_spark.functions import dsum as _dsum
    from bigdatafinalproject_spark.operators.layout import compact

    frag = scratch_dir(sf_dir, "frag")
    dst = scratch_dir(sf_dir, "compacted")
    li = load_table(spark, sf_dir, "lineitem")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    compact(spark, frag, dst, target_bytes=8 << 20, sort_col="l_orderkey")
    back = spark.read.parquet(dst)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


@query(
    "events_incremental_rollup_refresh",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_incremental_rollup_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialized-rollup MAINTENANCE: a day-partitioned aggregate
    store is built from the first 24 days of events, then a late batch
    (days 25-30) arrives and ONLY the affected partitions are
    refreshed — old partials merged with delta partials by exact
    integer-cent addition, written back under
    ``partitionOverwriteMode=dynamic`` so untouched days are never
    rewritten. The oracle is the ONE-SHOT aggregate over all events:
    matching it proves base ⊕ delta ≡ full recompute (additive
    partials in int64 cents are order/batching-independent — same
    discipline as the streaming state operator).

    The 100 TB pattern: refresh cost scales with the DELTA's partitions
    (partition-pruned read of old partials + delta aggregate), never
    with the history; at scale the store is the serving table and this
    query is the nightly/streaming upsert."""
    from bigdatafinalproject_spark.operators.barrier import materialize_barrier

    store = scratch_dir(sf_dir, "rollup_store")
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.hour("ts").alias("hr"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # The late batch OVERLAPS stored partitions: days >= split are
    # already present in the store (their morning events) when the
    # afternoon events arrive, so the full_outer merge below sees
    # non-empty old partials for every refreshed key — the base ⊕
    # delta arithmetic is genuinely exercised, not vacuously satisfied
    # by an empty old side.
    split = "2024-01-25"
    late = (F.col("day") >= split) & (F.col("hr") >= 12)
    base = ev.filter(~late).drop("hr")
    delta = ev.filter(late).drop("hr")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
        )

    (
        partials(base)
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(store)
    )
    # refresh: read ONLY the affected day partitions of the store
    # (partition-pruned), merge with the delta's partials by exact
    # integer addition, rewrite just those partitions
    d = partials(delta)
    old = spark.read.parquet(store).filter(F.col("day") >= split)
    merged = (
        old.select("day", "event_type", F.col("n").alias("n0"), F.col("cents").alias("c0"))
        .join(
            d.select("day", "event_type", F.col("n").alias("n1"), F.col("cents").alias("c1")),
            ["day", "event_type"],
            "full_outer",
        )
        .select(
            "day",
            "event_type",
            (F.coalesce("n0", F.lit(0)) + F.coalesce("n1", F.lit(0))).alias("n"),
            (F.coalesce("c0", F.lit(0)) + F.coalesce("c1", F.lit(0))).alias("cents"),
        )
    )
    # barrier before writing INTO a path the plan also reads: the
    # checkpoint cuts lineage to the store files, making the
    # read-then-dynamic-overwrite legal and race-free
    merged = materialize_barrier(merged)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(store)
    )
    final = spark.read.parquet(store)
    # hive partition-column inference reads the day strings back as
    # DATE — normalize to the oracle's string form
    return final.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n").alias("n_events"),
        (F.col("cents") / 100.0).alias("total_value"),
    )


@query(
    "orders_incremental_join_view",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders JOIN customer ON c_custkey = o_custkey
    """,
)
def orders_incremental_join_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view (the
    delta-join algebra the rollup refresh does for aggregates): the
    stored view V = C ⋈ O is built from base partitions of both
    inputs, then insert deltas ΔC and ΔO arrive and the view is
    brought current by APPENDING the three delta terms

        C₁⋈ΔO  ∪  ΔC⋈O₁  ∪  ΔC⋈ΔO

    — never recomputing C₁⋈O₁. The oracle is the one-shot join over
    the full inputs: matching it is the IVM theorem
    (A∪ΔA)⋈(B∪ΔB) = A⋈B ∪ A⋈ΔB ∪ ΔA⋈B ∪ ΔA⋈ΔB for disjoint
    insert-only deltas (updates/deletes need retraction rows — the
    CDC store's territory, not this operator's).

    100 TB shape: each delta term is delta-proportional — ΔO joins a
    broadcast/pruned customer side, ΔC (dimension-delta, small)
    broadcasts against the base orders scan, and ΔC⋈ΔO is tiny; with
    the stored view and O₁ bucketed on the join key the base-side
    scans are co-located and shuffle-free. Refresh cost tracks the
    delta, never the history."""
    store = scratch_dir(sf_dir, "joinview")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c1 = c.filter(F.col("c_custkey") % 11 != 0)
    dc = c.filter(F.col("c_custkey") % 11 == 0)
    o1 = o.filter(F.col("o_orderkey") % 7 != 0)
    do = o.filter(F.col("o_orderkey") % 7 == 0)

    def v(cust: DataFrame, orders: DataFrame) -> DataFrame:
        return orders.join(
            cust, F.col("c_custkey") == F.col("o_custkey")
        ).select(
            "o_orderkey",
            "o_custkey",
            "c_name",
            "c_mktsegment",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )

    v(c1, o1).write.mode("overwrite").parquet(store)
    # three delta terms appended; base view untouched
    v(c1, do).write.mode("append").parquet(store)
    v(F.broadcast(dc), o1).write.mode("append").parquet(store)
    v(F.broadcast(dc), do).write.mode("append").parquet(store)
    return spark.read.parquet(store)
