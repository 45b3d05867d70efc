"""ETL-stage hygiene queries — parity for the reference's
LFS-unavailable stage-0 scripts (SURVEY §0: `books/detect_outliers.py`,
`books/remove_outliers.py`, `books/check.py`; behavior reconstructed
from their outputs per §7.8-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_spark.catalog import load_table, scratch_dir
from bigdatafinalproject_spark.functions import dsum
from bigdatafinalproject_spark.operators.quality import remove_outliers_iqr
from bigdatafinalproject_spark.registry import query


@query(
    "events_outlier_removal",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type),
    f AS (SELECT event_type,
                 q1 - 1.5 * (q3 - q1) AS lo,
                 q3 + 1.5 * (q3 - q1) AS hi
          FROM b)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events e JOIN f USING (event_type)
    WHERE value >= lo AND value <= hi
    GROUP BY e.event_type
    """,
)
def events_outlier_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (IQR) outlier removal per event_type — the
    detect_outliers + remove_outliers stage pair as one operator
    (operators/quality.remove_outliers_iqr: exact per-group quartiles,
    fences broadcast back, fact side unshuffled). Summarized per group
    so the output stays bounded."""
    e = load_table(spark, sf_dir, "events")
    kept = remove_outliers_iqr(e, "value", ["event_type"], k=1.5)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        dsum(F.col("value")).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@query(
    "orders_quality_checks",
    oracle="""
    SELECT a.*, f.fk_orphans FROM
      (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS null_custkey,
              CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS nonpositive_price,
              CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
                   AS BIGINT) AS bad_status,
              CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkeys
       FROM orders) a,
      (SELECT CAST(COUNT(*) AS BIGINT) AS fk_orphans
       FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE c.c_custkey IS NULL) f
    """,
)
def orders_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style table validation (the check.py role): null
    counts, domain violations, duplicate keys in ONE aggregation pass,
    plus FK orphans via one anti-join — each check a column, one output
    row, so validating a 100 TB table costs one scan + one join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    flag = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    checks = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        flag(F.col("o_custkey").isNull()).alias("null_custkey"),
        flag(F.col("o_totalprice") <= 0).alias("nonpositive_price"),
        flag(~F.col("o_orderstatus").isin("O", "F", "P")).alias("bad_status"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_orderkeys"),
    )
    orphans = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("fk_orphans"))
    )
    return checks.crossJoin(orphans)


@query(
    "orders_write_audit_publish",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def orders_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (operators/wap.py): the orders projection is
    STAGED, three audits run against the staged parquet readback (null
    keys, non-positive prices, FK orphans vs customer), and only a
    clean audit atomically publishes — consumers can never observe a
    half-written or invalid table. The query aggregates the PUBLISHED
    copy; matching the oracle (the same aggregate over the source)
    proves the stage→audit→swap pipeline is lossless. The
    failed-audit path (staged copy kept, destination untouched,
    ValueError with per-audit counts) is pinned by
    tests/test_wap.py with an injected violation."""
    from bigdatafinalproject_spark.operators.wap import (
        read_published,
        write_audit_publish,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    cust_keys = load_table(spark, sf_dir, "customer").select("c_custkey")
    dest = scratch_dir(sf_dir, "wap_orders")
    audits = {
        "null_keys": lambda df: df.filter(
            F.col("o_orderkey").isNull() | F.col("o_custkey").isNull()
        ).count(),
        "nonpositive_price": lambda df: df.filter(
            F.col("o_totalprice") <= 0
        ).count(),
        "fk_orphans": lambda df: df.join(
            cust_keys, df["o_custkey"] == cust_keys["c_custkey"], "left_anti"
        ).count(),
    }
    write_audit_publish(spark, o, dest, audits)
    # read through the healing reader: extends the never-loses-data
    # guarantee across the POSIX two-rename window to READERS too
    published = read_published(spark, dest)
    return published.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )
