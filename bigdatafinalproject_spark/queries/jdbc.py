"""S1 executed: the JDBC source/sink exercised end-to-end in a query.

The reference's only database source is sqlite over JDBC (reference
ALS_model3.py:67-73, repeated across five scripts). No sqlite JDBC jar
ships in this container, but Derby's embedded driver is on Spark's
default classpath (it backs the Hive metastore), and Spark's JDBC
relation is database-agnostic — the Derby read below goes through the
exact JdbcRelationProvider path the reference's sqlite read used.

Scale notes: the read is a PARTITIONED JDBC scan (partitionColumn +
bounds + numPartitions) — one connection per partition, so the scan
parallelizes instead of bottlenecking on a single driver connection;
the write batches inserts per partition. That is the pattern that
matters when the JDBC side is a real warehouse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_spark.catalog import load_table, scratch_dir, table_path
from bigdatafinalproject_spark.functions import dsum
from bigdatafinalproject_spark.registry import query
from bigdatafinalproject_spark.sources.readers import read_jdbc
from bigdatafinalproject_spark.sources.writers import write_jdbc

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_url(sf_dir: str) -> str:
    """Per-(sf_dir, process) embedded Derby database in a scratch dir
    (embedded Derby allows one booting JVM per database directory)."""
    return f"jdbc:derby:{scratch_dir(sf_dir, 'derby')};create=true"


def _custkey_bounds(sf_dir: str) -> tuple[int, int]:
    """Partition bounds for the JDBC scan from the parquet footer's
    column statistics — no data pass, no driver-side collect."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(table_path(sf_dir, "customer"))
    lo, hi = None, None
    for rg in range(f.metadata.num_row_groups):
        st = f.metadata.row_group(rg).column(0).statistics
        if st is None or not st.has_min_max:
            return 1, max(1, f.metadata.num_rows)
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return int(lo), int(hi)


@query(
    "jdbc_roundtrip_agg",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
               AS total_acctbal
    FROM customer GROUP BY 1
    """,
)
def jdbc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → Derby over JDBC → partitioned JDBC scan → aggregate.

    The oracle runs on the original parquet: the JDBC hop must be
    lossless (BIGINT/INT/DOUBLE roundtrip exactly), so the aggregate
    over the readback hash-matches the aggregate over the source."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    url = _derby_url(sf_dir)
    write_jdbc(c, url, "customer_rt", driver=DERBY_DRIVER, mode="overwrite")
    lo, hi = _custkey_bounds(sf_dir)
    back = read_jdbc(
        spark,
        url,
        "customer_rt",
        driver=DERBY_DRIVER,
        partitionColumn="c_custkey",
        lowerBound=str(lo),
        upperBound=str(hi + 1),
        numPartitions="8",
    )
    return back.groupBy(F.col("c_nationkey").cast("int").alias("c_nationkey")).agg(
        F.count(F.lit(1)).alias("n_cust"),
        dsum(F.col("c_acctbal")).alias("total_acctbal"),
    )
