"""Columnar / text format roundtrips: ORC and JSON-lines source+sink
(§2.1 source/sink family alongside parquet/CSV/JDBC — the reference's
I/O surface is csv/parquet/sqlite, reference ALS_model3.py:67-73,
recommendations3.py:186; ORC and JSONL are the other two formats a
Spark shop actually runs).

Each query writes the table through the format under test into a
pid-tagged /tmp dir, reads it back, and aggregates; the oracle runs
the same aggregate on the ORIGINAL parquet — so the roundtrip must be
value-lossless for the hashes to match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatafinalproject_spark.catalog import load_table, scratch_dir
from bigdatafinalproject_spark.functions import dsum
from bigdatafinalproject_spark.registry import query


@query(
    "orc_roundtrip_agg",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
               AS total_acctbal
    FROM customer GROUP BY 1
    """,
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → ORC sink → ORC source → aggregate.

    ORC stores the same logical types as parquet (BIGINT/DOUBLE exact),
    so the aggregate over the readback hash-matches the aggregate over
    the source. ORC is Spark-native (vectorized reader, predicate
    pushdown, column pruning) — the same scan properties the parquet
    path gets.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    path = scratch_dir(sf_dir, "orc")
    c.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        dsum(F.col("c_acctbal")).alias("total_acctbal"),
    )


_XML_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_mktsegment", T.StringType()),
        T.StructField("c_acctbal", T.DoubleType()),
    ]
)


@query(
    "xml_roundtrip_agg",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
               AS total_acctbal
    FROM customer GROUP BY 1
    """,
)
def xml_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → XML sink → schema'd XML source → aggregate (XML became
    a BUILT-IN Spark source in 4.0 — previously the spark-xml package).

    Same contract as the ORC/JSONL twins: the read supplies an explicit
    schema (XML inference is a second full scan — never at 100 TB), and
    doubles survive the text roundtrip exactly (shortest-roundtrip
    serialization), which the oracle hash over the ORIGINAL parquet
    proves. rowTag splits records, so the files stay splittable row
    streams rather than one document tree.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = scratch_dir(sf_dir, "xml")
    (
        c.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "customer")
        .save(path)
    )
    back = (
        spark.read.schema(_XML_SCHEMA)
        .format("xml")
        .option("rowTag", "customer")
        .load(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        dsum(F.col("c_acctbal")).alias("total_acctbal"),
    )


_JSON_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


@query(
    "jsonl_roundtrip_agg",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY 1
    """,
)
def jsonl_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines sink → schema'd JSON source → aggregate.

    The read supplies an EXPLICIT schema — at 100 TB, schema inference
    is a second full scan of the input; never let the JSON reader
    sample. Doubles survive the text roundtrip exactly (Spark writes
    shortest-roundtrip representations), which the oracle hash proves.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    path = scratch_dir(sf_dir, "jsonl")
    o.write.mode("overwrite").json(path)
    back = spark.read.schema(_JSON_SCHEMA).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )
