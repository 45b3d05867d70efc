"""Generator / array / map operators (SURVEY §2.9 + §2.8 array-map
family): explode, unpivot (stack — the pivot inverse), map-typed JSON,
and higher-order array functions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_spark.catalog import load_table
from bigdatafinalproject_spark.operators.text import tokens
from bigdatafinalproject_spark.registry import query


@query(
    "doc_top_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                                     ' ')) AS token
          FROM documents)
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 50
    """,
)
def doc_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode (G1) over real token arrays → top-50 vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


@query(
    "unpivot_status",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END
                           AS DECIMAL(25,6))) AS DOUBLE) AS O,
             CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END
                           AS DECIMAL(25,6))) AS DOUBLE) AS F
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'O' AS linestatus, O AS qty FROM wide
    UNION ALL
    SELECT l_returnflag, 'F' AS linestatus, F AS qty FROM wide
    """,
)
def unpivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack (G2 inverse): wide pivot back to long."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double"))
    )
    return wide.select(
        "l_returnflag",
        F.expr("stack(2, 'O', O, 'F', F) AS (linestatus, qty)"),
    )


@query(
    "events_props_map",
    oracle="""
    SELECT event_id,
           1 AS n_keys,
           'k' AS first_key,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_value
    FROM events
    """,
)
def events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed semi-structured access: from_json to map<string,int>,
    then map_keys/element_at (the only map-free zone in the reference —
    no map type appears there at all, SURVEY §1.2)."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.array_sort(F.map_keys(m)).getItem(0).alias("first_key"),
        F.element_at(m, "k").alias("k_value"),
    )


@query(
    "embedding_array_ops",
    oracle="""
    SELECT vec_id,
           64 AS dim,
           CAST(list_reduce(list_transform(embedding, x -> CAST(greatest(x, 0) AS DOUBLE)),
                            (a, b) -> a + b) AS DOUBLE) AS relu_sum,
           CAST(list_reduce(list_transform(embedding[1:8],
                                           x -> CAST(x AS DOUBLE)), (a, b) -> a + b)
                AS DOUBLE) AS head_sum,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive
    FROM embeddings
    """,
)
def embedding_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform/filter/aggregate/slice)
    over the embedding column — all JVM-side, sequential folds for
    cross-engine-exact doubles."""
    e = load_table(spark, sf_dir, "embeddings")
    relu_sum = F.expr(
        "aggregate(transform(embedding, x -> CAST(greatest(x, CAST(0 AS FLOAT)) AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (a, b) -> a + b)"
    )
    head_sum = F.expr(
        "aggregate(transform(slice(embedding, 1, 8), x -> CAST(x AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (a, b) -> a + b)"
    )
    return e.select(
        "vec_id",
        F.lit(64).alias("dim"),
        relu_sum.alias("relu_sum"),
        head_sum.alias("head_sum"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "doc_positional_tokens",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                          ' ') AS toks
      FROM documents)
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
    FROM t, LATERAL unnest(generate_series(1, len(toks))) AS u(i)
    WHERE i <= 20
    """,
)
def doc_positional_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (SURVEY §2.9 generator family): tokens with their
    0-based positions — the generator that keeps ordinal context (the
    plain explode discards it), capped at the first 20 positions per
    doc so output stays bounded per row."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.col("doc_id"), F.posexplode(tokens(F.col("text"))))
        .withColumnRenamed("col", "token")
        .filter(F.col("pos") < 20)
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "token")
    )


@query(
    "doc_sentences_udtf",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, '. ') AS parts FROM documents)
    SELECT doc_id, CAST(i - 1 AS INT) AS idx, parts[i] AS sentence,
           CAST(length(parts[i]) AS INT) AS n_chars
    FROM t, LATERAL unnest(generate_series(1, len(parts))) AS u(i)
    WHERE i <= 5
    """,
)
def doc_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (SURVEY §2.11 — the reference registers no UDFs of
    any kind; this covers the table-function row of the UDF/UDAF/UDTF
    surface): sentence segmentation as a LATERAL table function,
    Arrow-optimized (batch transfer, not per-row pickling).

    Engine policy stays built-ins-first — this exact logic is also
    expressible as split+posexplode (doc_positional_tokens) and that
    is what a hot path should use; the UDTF exists for the cases a
    generator genuinely needs imperative Python (parsers, tokenizers
    with state per row), and demonstrates the correct shape: stateless
    eval, self-contained closure, bounded output per row."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, sentence string, n_chars int", useArrow=True)
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            for i, s in enumerate(text.split(". ")):
                if i >= 5:
                    break
                yield i, s, len(s)

    from bigdatafinalproject_spark.catalog import register_views

    spark.udtf.register("bdfp_split_sentences", SplitSentences)
    register_views(spark, sf_dir, names=("documents",))
    return spark.sql(
        """
        SELECT doc_id, s.idx, s.sentence, s.n_chars
        FROM documents, LATERAL bdfp_split_sentences(text) s
        """
    )


@query(
    "events_udaf_median",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           median(value) AS median_value
    FROM events
    GROUP BY event_type
    """,
)
def events_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF (SURVEY §2.11's UDAF row — the
    reference registers none): exact median per event type through an
    Arrow-batched GROUPED_AGG pandas_udf. numpy's even-count median
    (mean of the two middle values) is the same interpolation DuckDB's
    ``median`` performs, so the result hash-matches.

    Scale note: a grouped-agg UDAF materializes each group in executor
    memory — correct for bounded groups like this handful of event
    types; for data-sized groups use the built-in
    ``percentile_approx``/``median`` (distributed) instead. This query
    exists to cover the UDAF surface, not as the hot-path median."""
    from pyspark.sql.functions import pandas_udf

    # grouped-agg form from the type hints (Series -> scalar): the
    # module's PEP 563 string annotations resolve through
    # get_type_hints, which is why ``pd`` is a module global. Spark
    # disallows mixing grouped-agg pandas UDFs with JVM aggregates in
    # one agg, so the row count is a (trivial) second UDAF.
    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    @pandas_udf("long")
    def count_udaf(v: pd.Series) -> int:
        return int(v.count())

    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        count_udaf("value").alias("n"),
        median_udaf("value").alias("median_value"),
    )
