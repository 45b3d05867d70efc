"""Event-time analytics over the events table (batch side of the
streaming surface, SURVEY §7.7): tumbling / sliding windows and the
as-of join. The streaming executions of the same semantics live in
bigdatafinalproject_spark/streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigdatafinalproject_spark.catalog import load_table
from bigdatafinalproject_spark.functions import dsum
from bigdatafinalproject_spark.operators.asof import asof_join
from bigdatafinalproject_spark.operators.rangejoin import interval_join
from bigdatafinalproject_spark.registry import query
from bigdatafinalproject_spark.streaming.events import _stream_partitions


@query(
    "events_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (F.window — the exact batch
    equivalent of the streaming groupBy(window(...)))."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "events_sliding",
    oracle="""
    WITH starts AS (
      SELECT event_id, value,
             time_bucket(INTERVAL '30 minutes', ts)
                 - CAST(o AS INT) * INTERVAL '30 minutes' AS ws,
             ts
      FROM events, LATERAL unnest(range(0, 2)) AS u(o))
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM starts
    WHERE ts < ws + INTERVAL '1 hour'
    GROUP BY 1
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h size, 30 min slide): each event lands in 2
    windows. The oracle enumerates the window starts explicitly."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "total_value",
        )
    )


@query(
    "events_asof_order",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS event_ts,
           o_orderkey AS last_orderkey,
           CAST(o_totalprice AS DOUBLE) AS last_totalprice
    FROM ranked WHERE rn = 1
    """,
)
def events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the customer's most recent order
    at-or-before the event time (union-merge plan, one shuffle — the
    oracle states the same semantics as a per-event argmax)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    joined = asof_join(
        e,
        o,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("event_ts"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").cast("double").alias("last_totalprice"),
    )


@query(
    "events_interval_join",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 86400
                  THEN 1 ELSE 0 END AS is_new
      FROM purchases
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
      FROM marked),
    iv AS (
      SELECT user_id, CAST(session_id AS INT) AS session_id,
             MIN(ts) AS start_ts, MAX(ts) AS end_ts,
             COUNT(*) AS n_purchases
      FROM sessions GROUP BY user_id, session_id
      HAVING COUNT(*) >= 2)
    SELECT i.user_id,
           strftime(i.start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(i.n_purchases AS BIGINT) AS n_purchases,
           COUNT(*) AS n_clicks,
           CAST(SUM(CAST(c.value AS DECIMAL(25,6))) AS DOUBLE) AS click_value
    FROM iv i JOIN events c
      ON c.user_id = i.user_id AND c.event_type = 'click'
         AND c.ts >= i.start_ts AND c.ts <= i.end_ts
    GROUP BY i.user_id, i.session_id, i.start_ts, i.n_purchases
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join without a nested loop: clicks landing inside each
    user's multi-purchase 24h-gap streak span (attribution window), via the
    bin-bucketed equi-join in operators/rangejoin.py. The oracle states
    the same semantics as a plain BETWEEN theta-join — DuckDB can
    afford it at oracle scale; Spark at 100 TB cannot (it would plan
    BroadcastNestedLoopJoin), which is exactly what the operator
    avoids (asserted in tests/test_plans.py)."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag("ts").over(seq).cast("long")
    is_new = F.when(gap.isNull() | (gap > 86400), 1).otherwise(0)
    sess = p.select("user_id", "ts", "event_id", is_new.alias("is_new")).select(
        "user_id",
        "ts",
        F.sum("is_new")
        .over(seq.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("int")
        .alias("session_id"),
    )
    iv = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n_purchases"),
        )
        .filter(F.col("n_purchases") >= 2)
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    j = interval_join(
        clicks, iv, "ts", "start_ts", "end_ts", keys=("user_id",), bin_width_s=86400
    )
    return (
        j.groupBy("user_id", "session_id", "start_ts", "n_purchases")
        .agg(F.count(F.lit(1)).alias("n_clicks"), dsum(F.col("value")).alias("click_value"))
        .select(
            "user_id",
            F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_purchases",
            "n_clicks",
            "click_value",
        )
    )


@query(
    "events_rollup_hierarchy",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(25,6))) AS sv,
             MIN(value) AS mn, MAX(value) AS mx
      FROM events GROUP BY 1, 2),
    daily AS (
      SELECT time_bucket(INTERVAL '1 day', h) AS d, event_type,
             SUM(n) AS n, SUM(sv) AS sv, MIN(mn) AS mn, MAX(mx) AS mx
      FROM hourly GROUP BY 1, 2),
    monthly AS (
      SELECT strftime(date_trunc('month', d), '%Y-%m-%d') AS month,
             event_type,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(sv) AS DOUBLE) AS total_value,
             MIN(mn) AS min_value, MAX(mx) AS max_value
      FROM daily GROUP BY 1, 2)
    SELECT * FROM monthly
    """,
)
def events_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (hourly -> daily -> monthly), every level
    computed FROM THE PREVIOUS level, never rescanning raw events —
    the continuous-aggregate / hypertable-rollup pattern: at 100 TB
    the hourly level is materialized incrementally (foreachBatch,
    cf. stream_foreachbatch_sink) and coarser levels are merges of
    kilobyte-scale partials. Every aggregate is MERGEABLE (count-sum
    as decimal, min/max), which is what makes re-aggregation legal;
    avg would be carried as (sum, count). The oracle chains the same
    three levels."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("sv"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    ).select(F.col("w.start").alias("h"), "event_type", "n", "sv", "mn", "mx")
    daily = hourly.groupBy(
        F.date_trunc("day", "h").alias("d"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.sum("sv").alias("sv"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    return daily.groupBy(
        F.date_format(F.date_trunc("month", "d"), "yyyy-MM-dd").alias("month"),
        "event_type",
    ).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sv").cast("double").alias("total_value"),
        F.min("mn").alias("min_value"),
        F.max("mx").alias("max_value"),
    )



@query(
    "events_multigrain_rollup",
    oracle="""
    SELECT 'minute' AS grain,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'hour', strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'),
           event_type, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day', strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S'),
           event_type, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
    FROM events GROUP BY 2, 3
    """,
)
def events_multigrain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate at minute/hour/day grains
    where each COARSER grain aggregates the FINER grain's partials —
    raw events are scanned exactly once (the oracle re-states each
    grain from raw; results agree because decimal sums are exact and
    associative).

    The 100 TB point: the minute partials are the only full-data
    aggregation; hour rolls up minute rows (~1440x smaller), day rolls
    up hour rows. Partials stay DECIMAL until the final cast, so
    re-aggregation is bit-exact — the invariant that makes stored
    continuous aggregates trustworthy.

    The minute aggregate is BARRIERED before fan-out: Spark does not
    share subplans across the union's three branches (verified: 3 raw
    scans, zero ReusedExchange without it), so the fan-out point is
    materialized once — the part_abc lesson (NOTES.md), and the same
    thing a stored continuous aggregate does by definition.
    """
    from bigdatafinalproject_spark.operators.barrier import (
        materialize_barrier,
    )

    e = load_table(spark, sf_dir, "events")
    dec = "decimal(25,6)"
    minute = materialize_barrier(
        e.groupBy(F.date_trunc("minute", "ts").alias("b"), "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(dec)).alias("sv"),
        )
    )
    hour = minute.groupBy(
        F.date_trunc("hour", "b").alias("b"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    day = hour.groupBy(
        F.date_trunc("day", "b").alias("b"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))

    def fin(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("sv").cast("decimal(25,6)").cast("double").alias("total_value"),
        )

    return fin(minute, "minute").unionAll(fin(hour, "hour")).unionAll(
        fin(day, "day")
    )


@query(
    "events_orders_cogroup_merge",
    oracle="""
    WITH ranked AS (
      SELECT e.user_id, e.event_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM (SELECT * FROM events WHERE user_id % 10 = 3) e
      LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_matched,
           CAST(SUM(COALESCE(o_orderkey, 0)) AS BIGINT) AS orderkey_sum
    FROM ranked WHERE rn = 1
    GROUP BY user_id
    """,
)
def events_orders_cogroup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped ``applyInPandas`` (the cogroup row of the UDF surface
    — §2.11 family): events and orders are co-grouped per user and
    merged with ``pandas.merge_asof`` inside one Arrow batch, then
    summarized per user (event count, matched count, exact orderkey
    sum).

    Policy note (same as doc_sentences_udtf): the built-in as-of join
    (events_asof_order / operators/asof.py) is what a hot path should
    use — this operator demonstrates the cogroup shape for logic that
    genuinely needs two sorted per-key frames in Python (custom
    point-in-time feature joins). Scale: one shuffle per side on
    user_id, bounded per-user groups, Arrow batch transfer — no
    driver involvement.

    merge_asof tie-breaking == the oracle's (o_orderdate DESC,
    o_orderkey DESC) argmax: pandas takes the LAST matching row in
    (o_orderdate, o_orderkey) sort order at each event.
    """
    import pandas as pd

    # bounded user panel: cogroup invokes Python once per key, so the
    # API demo runs on a 10% slice — the built-in as-of join
    # (events_asof_order) is the full-corpus hot path
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 3)
        .select("user_id", "event_id", "ts")
    )
    # panel-filter BOTH sides: cogroup invokes the Python function once
    # per key present in EITHER side, so unfiltered orders would add
    # ~9x empty-events calls — per-call Arrow overhead, not data
    # volume, is the cost that matters here
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 3)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )

    def merge(ev: pd.DataFrame, od: pd.DataFrame) -> pd.DataFrame:
        if ev.empty:
            # a user with orders but no events contributes nothing
            # (the oracle's LEFT JOIN starts from events)
            return pd.DataFrame(
                {"user_id": [], "n_events": [], "n_matched": [], "orderkey_sum": []}
            )
        ev = ev.sort_values(["ts", "event_id"])
        od = od.sort_values(["o_orderdate", "o_orderkey"])
        m = pd.merge_asof(
            ev,
            od[["o_orderdate", "o_orderkey"]],
            left_on="ts",
            right_on="o_orderdate",
            direction="backward",
            allow_exact_matches=True,
        )
        return pd.DataFrame(
            {
                "user_id": [int(ev["user_id"].iloc[0])],
                "n_events": [len(m)],
                "n_matched": [int(m["o_orderkey"].notna().sum())],
                # merge_asof NaNs make o_orderkey float64 — cast back
                # to int64 BEFORE summing so the audit sum stays exact
                # past 2^53 total
                "orderkey_sum": [
                    int(m["o_orderkey"].fillna(0).astype("int64").sum())
                ],
            }
        )

    # cogroup's fixed cost is per-Python-pipeline (one worker fork +
    # Arrow stream per shuffle partition), not per-row: pre-hash both
    # sides onto a handful of partitions so EnsureRequirements reuses
    # the partitioning and the pipeline count drops 32 -> 8 (the
    # streaming modules' state-store count)
    n_parts = _stream_partitions(spark)
    return (
        e.repartition(n_parts, "user_id")
        .groupBy("user_id")
        .cogroup(o.repartition(n_parts, "user_id").groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id bigint, n_events bigint, n_matched bigint, "
            "orderkey_sum bigint",
        )
    )


@query(
    "events_linear_attribution",
    oracle="""
    WITH p AS (SELECT user_id, ts AS p_ts, event_id AS p_id,
                      CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)
                          AS cents
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, event_id AS c_id,
                 CAST(json_extract_string(props, '$.k') AS INT) % 10
                     AS channel
          FROM events WHERE event_type = 'click'),
    j AS (SELECT p.p_id, p.cents, c.channel, c.ts, c.c_id
          FROM p JOIN c ON c.user_id = p.user_id
           AND c.ts >= p.p_ts - INTERVAL '60 minutes' AND c.ts <= p.p_ts),
    t AS (SELECT p_id, cents, channel,
                 COUNT(*) OVER (PARTITION BY p_id) AS n_touch,
                 row_number() OVER (PARTITION BY p_id
                                    ORDER BY ts, c_id) AS touch_rank
          FROM j),
    per AS (SELECT channel, COUNT(*) AS n_touches,
                   COUNT(DISTINCT p_id) AS n_purchases,
                   SUM((cents * 10000) // n_touch
                       + CASE WHEN touch_rank <= (cents * 10000) % n_touch
                              THEN 1 ELSE 0 END) AS credit_micro
            FROM t GROUP BY channel),
    un AS (SELECT -1 AS channel, 0 AS n_touches, COUNT(*) AS n_purchases,
                  COALESCE(SUM(cents * 10000), 0) AS credit_micro
           FROM p WHERE p_id NOT IN (SELECT DISTINCT p_id FROM j)),
    allr AS (SELECT * FROM per
             UNION ALL SELECT * FROM un WHERE n_purchases > 0)
    SELECT CAST(channel AS INT) AS channel,
           CAST(n_touches AS BIGINT) AS n_touches,
           CAST(n_purchases AS BIGINT) AS n_purchases,
           CAST(credit_micro AS BIGINT) AS credit_micro,
           CAST(credit_micro AS DOUBLE) / 1000000.0 AS credit_value
    FROM allr
    """,
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution: each purchase's value is split
    equally across the same user's clicks in the preceding 60 minutes
    (clicks bucketed into pseudo-channels by their payload key), and
    purchases with no qualifying touch land in an explicit
    ``channel = -1`` unattributed bucket — so credit is conserved and
    auditable, not silently dropped.

    Exactness discipline: credit per touch is integer micro-dollars
    ``(cents * 10000) DIV n_touch`` plus a largest-remainder
    micro-unit to the earliest ``(cents * 10000) % n_touch`` touches
    (rank by (ts, event_id) — total order, engine-portable), so
    credit is CONSERVED TO THE MICRO-DOLLAR: attributed + unattributed
    equals the purchase total exactly (pinned by
    tests/test_properties.py). Integer division and integer sums both
    engines, order-independent. Assumes non-negative purchase values
    (this corpus's contract): Spark's DIV truncates toward zero while
    DuckDB's // floors, so negative refund amounts would need
    floor-division alignment before the remainder step. The window
    join reuses operators/rangejoin
    (bin-bucketed equi-join — never a BroadcastNestedLoopJoin), and
    the per-purchase touch count is a window over the purchase key
    (bounded by touches-per-purchase)."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    iv = p.withColumn(
        "w_start", F.col("p_ts") - F.expr("INTERVAL 60 MINUTES")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("c_id"),
        (F.get_json_object("props", "$.k").cast("int") % 10).alias("channel"),
    )
    j = interval_join(
        clicks, iv, "ts", "w_start", "p_ts", keys=("user_id",), bin_width_s=3600
    )
    pw = W.partitionBy("p_id")
    t = (
        j.withColumn("n_touch", F.count(F.lit(1)).over(pw))
        .withColumn(
            "touch_rank",
            F.row_number().over(pw.orderBy("ts", "c_id")),
        )
        .withColumn(
            "credit_u",
            F.expr(
                "(cents * 10000) DIV n_touch + CASE WHEN touch_rank <= "
                "(cents * 10000) % n_touch THEN 1 ELSE 0 END"
            ),
        )
    )
    per = t.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.countDistinct("p_id").alias("n_purchases"),
        F.sum("credit_u").alias("credit_micro"),
    )
    un = (
        p.join(j.select("p_id").distinct(), "p_id", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.coalesce(F.sum(F.col("cents") * 10000), F.lit(0)).alias(
                "credit_micro"
            ),
        )
        .select(
            F.lit(-1).alias("channel"),
            F.lit(0).cast("long").alias("n_touches"),
            "n_purchases",
            "credit_micro",
        )
        .filter(F.col("n_purchases") > 0)
    )
    return per.unionByName(un).select(
        F.col("channel").cast("int").alias("channel"),
        F.col("n_touches").cast("long").alias("n_touches"),
        F.col("n_purchases").cast("long").alias("n_purchases"),
        F.col("credit_micro").cast("long").alias("credit_micro"),
        (F.col("credit_micro").cast("double") / 1000000.0).alias(
            "credit_value"
        ),
    )
