"""Streaming operators over the events table (SURVEY §7.7).

Each helper builds a ``readStream`` over the parquet events table (the
file source stands in for Kafka in this environment; the plan is
identical), applies event-time logic — watermarks, tumbling/sliding/
session windows, watermarked dedup, custom Pandas state — and runs it
to completion against a memory sink so batch tests (and the DuckDB
oracle, for the complete-mode aggregations) can verify the results.

Scale notes: streaming state is keyed by (window, key) — the watermark
bounds state size; ``applyInPandasWithState`` partitions by key so
custom state scales with key cardinality, not event volume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatafinalproject_spark.catalog import scratch_dir, table_path
from bigdatafinalproject_spark.functions import dsum

def _events_ts_arrow_type(sf_dir: str):
    """The physical parquet type of events.ts — it has changed across
    testdata regenerations (TIMESTAMP(NANOS) -> timestamp[us]), so the
    streaming read schema is derived from the footer, never hard-coded."""
    import pyarrow.parquet as pq

    return pq.read_schema(table_path(sf_dir, "events")).field("ts").type


def _raw_schema_and_norm(sf_dir: str):
    """(readStream schema, ts-normalizer) for the CURRENT testdata.

    - timestamp[ns]: nanosAsLong surfaces a long; read LongType and
      truncate ns->us (same truncation DuckDB applies).
    - timestamp[us] naive: Spark reads TIMESTAMP_NTZ; cast to TIMESTAMP
      (session TZ is UTC, so the cast is wall-clock exact).
    - timestamp[us] UTC-adjusted: already TIMESTAMP; identity.
    - plain int64: historical convention = epoch nanos; as the ns case.
    """
    import pyarrow as pa

    from bigdatafinalproject_spark.streaming.schema import (
        cast_to_canonical,
        footer_read_schema,
    )

    t = _events_ts_arrow_type(sf_dir)
    if pa.types.is_timestamp(t) and t.unit != "ns" and t.tz is None:
        ts_field = T.StructField("ts", T.TimestampNTZType())
        ts_norm = lambda df: df.withColumn("ts", F.col("ts").cast("timestamp"))  # noqa: E731
    elif pa.types.is_timestamp(t) and t.unit != "ns":
        ts_field = T.StructField("ts", T.TimestampType())
        ts_norm = lambda df: df  # noqa: E731
    else:
        ts_field = T.StructField("ts", T.LongType())
        ts_norm = lambda df: df.withColumn(  # noqa: E731
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # the OTHER columns' read types come from the footer too (same
    # regeneration-proofing as streaming/documents + embeddings), then
    # cast to the engine's canonical types after the ts normalization
    footer = footer_read_schema(table_path(sf_dir, "events"))
    schema = T.StructType(
        [ts_field if f.name == "ts" else f for f in footer]
    )
    canonical = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    norm = lambda df: cast_to_canonical(ts_norm(df), canonical)  # noqa: E731
    return schema, norm


def _stream_dir(sf_dir: str) -> str:
    """The parquet file source requires a DIRECTORY; the test tables are
    single files. Stage a stable symlink dir under /tmp per sf_dir."""
    import hashlib
    import os
    import tempfile

    src = os.path.abspath(table_path(sf_dir, "events"))
    tag = hashlib.md5(src.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"bdfp_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    # lexists (not exists): a dangling link must be replaced, not
    # re-created; tolerate a concurrent session winning the race
    if os.path.lexists(link) and os.readlink(link) != src:
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass
    return d


_FLUSH_USER = -1


def _flush_stream_dir(sf_dir: str) -> str:
    """Stage dir: the events symlink plus TWO far-future flush events
    (user_id = -1), mtime-ordered after the data file.

    Why: append-mode stateful queries only emit state the watermark has
    passed. On finite input the watermark stops ``delay`` short of the
    max event time, so trailing sessions would sit in state forever —
    the memory sink would silently MISS them (observed: 9540 vs 9549
    sessions at sf0.01). Reading this dir with maxFilesPerTrigger=1
    gives three deterministic micro-batches: after batch 1 (flush #1)
    the watermark is beyond every real event, so batch 2 (flush #2) —
    a DATA batch, no reliance on racy no-data micro-batches — evicts
    and emits every real session. Consumers filter user_id >= 0.

    This is the finite-input drain trick only; a real Kafka deployment
    just keeps receiving events and needs none of it.
    """
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = _stream_dir(sf_dir)
    d = base + "_flush"
    os.makedirs(d, exist_ok=True)
    src = os.path.abspath(table_path(sf_dir, "events"))
    link = os.path.join(d, "events.parquet")
    if os.path.lexists(link) and os.readlink(link) != src:
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass

    flush_paths = [os.path.join(d, f"flush_{i}.parquet") for i in (1, 2)]

    def _fresh(p: str) -> bool:
        # flush files persist in /tmp across testdata regenerations; a
        # stale one has the OLD physical ts type (e.g. timestamp[ns] when
        # the data is now timestamp[us]) or predates the current data
        # file's staged mtime — rewrite it.
        if not os.path.exists(p):
            return False
        if os.path.getmtime(p) <= os.path.getmtime(src):
            return False
        try:
            # FULL-schema comparison, not just ts: any regenerated
            # column type (e.g. value double -> float) makes the staged
            # flush file unreadable alongside the new data file
            return pq.read_schema(p).equals(pq.read_schema(src))
        except Exception:
            return False

    if all(_fresh(p) for p in flush_paths):
        return d

    schema = pq.read_schema(src)
    ts_type = schema.field("ts").type
    max_ts = pc.max(pq.read_table(src, columns=["ts"])["ts"]).cast(pa.int64()).as_py()
    # one day in the ts column's OWN unit (the raw int64 max is in that
    # unit too): nanos for timestamp[ns]/plain int64, micros for
    # timestamp[us], etc. A wrong unit here would stall or overshoot the
    # watermark the flush events exist to advance.
    if pa.types.is_timestamp(ts_type):
        per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts_type.unit]
    else:
        per_sec = 10**9
    day = 86_400 * per_sec
    data_mtime = os.path.getmtime(src)
    for i, p in enumerate(flush_paths):
        cols = {
            "event_id": pa.array([-1], schema.field("event_id").type),
            "ts": pa.array([max_ts + (i + 1) * day], pa.int64()).cast(ts_type),
            "user_id": pa.array([_FLUSH_USER], schema.field("user_id").type),
            "event_type": pa.array(["_flush"], schema.field("event_type").type),
            "value": pa.array([0.0], schema.field("value").type),
            "props": pa.array([None], schema.field("props").type),
        }
        tmp = p + ".tmp"
        pq.write_table(
            pa.table([cols[f.name] for f in schema], schema=schema), tmp
        )
        os.replace(tmp, p)
        # the file source orders micro-batches by mod time: data file,
        # then flush #1, then flush #2
        os.utime(p, (data_mtime + 10 * (i + 1), data_mtime + 10 * (i + 1)))
    return d


def read_event_stream(
    spark: SparkSession, sf_dir: str, drain: bool = False
) -> DataFrame:
    """Streaming read of the events table. ``drain=True`` appends the
    flush events and paces one file per micro-batch so append-mode
    state fully drains on this finite input (_flush_stream_dir);
    consumers must filter ``user_id >= 0``."""
    from bigdatafinalproject_spark.catalog import ensure_session_defaults

    ensure_session_defaults(spark)
    schema, norm = _raw_schema_and_norm(sf_dir)
    reader = spark.readStream.format("parquet").schema(schema)
    if drain:
        reader = reader.option("maxFilesPerTrigger", 1)
        raw = reader.load(_flush_stream_dir(sf_dir))
    else:
        raw = reader.load(_stream_dir(sf_dir))
    return norm(raw)


def _stream_partitions(spark: SparkSession) -> int:
    """State-store count for streaming queries: stateful operators keep
    one state store (and pay one commit) per shuffle partition per
    micro-batch, so the session's batch setting (= core count) is pure
    overhead for bounded-key state. A quarter of the parallelism
    (floor 8) halves-to-quarters measured micro-batch latency here;
    on a real cluster this still scales with executor count."""
    return max(8, spark.sparkContext.defaultParallelism // 4)


def _run_to_memory(df: DataFrame, mode: str, name: str) -> DataFrame:
    """Drive a streaming frame to completion into a memory sink and
    return the materialized result (file source => finite input).

    The sink table name is STABLE per operation so repeated runs in one
    session replace the previous result instead of leaking a new
    materialized `mem_<uuid>` table per call.

    Shuffle partitions are bounded for the stream's lifetime (captured
    at start()) and restored after — results are partition-count
    independent (decimal sums, watermark-driven emission), only the
    per-batch state-store commit cost changes."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_stream_partitions(spark)))
    try:
        q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def tumbling_plan(events: DataFrame) -> DataFrame:
    """The tumbling-aggregation PLAN, source-agnostic: any
    canonical-schema events frame (file-source stream, rate-source
    stream, or a batch frame — withWatermark is a no-op on batch) gets
    the identical watermark + 1-hour window + decimal-sum aggregation.
    tests/test_rate_source.py proves file-source and rate-source runs
    produce byte-identical results on the same logical input."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-hour aggregation, complete mode (the
    streaming twin of queries/events.events_tumbling — same oracle)."""
    agg = tumbling_plan(read_event_stream(spark, sf_dir))
    return _run_to_memory(agg, "complete", "bdfp_mem_tumbling")


def session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) per user, append mode — the
    streaming sessionizer (batch twin: queries/windows.sessionize).

    Runs in drain mode (read_event_stream(drain=True)): the flush
    events push the watermark past every real session, so the sink
    holds ALL sessions — byte-equal to the batch gaps-and-islands
    computation with the session_window boundary rule (a gap of
    exactly the gap duration starts a NEW session: windows are
    [start, start+gap), an event at start+gap does not overlap)."""
    agg = (
        read_event_stream(spark, sf_dir, drain=True)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    # the flush-event filter runs on the MATERIALIZED sink, not in the
    # streaming plan: Catalyst pushes a grouping-column predicate
    # through the aggregation to the scan, which would drop the flush
    # rows at the source and stall the watermark they exist to advance
    out = _run_to_memory(agg, "append", "bdfp_mem_sessions")
    return out.filter(F.col("user_id") >= 0)


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dropDuplicates on event_id (exactly-once
    ingestion semantics; state bounded by the watermark)."""
    # dropDuplicatesWithinWatermark (not plain dropDuplicates): with
    # the event-time column absent from the subset, plain dedup state is
    # NEVER evicted by the watermark and grows unboundedly on a real
    # stream; the WithinWatermark variant keys eviction off the
    # watermark itself.
    dd = (
        read_event_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    return _run_to_memory(dd, "append", "bdfp_mem_dedup")


def running_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, sum(value)) emitted once per batch — the pattern
    for operators Structured Streaming lacks natively.

    State accumulates integer CENTS (events.value is 2-decimal money),
    not floats: integer addition is exact and order-independent, so the
    emitted totals are bit-identical to the batch decimal-sum aggregate
    regardless of how rows are batched into state updates — which is
    what lets a custom stateful operator carry a true DuckDB oracle."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact: value has <= 2 decimal digits, so value*100 is an
            # integer up to one ulp and round() recovers it exactly
            cents += int(
                (pdf["value"].fillna(0.0) * 100).round().astype("int64").sum()
            )
        state.update((n, cents))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    stream = read_event_stream(spark, sf_dir).select("user_id", "value")
    updated = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(updated, "update", "bdfp_mem_usertotals")


def static_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the static
    customer dimension (user_id = c_custkey), aggregated per nation in
    complete mode.

    The static side is a plain batch DataFrame — Spark re-plans it into
    every micro-batch and (dimension-sized) BROADCASTS it, so the
    stream side never shuffles for the join and NO join state is kept:
    this is the zero-state enrichment pattern that scales to any event
    volume (vs a stream-stream join's watermark-bounded buffers).
    Finite input + complete mode => equals the batch join+agg exactly
    (true DuckDB oracle)."""
    from bigdatafinalproject_spark.catalog import load_table

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    agg = (
        read_event_stream(spark, sf_dir)
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
    )
    return _run_to_memory(agg, "complete", "bdfp_mem_static_join")


def tumbling_to_parquet_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink with exactly-once-style delivery: the tumbling
    aggregation runs in complete mode and each batch idempotently
    OVERWRITES the parquet output, so a replayed batch (after a
    checkpoint-recovery restart) rewrites identical content instead of
    duplicating it — checkpoint + idempotent write is the standard
    exactly-once recipe for sinks without transactional support.
    Returns the sink read back; finite input ⇒ content equals the batch
    tumbling aggregation (same oracle as stream_tumbling)."""
    import hashlib
    import os
    import tempfile

    src = os.path.abspath(table_path(sf_dir, "events"))
    tag = hashlib.md5(src.encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"bdfp_fb_sink_{tag}")

    agg = (
        read_event_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_stream_partitions(spark)))
    try:
        q = agg.writeStream.outputMode("complete").foreachBatch(write_batch).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.read.parquet(out)


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING 1-hour/30-minute aggregation, complete mode:
    each event lands in exactly window_len/hop = 2 overlapping windows.
    State cost scales with open windows x keys (2x tumbling here) and
    the watermark still bounds it; the streaming twin of the batch
    events_sliding shape."""
    agg = (
        read_event_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _run_to_memory(agg, "complete", "bdfp_mem_sliding")


def dlq_disposition() -> Column:
    """Single routing column for the DLQ sink: 'dlq' for poison rows
    (error type, NULL or negative value), 'ok' otherwise. One
    ``when().otherwise()`` rather than a filter pair: under
    three-valued logic a row with NULL event_type and a healthy value
    makes the poison predicate NULL, so ``filter(pred)`` /
    ``filter(~pred)`` would drop it from BOTH sinks — violating the
    lossless/exclusive contract the oracle checks. The CASE routes
    NULL-predicate rows to 'ok', matching the oracle (ADVICE r7)."""
    bad_pred = (
        (F.col("event_type") == "error")
        | F.col("value").isNull()
        | (F.col("value") < 0)
    )
    return F.when(bad_pred, F.lit("dlq")).otherwise(F.lit("ok"))


def dlq_routed_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue routing: each micro-batch SPLITS into valid
    rows (aggregated into the main sink) and quarantined rows
    (event_type='error' or null/negative value — written VERBATIM to
    the DLQ sink so they stay replayable after a fix), the standard
    poison-row pattern that keeps one bad record from failing the
    whole stream. Both sinks write per-batch paths idempotently
    (overwrite of batch=<id> — replays rewrite identical content).

    Returns one frame with a ``disposition`` column ('ok' rows carry
    the per-type aggregate; 'dlq' rows carry the quarantine counts) —
    together they account for EVERY input row, which is what the
    oracle checks: routing loses nothing and double-counts nothing.
    """
    import shutil

    base = scratch_dir(sf_dir, "dlq")
    main, dlq = f"{base}/main", f"{base}/dlq"
    shutil.rmtree(base, ignore_errors=True)
    disp = dlq_disposition()

    def route(bdf: DataFrame, bid: int) -> None:
        routed = bdf.withColumn("_disp", disp)
        routed.filter(F.col("_disp") == "dlq").drop("_disp").write.mode(
            "overwrite"
        ).parquet(f"{dlq}/batch={bid}")
        (
            routed.filter(F.col("_disp") == "ok")
            .drop("_disp")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "cents"
                ),
            )
            .write.mode("overwrite")
            .parquet(f"{main}/batch={bid}")
        )

    q = (
        read_event_stream(spark, sf_dir)
        .writeStream.foreachBatch(route)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ok = (
        spark.read.parquet(main)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            # coalesce mirrors the oracle's COALESCE(SUM(...), 0): a
            # type whose rows all carry NULL value must read 0.0, not
            # NULL (per-batch partials can hold NULL cents)
            F.coalesce(F.sum("cents"), F.lit(0)).alias("cents"),
        )
        .select(
            F.lit("ok").alias("disposition"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            (F.col("cents") / F.lit(100.0)).alias("total_value"),
        )
    )
    quarantined = (
        spark.read.parquet(dlq)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # null-safe for the same reason: quarantined rows may be
            # exactly the NULL-value ones
            F.coalesce(
                F.sum(F.round(F.col("value") * 100).cast("long")), F.lit(0)
            ).alias("cents"),
        )
        .select(
            F.lit("dlq").alias("disposition"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            (F.col("cents") / F.lit(100.0)).alias("total_value"),
        )
    )
    return ok.unionByName(quarantined)
