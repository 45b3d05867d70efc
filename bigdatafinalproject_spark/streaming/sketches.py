"""Streaming count-min sketch maintenance: the merge property, live.

Each micro-batch builds its own partial (r, cell, c) grid INSIDE
foreachBatch (stateless stream — no state store at all) and writes it
idempotently under batch=<id>; the queryable sketch is the bin-wise SUM
of every partial. Because CMS cells are plain counts, merged partial
sketches are EXACTLY the sketch of the concatenated stream — which is
what the DuckDB oracle (one global grid over the full table) verifies.

At 100 TB/day this is the production shape: per-interval partial
sketches land as tiny parquet rows (<= depth*width per batch), the
serving-side merge is a groupBy over kilobytes, and re-processing any
interval just overwrites its batch directory (exactly-once via
idempotent per-batch paths, same policy as streaming/embeddings'
LSH index).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_spark.catalog import scratch_dir, table_path
from bigdatafinalproject_spark.operators.sketches import (
    _cells_from_h,
    _h31,
)
from bigdatafinalproject_spark.streaming.schema import footer_read_schema

_N_CHUNKS = 4


def _chunked_events_dir(
    sf_dir: str,
    columns: tuple[str, ...] = ("event_id", "user_id"),
    prefix: str = "bdfp_evchunks",
) -> str:
    """Stage events split into several parquet files so the file source
    (maxFilesPerTrigger=1) produces MULTIPLE micro-batches — the merge
    path is only exercised with >1 partial sketch. Staged once per
    (source path, mtime, column set); concurrent processes share it
    safely because content is deterministic and writes go through a
    tmp+rename. Callers needing other columns pass their own
    ``columns`` + a distinct ``prefix`` (so projections never collide
    in the shared cache)."""
    import pyarrow.parquet as pq

    src = os.path.abspath(table_path(sf_dir, "events"))
    tag = hashlib.md5(
        f"{src}:{os.path.getmtime(src)}:{','.join(columns)}".encode()
    ).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")
    done = os.path.join(d, "_STAGED")
    if os.path.exists(done):
        return d
    t = pq.read_table(src, columns=list(columns))
    n = t.num_rows
    step = (n + _N_CHUNKS - 1) // _N_CHUNKS
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    for i in range(_N_CHUNKS):
        pq.write_table(
            t.slice(i * step, step), os.path.join(tmp, f"chunk{i}.parquet")
        )
    # _STAGED records the FULL cache identity (source path + column
    # set — matching what the tag hashes) so pruning can distinguish
    # "stale mtime of MY projection" from "another caller's live
    # projection of the same source": matching on src alone would let
    # two same-prefix callers with different columns delete each
    # other's live cache forever
    identity = f"{src}|{','.join(columns)}"
    open(os.path.join(tmp, "_STAGED"), "w").write(identity)
    try:
        os.rename(tmp, d)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # another process won
    # prune stale chunk dirs for the SAME (source, columns) identity
    # (ADVICE r3): different tag = an mtime that no longer exists;
    # other identities' dirs are left alone (may be live elsewhere).
    # Legacy dirs whose _STAGED holds only the bare src were written
    # before the identity format and can never be read again (their
    # tag formula predates the column component) — prune those too.
    for p in glob.glob(
        os.path.join(tempfile.gettempdir(), f"{prefix}_*")
    ):
        if p == d or p.endswith(f".tmp{os.getpid()}"):
            continue
        try:
            with open(os.path.join(p, "_STAGED")) as fh:
                recorded = fh.read()
            if recorded in (identity, src):
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    return d


def stream_cms_sketch(
    spark: SparkSession, sf_dir: str, depth: int = 4, width: int = 64
) -> tuple[DataFrame, int]:
    """Run the event stream to completion, building one partial CMS per
    micro-batch; return (merged sketch (r, cell, c), number of partial
    sketches merged)."""
    d = _chunked_events_dir(sf_dir)
    raw = (
        spark.readStream.schema(
            footer_read_schema(os.path.join(d, "chunk0.parquet"))
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    cells = (
        raw.select(_h31(F.col("user_id")).alias("_h"))
        .select(F.explode(_cells_from_h(F.col("_h"), depth, width)).alias("rc"))
        .select(F.col("rc.r").alias("r"), F.col("rc.cell").alias("cell"))
    )

    # the merged frame reads `out` lazily, so its removal waits for
    # interpreter exit (scratch_dir); a rerun in this process starts fresh
    out = scratch_dir(sf_dir, "cms_index")
    shutil.rmtree(out, ignore_errors=True)

    def write_partial(bdf: DataFrame, bid: int) -> None:
        # aggregate INSIDE the batch: stateless stream, zero state store
        (
            bdf.groupBy("r", "cell")
            .agg(F.count(F.lit(1)).alias("c"))
            .write.mode("overwrite")
            .parquet(f"{out}/batch={bid}")
        )

    q = (
        cells.writeStream.foreachBatch(write_partial)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = (
        spark.read.parquet(out)
        .groupBy("r", "cell")
        .agg(F.sum("c").alias("c"))
    )
    n_batches = len(
        [p for p in os.listdir(out) if p.startswith("batch=")]
    )
    return merged, n_batches


def stream_hll_registers(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """Streaming portable-HLL maintenance (same shape as
    :func:`stream_cms_sketch`): each micro-batch writes its OWN partial
    register table (idx, M) under an idempotent batch=<id> path —
    stateless stream, zero state store — and the queryable sketch is
    the register-wise MAX over all partials. max is idempotent and
    commutative, so re-processing a batch or merging shards can never
    corrupt the estimate; the merged registers are EXACTLY the
    registers of the concatenated stream, which is what sharing the
    batch oracle verifies. Returns (registers (idx, M), n partials)."""
    from bigdatafinalproject_spark.operators.sketches import (
        hll_register_table,
    )

    d = _chunked_events_dir(sf_dir)
    raw = (
        spark.readStream.schema(
            footer_read_schema(os.path.join(d, "chunk0.parquet"))
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )

    out = scratch_dir(sf_dir, "hll_index")
    shutil.rmtree(out, ignore_errors=True)

    def write_partial(bdf: DataFrame, bid: int) -> None:
        (
            hll_register_table(bdf, "user_id", [])
            .write.mode("overwrite")
            .parquet(f"{out}/batch={bid}")
        )

    q = (
        raw.select("user_id")
        .writeStream.foreachBatch(write_partial)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    merged = (
        spark.read.parquet(out)
        .groupBy("idx")
        .agg(F.max("M").cast("int").alias("M"))
    )
    n_batches = len([p for p in os.listdir(out) if p.startswith("batch=")])
    return merged, n_batches
