"""Multiprocess SIGKILL soak for the persisted-index writer protocol
(r13, VERDICT r12 #3).

The fence/lease machinery was validated with in-process interleavings
and SIGSTOP pause injection (tests/test_ann_index.py); the production
threat model is PROCESS DEATH at arbitrary points of a maintenance
transaction. This soak runs N concurrent OS-process writers — each a
real SparkSession appending disjoint batch-id ranges to ONE shared IVF
index, with periodic compactions (alternately minor and full) — while
a killer SIGKILLs a random worker's whole process group (python driver
+ its JVM) every few seconds and restarts it. A restarted worker simply retries from its
first un-applied batch id: redelivery idempotence is the protocol's
exactly-once story, so the soak's end-state assertion is total.

RETRACTION IN THE STORM (r14, VERDICT r13 #2): every batch id with
``bid % retract_mod == 2`` is a retract target — its worker appends
it, RETRACTS it (``retract_batch``, the third writer verb on the same
claim/fence path), and re-ingests fresh content under batch id
``n_batches + bid``, with kills landing anywhere in that three-txn
sequence. A restarted worker resumes deterministically from the
manifest (``applied_batches`` / ``batches`` / ``retracted``). A
concurrent compaction (full, or a minor one that ages the batch out)
can fold the target into the base between the append and the retract
— the documented retract-before-compact trade — in which case the
worker records a ``retract_folded_<bid>`` marker
and moves on; the verifier accepts exactly one outcome per target.

Invariants asserted at the end (and the whole point):

1. the manifest parses, is CURRENT, and records every expected batch
   id exactly once (``applied_batches`` is a duplicate-free set):
   0..n-1 plus the re-ingest id of every successfully retracted
   target;
2. batch-exactly-once IN THE DATA: reading postings through the
   manifest (the only read path), every landed batch's disjoint
   vec_id range appears exactly once — AND every retracted batch's
   range is ABSENT exactly (no lost batch, no double-append, no
   surviving retracted row, regardless of where the kills landed);
3. the cell_sizes manifest snapshot == the folded partial-count log
   == the counts derived from the postings relation;
4. ``appended_rows`` equals the sum of the landed batch sizes with
   every retraction's reversal applied;
5. after a final compaction, the on-disk unit dirs equal the
   manifest's ``units`` map exactly (every orphan a killed writer
   adopted-but-never-committed has been GC'd, including retracted
   units and any grace-period tombstones), and no stage/sweep/
   compact litter remains;
6. the fence dir carries the permanent e0 floor plus the committed
   epoch's marker only;
7. (with --readers N) reader processes serving queries CONTINUOUSLY
   through the kill storm never see the mid-maintenance refusal —
   the v6 availability claim — with only bounded snapshot retries
   from the documented compaction/retraction-GC window: the worst
   consecutive-retry streak before a successful serve must stay at
   or under ``--retry-ceiling`` (r14, VERDICT r13 #6 — a numeric
   bound, so a regression that widens the window FAILS instead of
   passing noisily);
8. (with --gc-grace-s S) workers sweep with the r14 tombstone grace
   window: readers must then see ZERO retries — the measured proof
   that the grace period closes the one reader-visible window.

v6 property under test: SIGKILL ANYWHERE in a maintenance txn leaves
the index CURRENT AND SERVING (the manifest-invalidate window is
gone), so no worker ever needs the 'rebuild it' remedy — a worker
seeing ValueError('no committed index') is itself an invariant
violation and fails the soak.

Usage:
  python scripts/index_kill_soak.py                  # full soak
  python scripts/index_kill_soak.py --workers 2 --batches 8 --kills 3
  (the pytest wrapper in tests/test_ann_index.py runs a bounded soak)

Lease mode with a short lease (default BDFP_ANN_LEASE_S=2) so killed
writers' claims lapse quickly; pass --claim-mode pid for the
same-host-exact variant.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)
DIM = 8
BATCH_ROWS = 40
BASE_ROWS = 200
PARAMS = dict(
    centroid_mod=7, max_centroids=8, train_rounds=0, multi_assign=1
)


def _session(threads: int = 2):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{threads}]")
        .appName("index-kill-soak")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _delta(spark, batch_id: int):
    """Batch ``batch_id``'s delta: BATCH_ROWS vectors in a DISJOINT
    deterministic vec_id range — the exactly-once check counts each
    range's presence in the final postings."""
    from pyspark.sql import functions as F

    lo = 1_000_000 + batch_id * BATCH_ROWS
    return (
        spark.range(lo, lo + BATCH_ROWS)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(1, {DIM}), "
                "j -> cast(pmod(id * j, 97) + 1 as float) / 98.0)"
            ).alias("embedding"),
        )
    )


def build_base(index_dir: str) -> None:
    from pyspark.sql import functions as F

    from bigdatafinalproject_spark.operators.ann_index import (
        ensure_ivf_index,
    )

    spark = _session(threads=4)
    corpus = (
        spark.range(0, BASE_ROWS)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(1, {DIM}), "
                "j -> cast(pmod(id * 3 + j, 89) + 1 as float) / 90.0)"
            ).alias("embedding"),
        )
    )
    corpus_path = os.path.join(os.path.dirname(index_dir), "corpus")
    corpus.write.mode("overwrite").parquet(corpus_path)
    from bigdatafinalproject_spark.operators.ann_index import (
        corpus_fingerprint,
    )

    fp = corpus_fingerprint(corpus_path, **PARAMS)
    ensure_ivf_index(
        spark, spark.read.parquet(corpus_path), index_dir, fp,
        src=corpus_path, **PARAMS,
    )
    spark.stop()


def _is_target(bid: int, retract_mod: int) -> bool:
    return bool(retract_mod) and bid % retract_mod == 2


def _folded_marker(index_dir: str, bid: int) -> str:
    return os.path.join(
        os.path.dirname(index_dir), f"retract_folded_{bid}"
    )


def _apply_retract_target(spark, index_dir: str, bid: int,
                          n_batches: int) -> None:
    """The retract target's three-txn sequence — append ``bid``,
    retract it, re-ingest fresh content under ``n_batches + bid`` —
    driven as a manifest-resumable state machine so a SIGKILL anywhere
    (including mid-retract) restarts cleanly: the manifest's
    ``applied_batches`` / ``batches`` / ``retracted`` fields encode
    exactly which step comes next. A concurrent compaction folding the
    batch into the base before the retract (the documented
    retract-before-compact trade) resolves to a ``retract_folded``
    marker the verifier accepts as the alternative outcome."""
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        ivf_index_append,
        retract_batch,
    )
    from bigdatafinalproject_spark.operators.txlog import (
        ConcurrentWriteError,
    )

    rid = n_batches + bid
    marker = _folded_marker(index_dir, bid)
    while True:
        meta = _manifest(index_dir)
        applied = set(meta.get("applied_batches", []))
        retracted = {int(b) for b in meta.get("retracted") or []}
        if rid in applied or os.path.exists(marker):
            return  # full path done, or folded — terminal either way
        try:
            if bid in retracted:
                # retract committed (possibly by a killed predecessor
                # of this slot): re-ingest under the new id
                ivf_index_append(
                    spark, index_dir, _delta(spark, rid), batch_id=rid
                )
            elif bid in applied:
                try:
                    retract_batch(index_dir, bid)
                except ValueError as e:
                    if "no provenance" not in str(e):
                        # any OTHER ValueError (e.g. the 'no committed
                        # index' refusal) is an invariant violation —
                        # fail the soak, don't paper over it
                        raise
                    # no provenance while applied: a concurrent
                    # compaction folded the batch into the base first
                    try:
                        open(marker, "x").close()
                    except FileExistsError:
                        pass
                    return
            else:
                ivf_index_append(
                    spark, index_dir, _delta(spark, bid), batch_id=bid
                )
        except ConcurrentWriteError:
            time.sleep(random.uniform(0.05, 0.3))
        # loop: re-read the manifest and take the next step


def worker(slot: int, nworkers: int, index_dir: str, n_batches: int,
           compact_every: int, retract_mod: int) -> None:
    """Append this slot's batch ids (slot, slot+N, ...) in order —
    running each retract target's append→retract→re-ingest sequence —
    retrying through contention; every ``compact_every`` batches run a
    compaction, alternating minor_compact_index and compact_index so
    all four writer verbs meet the kills. Exits 0 when every owned
    batch reached its terminal state."""
    from bigdatafinalproject_spark.operators.ann_index import (
        compact_index,
        ivf_index_append,
        minor_compact_index,
    )
    from bigdatafinalproject_spark.operators.txlog import (
        ConcurrentWriteError,
    )

    spark = _session()
    done = 0
    for bid in range(slot, n_batches, nworkers):
        if _is_target(bid, retract_mod):
            _apply_retract_target(spark, index_dir, bid, n_batches)
        else:
            while True:
                try:
                    ivf_index_append(
                        spark, index_dir, _delta(spark, bid), batch_id=bid
                    )
                    break
                except ConcurrentWriteError:
                    time.sleep(random.uniform(0.05, 0.3))
        done += 1
        if compact_every and done % compact_every == 0:
            passes = done // compact_every
            try:
                if passes % 2:
                    minor_compact_index(spark, index_dir)
                else:
                    compact_index(spark, index_dir)
            except ConcurrentWriteError:
                pass  # someone else is writing; compaction is optional
    print(f"WORKER_DONE slot={slot}", flush=True)
    spark.stop()


def reader(slot: int, index_dir: str) -> None:
    """Serve queries CONTINUOUSLY while the writers churn and die —
    the v6 availability claim under test: with no manifest-invalidate
    window, a reader must NEVER see the 'absent, mid-maintenance, or
    crashed' refusal, no matter where the kills land. The one
    documented residual is the post-commit GC after a compaction (or
    a retraction) unreferences previously-served units: a scan
    planned against the superseded manifest can lose its files there
    — counted as a snapshot retry
    (bounded, reported), never an acceptable refusal. Exits when the
    supervisor drops the sentinel; writes {reads, retries} JSON."""
    from pyspark.sql import functions as F

    from bigdatafinalproject_spark.operators.ann_index import (
        ivf_index_search,
    )

    sentinel = os.path.join(os.path.dirname(index_dir), "_writers_done")
    out_path = os.path.join(
        os.path.dirname(index_dir), f"reader{slot}.json"
    )
    spark = _session()
    corpus = spark.read.parquet(
        os.path.join(os.path.dirname(index_dir), "corpus")
    ).cache()
    queries = corpus.filter(F.col("vec_id") % 37 == 0)
    nq = queries.count()
    reads = retries = streak = max_streak = 0
    expected = None
    while True:
        done = os.path.exists(sentinel)
        try:
            rows = ivf_index_search(
                spark, index_dir, corpus, queries, k=3
            ).collect()
        except ValueError as e:
            # the REFUSAL path ('no committed ivf index ... absent,
            # mid-maintenance, or crashed') — pre-v6's failure mode,
            # which v6 must never show a reader
            raise AssertionError(
                f"reader {slot}: index refused during maintenance "
                f"churn: {e}"
            ) from e
        except Exception:
            # vanished-file shape from the compaction/retraction GC
            # window: the scan was planned against a superseded
            # snapshot — retry. The CONSECUTIVE streak before the next
            # successful serve is the reader-visible outage metric the
            # supervisor bounds (r14, VERDICT r13 #6).
            retries += 1
            streak += 1
            max_streak = max(max_streak, streak)
        else:
            reads += 1
            streak = 0
            assert len(rows) >= nq, (
                f"reader {slot}: {len(rows)} rows for {nq} queries"
            )
            ids = {r["query_id"] for r in rows}
            if expected is None:
                expected = ids
            assert ids == expected, f"reader {slot}: query set changed"
        if done:
            break
        time.sleep(random.uniform(0.05, 0.2))
    with open(out_path, "w") as f:
        json.dump(
            {"reads": reads, "retries": retries,
             "max_retry_streak": max_streak},
            f,
        )
    print(
        f"READER_DONE slot={slot} reads={reads} retries={retries} "
        f"max_streak={max_streak}",
        flush=True,
    )
    spark.stop()


def _spawn(slot: int, args) -> subprocess.Popen:
    env = dict(
        os.environ,
        BDFP_ANN_CLAIM_MODE=args.claim_mode,
        BDFP_ANN_LEASE_S=str(args.lease_s),
        PYTHONPATH=REPO,
    )
    if args.gc_grace_s > 0:
        # r14 grace mode: writers tombstone dead units and reap only
        # after the window — readers must then see zero retries
        env["BDFP_INDEX_GC_GRACE_S"] = str(args.gc_grace_s)
    log = open(
        os.path.join(
            os.path.dirname(args.index_dir), f"worker{slot}.log"
        ),
        "ab",
    )
    return subprocess.Popen(
        [
            sys.executable, os.path.abspath(__file__), "--worker",
            str(slot), "--workers", str(args.workers),
            "--batches", str(args.batches),
            "--compact-every", str(args.compact_every),
            "--retract-mod", str(args.retract_mod),
            "--index-dir", args.index_dir,
        ],
        env=env,
        start_new_session=True,  # killpg must take the JVM too
        stdout=log,
        stderr=log,
    )


def verify(index_dir: str, n_batches: int, retract_mod: int = 0) -> dict:
    """The end-state invariant sweep; raises AssertionError on any
    violation, returns a summary dict."""
    from pyspark.sql import functions as F

    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        _read_sizes,
        _read_table,
        _unit_mver,
        _unit_paths,
        compact_index,
    )

    spark = _session(threads=4)
    # a final compaction bounds the unit count AND exercises GC so the
    # disk-vs-manifest compare below is exact (the supervisor runs
    # WITHOUT the grace env, so grace-mode tombstones reap here too)
    compact_index(spark, index_dir)
    meta = _manifest(index_dir)
    assert meta is not None, "no committed manifest after soak"

    # retraction outcome ledger (r14): every retract target resolved
    # EXACTLY one way — retracted (and re-ingested under its new id)
    # or folded-by-compaction (marker); never both, never neither
    targets = {b for b in range(n_batches) if _is_target(b, retract_mod)}
    retracted = {int(b) for b in meta.get("retracted") or []}
    folded_targets = {
        b for b in targets
        if os.path.exists(_folded_marker(index_dir, b))
    }
    assert retracted <= targets, (retracted, targets)
    assert retracted | folded_targets == targets, (
        retracted, folded_targets, targets
    )
    assert not (retracted & folded_targets), (retracted, folded_targets)
    reingested = {n_batches + b for b in retracted}

    # (1) every batch applied exactly once in the manifest: 0..n-1
    # plus the re-ingest id of every successfully retracted target
    # (retracted ids STAY applied — retraction is 'remove and do not
    # re-ingest', so redelivery skips)
    applied = meta.get("applied_batches", [])
    expect_applied = sorted(set(range(n_batches)) | reingested)
    assert sorted(applied) == expect_applied, (
        f"applied_batches {sorted(applied)} != {expect_applied}"
    )
    assert len(set(applied)) == len(applied), "duplicate batch ids"

    # (2) batch-exactly-once in the data, read through the manifest:
    # live ranges present exactly once, retracted ranges ABSENT exactly
    live_ids = (set(range(n_batches)) - retracted) | reingested
    postings = _read_table(spark, index_dir, meta, "postings")
    appended = postings.filter(F.col("neighbor_id") >= 1_000_000)
    dup = appended.groupBy("neighbor_id").count().filter(
        F.col("count") != 1
    ).count()
    assert dup == 0, f"{dup} vec_ids appear != once (double-append/loss)"
    per_range = {
        int(r["bid"]): int(r["cnt"])
        for r in appended.select(
            F.floor(
                (F.col("neighbor_id") - 1_000_000) / BATCH_ROWS
            ).alias("bid")
        )
        .groupBy("bid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for bid in sorted(live_ids):
        assert per_range.get(bid) == BATCH_ROWS, (
            f"batch {bid}: {per_range.get(bid)} rows != {BATCH_ROWS}"
        )
    for bid in sorted(retracted):
        assert bid not in per_range, (
            f"retracted batch {bid}: {per_range.get(bid)} rows SURVIVED"
        )
    assert set(per_range) == live_ids, (
        sorted(set(per_range) - live_ids), "unexpected ranges present"
    )
    n_app = appended.count()
    assert n_app == len(live_ids) * BATCH_ROWS, (
        f"appended postings {n_app} != {len(live_ids) * BATCH_ROWS}"
    )

    # (3) cell_sizes: manifest snapshot == folded log == derived
    snap = {int(c): int(n) for c, n in meta["cell_sizes"]}
    folded = {
        int(r["centroid_id"]): int(r["_csz"])
        for r in _read_sizes(
            spark, _unit_paths(index_dir, meta, "cell_sizes")
        ).collect()
    }
    derived = {
        int(r["centroid_id"]): int(r["cnt"])
        for r in postings.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert snap == folded == derived, (snap, folded, derived)

    # (4) row accounting — every retraction's reversal applied
    assert int(meta["appended_rows"]) == len(live_ids) * BATCH_ROWS

    # (5) disk units == manifest units, no litter
    for t in meta["tables"]:
        live = set(meta["units"][t])
        on_disk = {
            n for n in os.listdir(os.path.join(index_dir, t))
            if _unit_mver(n) is not None
        }
        assert on_disk == live, (t, sorted(on_disk), sorted(live))
    litter = [
        n for n in os.listdir(index_dir)
        if n.startswith(("_stage.tmp.", "_sweep.tmp."))
        or ".compact." in n
    ]
    assert not litter, f"stage/sweep/compact litter: {litter}"

    # (6) fence: permanent floor + the committed epoch only
    fence = sorted(os.listdir(os.path.join(index_dir, "_fence")))
    expect = sorted({"e000000000000", f"e{int(meta['mver']):012d}"})
    assert fence == expect, (fence, expect)

    spark.stop()
    return {
        "batches": n_batches,
        "mver": int(meta["mver"]),
        "appended_rows": int(meta["appended_rows"]),
        "units": {t: len(us) for t, us in meta["units"].items()},
        "retract_targets": len(targets),
        "retracted": sorted(retracted),
        "folded_by_compaction": sorted(folded_targets),
    }


def _spawn_reader(slot: int, args) -> subprocess.Popen:
    env = dict(
        os.environ,
        BDFP_ANN_CLAIM_MODE=args.claim_mode,
        BDFP_ANN_LEASE_S=str(args.lease_s),
        PYTHONPATH=REPO,
    )
    log = open(
        os.path.join(
            os.path.dirname(args.index_dir), f"reader{slot}.log"
        ),
        "ab",
    )
    return subprocess.Popen(
        [
            sys.executable, os.path.abspath(__file__), "--reader",
            str(slot), "--index-dir", args.index_dir,
        ],
        env=env,
        start_new_session=True,
        stdout=log,
        stderr=log,
    )


def supervise(args) -> dict:
    os.makedirs(args.index_dir, exist_ok=True)
    build_base(args.index_dir)
    readers = {
        s: _spawn_reader(s, args) for s in range(args.readers)
    }
    procs = {s: _spawn(s, args) for s in range(args.workers)}
    kills = 0
    t0 = time.monotonic()
    while True:
        live = {s: p for s, p in procs.items() if p.poll() is None}
        if not live:
            break
        if kills < args.kills:
            time.sleep(random.uniform(args.kill_min_s, args.kill_max_s))
            victims = [s for s, p in procs.items() if p.poll() is None]
            if not victims:
                continue
            s = random.choice(victims)
            try:
                os.killpg(procs[s].pid, signal.SIGKILL)
            except ProcessLookupError:
                continue
            procs[s].wait()
            kills += 1
            print(f"killed worker slot={s} (kill {kills}/{args.kills})",
                  flush=True)
            procs[s] = _spawn(s, args)
        else:
            time.sleep(1.0)
        if time.monotonic() - t0 > args.timeout_s:
            for p in procs.values():
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            raise TimeoutError(
                f"soak exceeded {args.timeout_s}s (wedged writers?)"
            )
    failed = {s: p.returncode for s, p in procs.items() if p.returncode}
    assert not failed, f"worker exit codes: {failed}"
    # writers done: release the readers and demand they observed an
    # always-serving index (the v6 availability claim)
    reader_stats = {}
    if readers:
        sentinel = os.path.join(
            os.path.dirname(args.index_dir), "_writers_done"
        )
        open(sentinel, "w").close()
        for s, p in readers.items():
            rc = p.wait(timeout=120)
            assert rc == 0, f"reader {s} failed (exit {rc}) — see log"
            with open(
                os.path.join(
                    os.path.dirname(args.index_dir), f"reader{s}.json"
                )
            ) as f:
                reader_stats[s] = json.load(f)
            assert reader_stats[s]["reads"] > 0, f"reader {s}: no reads"
            # (7) the NUMERIC retry bound (r14, VERDICT r13 #6): the
            # worst consecutive-retry streak before a successful serve
            # is the reader-visible outage; a regression that widens
            # the GC window must FAIL here, not pass noisily
            streak = reader_stats[s].get("max_retry_streak", 0)
            assert streak <= args.retry_ceiling, (
                f"reader {s}: max retry streak {streak} > ceiling "
                f"{args.retry_ceiling}"
            )
            # (8) grace mode: the tombstone window must make the
            # reader-visible GC window disappear entirely
            if args.gc_grace_s > 0:
                assert reader_stats[s]["retries"] == 0, (
                    f"reader {s}: {reader_stats[s]['retries']} retries "
                    f"despite gc grace {args.gc_grace_s}s"
                )
    out = verify(args.index_dir, args.batches, args.retract_mod)
    out["kills"] = kills
    out["wall_s"] = round(time.monotonic() - t0, 1)
    if reader_stats:
        out["readers"] = reader_stats
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", type=int, default=None)
    ap.add_argument("--reader", type=int, default=None)
    ap.add_argument("--workers", type=int, default=3)
    ap.add_argument("--readers", type=int, default=2)
    ap.add_argument("--batches", type=int, default=24)
    ap.add_argument("--kills", type=int, default=6)
    ap.add_argument("--compact-every", type=int, default=3)
    # bid % mod == 2 marks retract targets; 0 disables retraction
    ap.add_argument("--retract-mod", type=int, default=4)
    # numeric reader-outage bound (r14, VERDICT r13 #6): worst
    # consecutive retries before a successful serve
    ap.add_argument("--retry-ceiling", type=int, default=3)
    # >0 runs workers with BDFP_INDEX_GC_GRACE_S (r14 tombstone
    # grace): readers must then see ZERO retries
    ap.add_argument("--gc-grace-s", type=float, default=0.0)
    ap.add_argument("--kill-min-s", type=float, default=4.0)
    ap.add_argument("--kill-max-s", type=float, default=10.0)
    ap.add_argument("--timeout-s", type=float, default=900.0)
    ap.add_argument("--claim-mode", default="lease")
    ap.add_argument("--lease-s", type=float, default=2.0)
    ap.add_argument("--index-dir", default=None)
    args = ap.parse_args()
    if args.worker is not None:
        worker(args.worker, args.workers, args.index_dir, args.batches,
               args.compact_every, args.retract_mod)
        return
    if args.reader is not None:
        reader(args.reader, args.index_dir)
        return
    if args.index_dir is None:
        import tempfile

        args.index_dir = os.path.join(
            tempfile.mkdtemp(prefix="bdfp_killsoak_"), "ivf_index"
        )
    os.environ.setdefault("BDFP_ANN_CLAIM_MODE", args.claim_mode)
    os.environ.setdefault("BDFP_ANN_LEASE_S", str(args.lease_s))
    summary = supervise(args)
    print("KILL_SOAK_OK " + json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
