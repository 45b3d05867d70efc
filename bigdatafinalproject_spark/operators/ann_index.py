"""Persisted indexes: train/encode ONCE, serve many queries. Four kinds
(ivf, pq, ivfpq, dedup) share one storage layout and one writer
transaction path; each kind is described as data (``_KINDS``).

Layout. An index dir holds a ``_meta.json`` manifest (kind,
fingerprint, tables, source path, BUILD PARAMS, row counters) and one
dir per table. Table data lives in manifest-referenced UNIT dirs
(``<table>/b<mver>.<pid>-<tid>``): readers build their file lists from
the manifest's ``units`` map, never from a directory listing, so a
unit no manifest names is invisible.

Build (``ensure_*`` -> :func:`_ensure`): rebuild only when the manifest
is missing or its ``fingerprint`` (source identity + params + ALGORITHM
VERSION) differs. The kind's build frames are written into a
writer-unique tmp dir, the manifest is written LAST, and one atomic
rename installs the index — readers never observe a half-built index,
and a crashed build leaves no manifest. Superseded fingerprints of the
same (kind, source, subset) are garbage-collected after the install.

Maintenance: four writer verbs — append (``*_index_append`` ->
:func:`_append`), :func:`compact_index`, :func:`minor_compact_index`
and :func:`retract_batch` — run ONE transaction:

1. claim: CAS-claim manifest version ``mver+1`` in ``_applog``
   (:func:`_writer_txn`; a live contender makes the loser wait and
   re-read, so a batch the winner applied becomes an idempotent skip)
   and advance the writer fence (``_fence/e<mver>``);
2. stage: every Spark job of the transaction writes under
   ``_stage.tmp.<pid>.<mver>/<table>`` while the serving manifest is
   untouched (appends write the kind's append frames, compactions
   rewrite the picked units with ``layout.compact``, a retraction
   stages nothing). Claims serialize writers, so the stage sweep at
   this step removes any dead writer's stage;
3. publish (:func:`_publish`): re-check the fence and the manifest
   snapshot, adopt each staged table as unit ``_unit_name(mver)`` by
   one directory rename (non-destructive — uncommitted units are
   invisible), then commit the new manifest with one ``os.replace``,
   the single atomic visibility flip. After the commit the writer log
   and fence prune and dead units are GC'd. Every pre-commit failure
   releases the claim and removes the stage and any adopted unit, so
   a crash ANYWHERE leaves the index current and serving.

Append hyperparameters come from the manifest, never the caller.
Appends record per-batch provenance (units + rows) so a retraction is
an O(manifest) metadata operation; compaction folds batches into the
base. The manifest carries ``base_rows`` and ``appended_rows``;
:func:`needs_retrain` turns the measured append-drift trade
(RECALL_SCALE.json) into a rebuild trigger.

Search: the same serve plans as the end-to-end operators in
operators/ann.py, reading the persisted tables; structural
hyperparameters (PQ subspace layout) come FROM THE MANIFEST, and a
caller-supplied mismatch raises. Every build quantity is
deterministic, so a reloaded index is bit-identical to a fresh build
and the registered index-search queries share the end-to-end queries'
oracles.

100 TB shape: the index tables are the small side (centroids/codebook
are kBs and broadcast; postings/codes are key-only rows, ~1/16th the
corpus bytes at m=16); the corpus full-precision vectors stay in the
base table and are touched only for the bounded rerank pool.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import types
import warnings
from typing import Callable, NamedTuple

import pyarrow.parquet as papq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators.ann import (
    _nearest_centroids,
    ivf_build_frames,
    ivf_search_frames,
    ivfpq_build_frames,
    ivfpq_search_frames,
    mass_schedule_for_n,
    pq_build_frames,
    pq_search_frames,
    rerank_pool_for_index,
)
from bigdatafinalproject_spark.operators.arrow_kernels import (
    encode_codebook_arrow,
    norms_arrow,
    panel_from_parquet,
    topn_centroids_arrow,
)
from bigdatafinalproject_spark.operators.dedup import (
    _broadcast_overlap_stats,
    dedup_status_against_index,
    minhash_band_digests,
    norm_text,
    winnow_fingerprints,
)
from bigdatafinalproject_spark.operators.layout import compact, spread_scaled
from bigdatafinalproject_spark.operators.txlog import (
    ConcurrentWriteError,
    LeaseRenewer as _LeaseRenewer,
    claim_alive as _claim_alive,
    claim_mode as _claim_mode,
    claim_payload,
    commit_exclusive,
    entry_path,
    lease_seconds as _lease_seconds,
    prune,
    read_claim,
)

_META = "_meta.json"
_APPLOG = "_applog"
# writer-fence epochs (r12, VERDICT r11 #4): an append-only DIRECTORY
# of epoch marker files (`_fence/e<mver>`), one created by every
# claimant immediately after its post-claim validation; the CURRENT
# epoch is the maximum. A lease-mode writer that was paused past its
# lease (SIGSTOP, VM freeze) and whose slot a contender judged dead
# re-checks the max epoch IMMEDIATELY before its invalidate/rename
# batch and raises when a later epoch exists — so the both-alive
# interleaving (zombie resumes while the contender is mid-append,
# before the contender's stage sweep reaches it) can no longer
# invalidate or adopt over the contender's work. The append-only set
# makes the fence MONOTONIC by construction (r12 review #1: a
# read-modify-replace fence file could be regressed by a zombie that
# paused between its claim CAS and its fence write — creating a
# marker can never lower the max, however stale the creator). The
# residual window is the gap between the fence check and the first
# rename — single-rename atomicity, the bar a plain POSIX dir can
# express (the r11 residual was the whole stage→recommit span).
_FENCE = "_fence"
# salt the fingerprint with the builder ALGORITHM version: a code
# change to the build halves under unchanged corpus+params must
# invalidate cached indexes (r8 review finding #2) — bump on any
# change to ivf_build_frames / pq_build_frames / append encoding, or
# to the manifest schema (v2: mver + base_rows/appended_rows, so every
# served manifest carries the writer-serialization + retrain fields;
# v3: ivfpq indexes persist a cell_sizes table for the mass-budgeted
# probe — r10 review #2: deriving it at serve time re-scanned the
# codes relation per search;
# v4: ivf indexes persist the same C-row cell_sizes table — the IVF
# tier moved to the mass-budgeted probe too, and deriving the sizes
# at serve time would re-scan the postings relation per search;
# v5: cell_sizes is an APPEND-ONLY log of per-batch partial counts —
# appends add a ≤C-row file derived from the batch's staged data
# files instead of checkpointing the assignment and rewriting the
# merged table per micro-batch; readers sum, compaction bounds the
# file count; every Spark job of an append runs into a staging dir
# pre-invalidate so the invalidated window is pure renames. Serve
# results are invariant (sum of partials == merged total) and v4
# tables read correctly under v5 code, but the bump is MANDATORY
# (r11 review #1): the shared per-host cache is cross-process, and a
# pre-v5 process serving a v5-appended index would read the
# partial-count log RAW — duplicate centroid_id rows mis-drive its
# mass probe silently. The version bump forces the rebuild the
# fingerprint rule promises on any builder change.
#
# r12 adds an OPTIONAL "cell_sizes" manifest key — the FOLDED C-row
# snapshot of the partial-count log, maintained at build/append/
# compact commit so serves read ≤C manifest rows instead of folding
# the parquet log per search (VERDICT r11 #1: the v5 fold was ~half
# the index family's bench tax). Deliberately NOT a version bump:
# the key is additive and self-consistent in both directions — a
# reader without it falls back to the log fold (identical sum), and a
# pre-r12 writer's recommit simply DROPS the key (its manifest schema
# has no such field), which degrades to the fold, never to a stale
# snapshot.)
#
# v6 (r13, VERDICT r12 #4 — true fenced storage): table data moves to
# MANIFEST-REFERENCED BATCH UNITS. Each append/compact adopts its
# staged output as ONE directory rename per table into
# ``<table>/b<mver>.<pid>`` and the manifest's ``units`` map records
# exactly which unit dirs are live — readers construct their file
# lists FROM THE MANIFEST, never from a directory listing. Three
# structural consequences:
# - a paused-past-lease zombie's renames land in a unit no manifest
#   references (its recommit is fenced by the >= mver check), so the
#   check→first-rename residual the r12 fence left open can no longer
#   make a stale writer's files reader-visible — dead namespace, the
#   rename-target epoch encoding VERDICT r12 #4 asked for;
# - the manifest-invalidate window is GONE: adoption is non-
#   destructive (uncommitted units are invisible), so the manifest
#   ``os.replace`` at recommit is the single atomic visibility flip —
#   a crash ANYWHERE mid-append leaves the index CURRENT AND SERVING
#   (pre-v6 it left a non-current index whose remedy was a rebuild),
#   and every maintenance failure now releases its claim;
# - compaction gets snapshot isolation: the rewrite lands as new
#   units, the commit flips readers to them, and the OLD units are
#   GC'd post-commit — an in-flight scan planned against the old
#   manifest keeps its files until that GC instead of failing on a
#   directory swap.
# Unit names carry the claimed slot AND the writer pid, so a released
# slot's re-claimant (or a both-alive duplicate claimant produced by
# the stuck-renewer release handoff) can never collide with a dead
# writer's leftover unit; post-commit GC sweeps unreferenced units at
# or below the committed mver. MANDATORY version bump: a pre-v6
# process reading a v6 index would list table dirs that contain unit
# SUBDIRS and no top-level parquet, and a v6 reader of a units-less
# manifest must fall back to the flat listing — the fingerprint salt
# keeps the two layouts from ever sharing a cache entry. Maintenance
# on a units-less (legacy) manifest is REFUSED rather than risking a
# mixed flat+unit layout that a legacy reader would silently misread.
_ALGO_VERSION = 6
# how long a maintenance writer waits for a concurrent writer's
# recommit before giving up (the streaming path's micro-batch appends
# are seconds each). Crashed-vs-live claimants are decided by each
# claim's OWN liveness rule — renewed lease expiry (the DEFAULT since
# r11, cluster/object-store-portable) or pid probe (opt-in via
# BDFP_ANN_CLAIM_MODE=pid, exact for the same-host O_EXCL scope) —
# NEVER by claim age: the claim→invalidate window contains full Spark
# jobs (delta counts, compaction rewrites), so any time heuristic
# would eventually judge a live writer dead and re-open the
# concurrent-writer race this log exists to close (r9 review #1).
# The machinery lives in operators/txlog (claim_payload/claim_alive/
# LeaseRenewer) so every commit_exclusive user shares one copy
# (VERDICT r10 #5).
_WRITER_WAIT_S = 300.0

_APPEND_TABLES = {
    # cell_sizes joined the append targets in v5 (one ≤C-row file per
    # batch) — compaction bounds its file count like the data tables
    "ivf": ("postings", "cell_sizes"),
    "pq": ("codes", "norms"),
    "ivfpq": ("codes", "norms", "cell_sizes"),
    # the dedup index appends one file set per ingested crawl batch —
    # the same compaction target shape as the ANN kinds
    "dedup": ("digests", "bands", "winnow_fps"),
}


# the frame builders' defaults, captured into every manifest so the
# maintenance/serve readers NEVER re-guess them (r9 review #1: the
# ivfpq builder defaults multi_assign=3 while an append falling back
# to 1 would silently under-assign appended vectors, breaking the
# maintenance invariant for default-params callers)
_BUILD_DEFAULTS = {
    "ivf": dict(centroid_mod=37, max_centroids=64, train_rounds=0,
                multi_assign=1, scale_ref=None, centroid_cap=512),
    "pq": dict(m=8, dim=64, codeword_mod=13, max_codewords=16,
               codebook_cap=64, scale_ref=1000, train_rounds=0),
    # coarse_scale_ref (r11): None = unscaled legacy sizing; the
    # registered queries pass IVF_SCALE_REF so the composed tier's
    # coarse count and probe budget ride the same schedule as IVF
    "ivfpq": dict(centroid_mod=37, max_centroids=64, train_rounds=2,
                  multi_assign=3, m=16, dim=64, codeword_mod=13,
                  max_codewords=64, coarse_scale_ref=None,
                  centroid_cap=512),
    # win_k/win_w/benchmark_pred (r11): the persisted winnowed
    # benchmark-fingerprint table — a production pipeline
    # decontaminates every incoming crawl batch against a FIXED eval
    # suite, so the suite's span fingerprints belong in the persisted
    # index, not recomputed per run (VERDICT r10 #4)
    "dedup": dict(text_col="text", id_col="doc_id", n=8,
                  num_hashes=16, bands=4,
                  win_k=5, win_w=4, benchmark_pred="source = 'src0'"),
}

# the ONE copy of the dedup extraction params (r10 review: the
# quintuple was hand-copied at four sites; a drift in any one — e.g.
# bands=8 in a query module only — would split the shared index cache
# between the batch and streaming queries and surface only as an
# opaque oracle hash mismatch). Callers build their kwargs from this.
# Exported as a read-only view (r10 advice): a live alias of the
# mutable defaults dict would let any caller that mutates instead of
# copying silently change build defaults process-wide — the exact
# param-drift class this constant exists to prevent.
DEDUP_INDEX_PARAMS = types.MappingProxyType(_BUILD_DEFAULTS["dedup"])


def _effective_params(kind: str, build_params: dict, subset) -> dict:
    out = dict(_BUILD_DEFAULTS[kind], **build_params)
    if subset:
        out["base_pred"] = subset
    return out


def _manifest(index_dir: str) -> dict | None:
    try:
        with open(os.path.join(index_dir, _META)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _unit_name(mver: int) -> str:
    """The batch-unit directory name for a writer slot: the slot
    number (zero-padded so lexicographic == numeric) plus the writer
    pid AND thread id — two claimants of the SAME slot (a released
    slot's re-claimant racing the stuck-renewer both-alive duplicate,
    which can be a THREAD SIBLING in one process: the handoff releases
    the entry while the first thread's cleanup still runs) adopt into
    distinct namespaces, and the loser's unit is simply never
    referenced by any manifest (r13 review #2 — pid alone let a
    sibling thread's failure cleanup delete the winner's fresh unit)."""
    return f"b{mver:012d}.{os.getpid()}-{threading.get_ident()}"


def _unit_mver(name: str) -> int | None:
    """Parse a unit dir name's slot number; None for foreign names
    (GC must never touch what it cannot attribute)."""
    if not name.startswith("b"):
        return None
    head = name[1:].split(".", 1)[0]
    return int(head) if head.isdigit() else None


def _unit_paths(index_dir: str, meta: dict, table: str) -> list[str]:
    """The live data paths of a table, RESOLVED FROM THE MANIFEST
    (v6): the unit dirs its ``units`` entry lists. A legacy manifest
    (no ``units``) reads the flat table dir — the pre-v6 layout."""
    units = (meta.get("units") or {}).get(table)
    if units is None:
        return [os.path.join(index_dir, table)]
    return [os.path.join(index_dir, table, u) for u in units]


def _read_table(
    spark: SparkSession, index_dir: str, meta: dict, table: str
) -> DataFrame:
    """Manifest-scoped table read: only manifest-referenced unit dirs
    reach the scan, so a zombie writer's adopted-but-never-committed
    unit (or a unit awaiting GC) is invisible by construction."""
    return spark.read.parquet(*_unit_paths(index_dir, meta, table))


# (id, vector, group) columns of the frozen quantizer tables
_PANEL_COLS = {
    "centroids": ("centroid_id", "_cent", None),
    "codebook": ("code", "_cw", "s"),
}


def _frozen_panel(index_dir: str, meta: dict, table: str):
    """The kernel panel of a frozen quantizer table (``centroids`` or
    ``codebook``), read driver-side from its manifest-scoped parquet
    (arrow_kernels.panel_from_parquet — bit-identical to a Spark
    collect of the same rows, without the per-call collect job)."""
    return panel_from_parquet(
        _unit_paths(index_dir, meta, table), *_PANEL_COLS[table]
    )


def _snap_pairs(cell_sizes) -> list[list[int]] | None:
    """Normalize a cell-size snapshot (dict or stored list of pairs)
    to the manifest form: [[centroid_id, count], ...] sorted by cell —
    deterministic, so recommits of identical content are
    byte-identical."""
    if cell_sizes is None:
        return None
    items = cell_sizes.items() if isinstance(cell_sizes, dict) else cell_sizes
    return sorted([int(c), int(n)] for c, n in items)


def _batch_sizes(index_dir: str, entry: dict) -> list[list[int]] | None:
    """An applied batch's per-cell count delta, for retraction's
    snapshot subtraction. r14 manifests keep provenance O(1) per batch
    (units + rows only — VERDICT r13 #3: the per-batch pairs copy made
    the manifest rewrite/parse the streaming micro-batch tax), so the
    delta is read back from the batch's OWN cell_sizes unit parquet —
    the staged partial-count file the append adopted, which holds
    exactly the pairs the manifest used to copy. Driver-side pyarrow
    read of one ≤C-row file: no Spark session needed, retraction stays
    an O(manifest)+O(C) metadata operation. Must be called BEFORE the
    retraction commits (the post-commit GC removes the unit). An r13
    manifest's recorded copy, when present, is used as-is. None when
    the delta is unrecoverable (no unit, unreadable file) — the caller
    fails soft by dropping the snapshot so readers fold the log."""
    bsizes = entry.get("cell_sizes")
    if bsizes is not None:
        return bsizes
    unit = (entry.get("units") or {}).get("cell_sizes")
    if unit is None:
        return None
    try:
        t = papq.read_table(
            os.path.join(index_dir, "cell_sizes", unit),
            columns=["centroid_id", "_csz"],
        )
    except Exception:
        return None
    return _snap_pairs(
        zip(t.column("centroid_id").to_pylist(),
            t.column("_csz").to_pylist())
    )


def _commit(index_dir: str, meta: dict) -> None:
    """Write ``meta`` as the index's manifest — the commit record of
    every build and maintenance transaction. The payload is normalised
    so recommits of identical content are byte-identical: a fixed key
    order, ``applied_batches`` sorted type-stably, ``units`` /
    ``batches`` / ``retracted`` sorted, and ``cell_sizes`` folded to
    sorted pairs (omitted when absent). Keys outside the manifest
    schema are dropped."""
    # tmp + os.replace: the manifest IS the commit record, so its own
    # write must be atomic — a crash mid-write must read as "no
    # manifest" (rebuild), never as a torn half-manifest
    path = os.path.join(index_dir, _META)
    # recommit fence (r11 review #2): a maintenance recommit that
    # finds a manifest ALREADY present with mver >= its own slot lost
    # an arbitration it never saw — e.g. a lease-mode writer whose
    # whole process was paused past its lease (SIGSTOP, VM freeze) and
    # whose slot a contender judged dead and advanced past. Writing
    # our stale meta over the contender's recommit would silently drop
    # its applied_batches entry (the r8 lost-update shape); raising
    # leaves the newer manifest standing and surfaces the conflict.
    # (The fence closes the resume-after-the-contender-recommitted
    # window; a zombie resuming DURING the contender's own invalidate
    # window still interleaves — that residual needs fenced storage,
    # which a plain POSIX dir cannot express. pid mode is immune on a
    # single host and stays one env flag away.)
    mver = int(meta.get("mver", 0))
    if mver:
        cur = _manifest(index_dir)
        if cur is not None and int(cur.get("mver", 0)) >= mver:
            raise ConcurrentWriteError(
                f"recommit fenced at {index_dir!r}: manifest already "
                f"at mver {cur.get('mver')} >= claimed slot {mver} "
                f"(this writer's claim lapsed while it was stalled)"
            )
    tmp = f"{path}.tmp.{os.getpid()}"
    payload = {
        "kind": meta["kind"],
        "fingerprint": meta["fingerprint"],
        "tables": meta["tables"],
        "src": meta.get("src"),
        "params": meta.get("params") or {},
        # type-stable sort key (r14, ADVICE r13 #3): new appends write
        # int ids only (_norm_batch_id), but a legacy manifest can
        # still carry str ids — a plain sorted() over the mix raises
        # TypeError HERE, at commit time, after adoption
        "applied_batches": sorted(
            meta.get("applied_batches") or [],
            key=lambda b: (isinstance(b, str), b),
        ),
        "mver": mver,
        "base_rows": meta.get("base_rows"),
        "appended_rows": int(meta.get("appended_rows", 0)),
    }
    snap = _snap_pairs(meta.get("cell_sizes"))
    if snap is not None:
        # the folded serve-time snapshot of the cell_sizes log (r12);
        # OMITTED (not null) when absent so legacy readers see the
        # exact pre-r12 schema
        payload["cell_sizes"] = snap
    if meta.get("units") is not None:
        # v6: the manifest-referenced storage map — per table, the
        # unit dirs whose files ARE the table
        payload["units"] = {t: sorted(us) for t, us in meta["units"].items()}
    batches = meta.get("batches")
    if batches is not None:
        # r13: per-batch provenance — which units and rows each applied
        # batch contributed. What makes retract_batch an O(1) metadata
        # operation; compaction folds batches into the base.
        payload["batches"] = {k: batches[k] for k in sorted(batches)}
    if meta.get("retracted") is not None:
        payload["retracted"] = sorted(meta["retracted"])
    with open(tmp, "w") as f:
        json.dump(payload, f)
    # fence-epoch recheck (r14, ADVICE r13 medium): the recommit fence
    # above reads the MANIFEST, so a zombie that resumed after its
    # pre-adopt _check_fence could still publish at slot N before a
    # contender (claimed at N+1 after skipping the zombie's dead slot)
    # commits from its pre-N snapshot — the zombie's caller sees
    # success, then the contender's recommit drops the batch from
    # applied_batches and checkpointed streaming never redelivers.
    # The contender writes its fence marker AT CLAIM TIME, so checking
    # the FENCE here (not the manifest) catches it through its whole
    # staging phase: the window shrinks to the microseconds between
    # this stat and the os.replace below. (Epoch > mver: superseded —
    # abort, the caller retries and redelivery applies the batch.
    # Epoch < mver or None: our own marker was swept/legacy — nothing
    # newer to protect; proceed, the recommit fence above already
    # arbitrated manifest order.)
    if mver:
        cur_epoch = _fence_epoch(index_dir)
        if cur_epoch is not None and cur_epoch > mver:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise ConcurrentWriteError(
                f"commit fenced at {index_dir!r}: writer epoch moved "
                f"to {cur_epoch} past this writer's slot {mver} (lease "
                f"lapsed; a contender owns the index) — retry the batch"
            )
    os.replace(tmp, path)


def index_is_current(index_dir: str, kind: str, fingerprint: str) -> bool:
    m = _manifest(index_dir)
    return (
        m is not None
        and m.get("kind") == kind
        and m.get("fingerprint") == fingerprint
        and all(
            os.path.isdir(p)
            for t in m.get("tables", [])
            for p in _unit_paths(index_dir, m, t)
        )
    )


def corpus_fingerprint(path: str, **params) -> str:
    """Source identity + hyperparameters + builder version: file path,
    size and mtime of the corpus parquet, the sorted param map, and
    _ALGO_VERSION — any change invalidates the persisted index (the
    full-identity-in-the-tag lesson from the chunk stagers). Callers
    training on a SUBSET of the source must salt params with the
    subset predicate (e.g. ``base_pred=...``) so a base-trained and a
    full-corpus index can never share a cache key (ADVICE r8)."""
    import hashlib

    st = os.stat(path)
    ident = json.dumps(
        {
            "path": os.path.abspath(path),
            "size": st.st_size,
            "mtime_ns": st.st_mtime_ns,
            "params": {k: params[k] for k in sorted(params)},
            "algo_version": _ALGO_VERSION,
        },
        sort_keys=True,
    )
    return hashlib.md5(ident.encode()).hexdigest()


def shared_index_dir(kind: str, fingerprint: str) -> str:
    """Cross-process index cache location, keyed by the FINGERPRINT
    (not the pid): a corpus version's index is built once per host and
    served by every later process. The root is PER-USER (uid-suffixed,
    0o700) so two users on one host cannot collide on — or poison —
    each other's predictable cache paths (r8 review finding #5);
    superseded fingerprints of the same source are GC'd at install
    time, bounding the cache at one dir per (kind, live corpus
    version, params)."""
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(), f"bdfp_annidx_{os.getuid()}"
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    return os.path.join(root, f"{kind}_{fingerprint[:16]}")


def _gc_superseded(
    index_dir: str, kind: str, src: str | None, subset: str | None = None
) -> None:
    """Drop sibling cache entries of the same (kind, source, TRAINING
    SUBSET) with a DIFFERENT fingerprint — they are superseded
    corpus/param/code versions that would otherwise accrete in /tmp
    forever (r8 review finding #5). The subset is part of the key
    (r9): a base-trained maintenance snapshot and the full-corpus
    serving index share (kind, src) but are DIFFERENT live artifacts —
    keying GC on (kind, src) alone made them evict each other on every
    alternate install, turning the cross-process cache into a
    rebuild-every-run. Best-effort; never fails the install."""
    if src is None:
        return
    root = os.path.dirname(index_dir)
    try:
        names = os.listdir(root)
    except OSError:
        return
    for n in names:
        p = os.path.join(root, n)
        if p == index_dir or not n.startswith(f"{kind}_"):
            continue
        m = _manifest(p)
        if (
            m is not None
            and m.get("kind") == kind
            and m.get("src") == src
            and m.get("params", {}).get("base_pred") == subset
        ):
            shutil.rmtree(p, ignore_errors=True)


def _install_build(tmp: str, index_dir: str, kind: str, fingerprint: str) -> str:
    """Atomically install a finished build. Order of operations never
    deletes a CURRENT index (r8 review finding #1): adopt-if-current
    first, then attempt the rename, and clear a stale/corrupt/
    superseded blocker only after the rename fails and the blocker is
    re-verified non-current. The clear-and-retry runs in a BOUNDED
    loop (ADVICE r8): two racing builders with different fingerprints
    on an explicit dir can each rmtree the other's just-installed copy
    — a single-shot rename would then crash on the collision; the loop
    re-checks adopt-if-current each pass, so the race converges to one
    complete installed index (last writer wins, which is ensure_*'s
    contract for an explicit path) and a persistent loser raises a
    loud error instead of an uncaught OSError."""
    for _ in range(5):
        if index_is_current(index_dir, kind, fingerprint):
            shutil.rmtree(tmp, ignore_errors=True)
            return index_dir
        try:
            os.rename(tmp, index_dir)
            return index_dir
        except OSError:
            pass
        # blocker is stale, corrupt, or a different-fingerprint index
        # this ensure_* call is replacing: clear it and retry
        shutil.rmtree(index_dir, ignore_errors=True)
    raise ConcurrentWriteError(
        f"could not install index at {index_dir!r}: a concurrent "
        f"builder kept re-creating the path (staged build left at {tmp!r})"
    )


def _build_unit(tmp: str, table: str) -> str:
    """Where a BUILD stages a table's data: the slot-0 unit dir (v6)
    — the layout every later reader resolves through the manifest's
    ``units`` map, so base data and appended batches share one
    mechanism."""
    return os.path.join(tmp, table, _unit_name(0))


def _build_units(tables: list[str]) -> dict[str, list[str]]:
    """The manifest ``units`` map for a fresh build: every table one
    slot-0 unit."""
    return {t: [_unit_name(0)] for t in tables}


def _build_into_tmp(index_dir: str):
    # pid + thread id: two THREADED builders of the same fingerprint
    # must not interleave parquet writes into one tmp dir (caught by
    # tests/test_ann_index.py's threaded double-build race)
    tmp = f"{index_dir}.build.{os.getpid()}.{threading.get_ident()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    return tmp


# _read_claim stays as the log-scoped alias the maintenance paths use
def _read_claim(log: str, version: int):
    return read_claim(log, version)


def _write_fence(index_dir: str, mver: int) -> None:
    """Record this claimant's epoch: create ``_fence/e<mver>`` (an
    EEXIST from a reclaimed released slot is fine — the marker is the
    same fact). Called by every successful _claim_writer. The fence
    is an append-only SET whose current epoch is the max: creating a
    marker can never lower it, so a zombie that paused between its
    claim CAS and this write cannot regress the epoch when it resumes
    (r12 review #1 — a read-modify-replace fence file could be
    rewound exactly there, re-opening the double-append the fence
    closes).

    LOWER markers are deliberately NOT pruned here (r12 review pass 2
    #2: pruning a paused lower-slot writer's marker, followed by this
    claimant's failure-release removing its own, could EMPTY the
    fence and un-fence that zombie mid-pause); historical markers are
    pruned post-COMMIT instead (beside the applog prune), where the
    committing writer's own marker is guaranteed to remain. What IS
    swept here are ORPHANED higher markers — epochs above this slot
    whose claim is dead and which never committed (a SIGKILLed
    contender's leftover): without the sweep, every future claimant
    of the lower reusable slots would fail its fence check forever (a
    permanent maintenance wedge, r12 review pass 2 #1). A LIVE higher
    claim is left alone — this writer is genuinely superseded and its
    own _check_fence will abort it."""
    d = os.path.join(index_dir, _FENCE)
    os.makedirs(d, exist_ok=True)
    # permanent e0 FLOOR marker (r13, ADVICE r12 #2): exempt from
    # every prune/sweep, so a fenced index's marker dir can never
    # read as empty — _fence_epoch's present-but-empty case (which
    # now ENFORCES rather than waving a zombie through) becomes a
    # transient-only state on pre-r13 fence dirs
    try:
        open(os.path.join(d, "e000000000000"), "x").close()
    except FileExistsError:
        pass
    marker = os.path.join(d, f"e{mver:012d}")
    try:
        open(marker, "x").close()
    except FileExistsError:
        # a dead prior claimant of this released slot left its marker
        # behind (the stuck-renewer handoff can release the claim
        # entry while the marker removal was skipped — ADVICE r12 #1).
        # Re-create rather than adopt: this claimant must OWN its
        # marker so no late cleanup of the predecessor's can delete
        # it. The remove→create gap can only LOWER the visible max,
        # and _fence_epoch's empty/floor reading makes any concurrent
        # checker abort (safe: retry re-claims) — never proceed
        # unfenced.
        try:
            os.remove(marker)
        except OSError:
            pass
        try:
            open(marker, "x").close()
        except FileExistsError:
            # a same-slot duplicate claimant re-created it in the gap;
            # the marker fact is identical and the recommit >= fence
            # arbitrates the duplicate — nothing more to own here
            pass
    log = os.path.join(index_dir, _APPLOG)
    for n in os.listdir(d):
        try:
            j = int(n[1:]) if n.startswith("e") else -1
        except ValueError:
            j = -1
        if j <= mver:
            continue
        if _claim_alive(read_claim(log, j)):
            continue  # a live contender: we are the superseded one
        try:
            os.remove(os.path.join(d, n))
        except OSError:
            continue


def _prune_fence(index_dir: str, mver: int) -> None:
    """Post-COMMIT fence cleanup: markers below the just-committed
    epoch are definitively historical (any paused writer at such an
    epoch is still fenced by the committing writer's own marker, which
    this prune keeps — the dir can never empty here)."""
    d = os.path.join(index_dir, _FENCE)
    try:
        names = os.listdir(d)
    except OSError:
        return
    for n in names:
        try:
            if n.startswith("e") and 0 < int(n[1:]) < mver:
                # the e0 FLOOR marker is permanent (never pruned):
                # its presence is what keeps the dir from ever
                # reading as empty/unenforced (ADVICE r12 #2)
                os.remove(os.path.join(d, n))
        except (ValueError, OSError):
            continue


def _fence_epoch(index_dir: str) -> int | None:
    """The index's current writer epoch (max fence marker), or None
    for an index WITHOUT a fence (legacy / pre-r12 clone). Fails
    CLOSED on transient listdir errors (r12 review pass 2 #5: EMFILE/
    EIO must not read as 'legacy, nothing to enforce' and wave a
    superseded zombie through its invalidate) — only a missing fence
    dir is the legacy case. A PRESENT-BUT-EMPTY dir reads as epoch 0
    — enforce, don't downgrade (ADVICE r12 #2): markers existed on
    this index once, so a checker whose own marker is gone was
    superseded or released and must abort; the permanent e0 floor
    marker (r13) makes this state transient-only anyway."""
    try:
        names = os.listdir(os.path.join(index_dir, _FENCE))
    except FileNotFoundError:
        return None
    epochs = [
        int(n[1:]) for n in names if n.startswith("e") and n[1:].isdigit()
    ]
    return max(epochs) if epochs else 0


def _check_fence(index_dir: str, mver: int) -> None:
    """Raise unless this writer's slot is still the index's current
    fence epoch — called IMMEDIATELY before the invalidate/rename
    batch (the first destructive step of a maintenance txn). A later
    epoch means a contender judged this writer dead (lapsed lease)
    and took over: its work must not be disturbed, so the zombie
    aborts with the serving index untouched. A missing fence (legacy
    index) compares as unknown — nothing to enforce, the pre-r12
    behavior."""
    cur = _fence_epoch(index_dir)
    if cur is None:
        return
    if cur != mver:
        raise ConcurrentWriteError(
            f"writer fence at {index_dir!r} moved to epoch {cur} while "
            f"this writer held slot {mver} (lease lapsed while paused; "
            f"a contender owns the index) — retry the batch"
        )


# live renewers of THIS process's lease-mode claims, keyed by entry
# path; _end_claim must stop a claim's renewer BEFORE the recommit
# prunes (or the failure path releases) its entry — an un-stopped
# renewer's os.replace would resurrect a removed entry
_RENEWERS: dict[str, _LeaseRenewer] = {}


def _end_claim(index_dir: str, mver: int, release: bool = False) -> None:
    """Finish this process's claim on writer slot ``mver``: stop its
    lease renewer (no-op in pid mode), and with ``release=True`` also
    remove the entry — the failure cleanup for an error in the
    claim→invalidate window (ADVICE r9: the manifest was never
    invalidated there, so the slot was never consumed and releasing it
    un-wedges every later same-process writer that would otherwise
    wait out _WRITER_WAIT_S against our own live pid)."""
    path = entry_path(os.path.join(index_dir, _APPLOG), mver)
    r = _RENEWERS.pop(path, None)
    stopped = r.stop(release) if r is not None else True
    if release and stopped:
        # a released slot consumed nothing, so its fence marker must
        # go too (r12 review follow-up): slot numbers are REUSED after
        # a release, and a stale marker from a failed contender would
        # otherwise fence every later claimant of the same slot
        # forever (the manifest never advanced, so they all target
        # it). Removed BEFORE the claim entry (r12 review pass 2 #3):
        # the slot becomes re-CASable only once its old marker is
        # gone, so this removal can never delete a live re-claimant's
        # fresh marker for the same slot. GUARDED by ``stopped`` like
        # the entry removal (ADVICE r12 #1): when the renewer timed
        # out, ITS release handoff removes the entry whenever it
        # unblocks — possibly before this line — and a re-claimant
        # could have CAS'd the freed slot and own a fresh marker here;
        # the stale marker is instead reaped by that re-claimant's
        # _write_fence remove→re-create (it always OWNS its marker).
        try:
            os.remove(
                os.path.join(index_dir, _FENCE, f"e{mver:012d}")
            )
        except OSError:
            pass
    # only remove the entry here when no renewer tick can still be in
    # flight (r10 review #3: a tick blocked in os.replace past the
    # join timeout would resurrect a removed entry); on a timeout the
    # renewer removes it itself when it unblocks
    if release and stopped:
        try:
            os.remove(path)
        except OSError:
            pass


def _claim_writer(index_dir: str, meta: dict, payload: dict) -> int:
    """CAS-claim the next maintenance-writer slot (``mver+1`` in the
    index's ``_applog``) — the serialization point for appends and
    compactions (VERDICT r8 #1: an unserialized manifest
    read-modify-write let a racing appender lose the other's
    ``applied_batches`` entry, setting up a double-append on
    redelivery).

    The slot number comes from the MANIFEST (the OCC read snapshot),
    not from listing the log: two writers that read the same manifest
    race for the SAME slot, so exactly one proceeds. A contended slot
    whose claimant is dead (judged by the claim's OWN recorded mode —
    lapsed renewed lease by default, pid probe in opt-in pid mode) is
    a claimant that crashed in the claim→invalidate window —
    the index is still fully serveable; the dead slot is skipped,
    never reused. A LIVE claimant always wins the contention, however
    long its Spark work runs (never a time heuristic — r9 review #1:
    claim age cannot distinguish a crash from a long compaction
    rewrite, and guessing wrong re-opens the lost-update race)."""
    log = os.path.join(index_dir, _APPLOG)
    target = int(meta.get("mver", 0)) + 1
    mode = _claim_mode()
    lease_s = _lease_seconds()
    while True:
        # the ONE self-describing claim shape (txlog.claim_payload) —
        # r11 review #4: an inline copy here would let a future field
        # silently miss the highest-traffic claim producer
        p = claim_payload(payload, mode=mode)
        try:
            commit_exclusive(log, target, p)
        except ConcurrentWriteError:
            cur = _manifest(index_dir)
            if cur is None or int(cur.get("mver", 0)) >= target:
                # a live writer holds (or already filled) the slot:
                # the caller must re-read and retry
                raise
            claim = _read_claim(log, target)
            if claim is None:
                # the entry VANISHED after the CAS loss (claims are
                # payload-atomic, so unreadable ≠ mid-write): either
                # the winner recommitted and pruned it — the manifest
                # is about to read >= target — or a failed writer
                # released the slot (ADVICE r9 cleanup). Both settle
                # by re-attempting the CAS on the same slot; the
                # post-claim manifest check below rejects the
                # spent-slot case.
                time.sleep(0.02)
                continue
            if _claim_alive(claim):
                # a live writer (possibly a thread-sibling in this
                # same pid) holds the slot
                raise ConcurrentWriteError(
                    f"writer slot {target} held by live claim "
                    f"(pid {claim.get('pid')}, mode "
                    f"{claim.get('mode', 'pid')}) at {index_dir!r}"
                ) from None
            target += 1  # crashed claimant: skip its dead slot
            continue
        # post-claim validation: between our manifest read and the CAS,
        # successive winners can fill AND prune this slot — the CAS
        # then succeeds on a SPENT slot (or while a later writer is
        # mid-append with the manifest invalidated). Proceeding would
        # commit a stale mver over newer state, so release the entry
        # and surface contention; the caller re-reads.
        cur = _manifest(index_dir)
        if cur is None or int(cur.get("mver", 0)) >= target:
            try:
                os.remove(entry_path(log, target))
            except OSError:
                pass
            raise ConcurrentWriteError(
                f"writer slot {target} was already spent when claimed "
                f"(concurrent writers advanced past it) at {index_dir!r}"
            )
        # fencing token (r12): advance the index's writer epoch to this
        # slot BEFORE any guarded work starts — a paused-past-lease
        # predecessor that resumes later fails its _check_fence instead
        # of interleaving with this writer's invalidate window
        _write_fence(index_dir, target)
        if mode == "lease":
            _RENEWERS[entry_path(log, target)] = _LeaseRenewer(
                entry_path(log, target), p, lease_s
            )
        return target


def _norm_batch_id(batch_id):
    """Normalize a caller-supplied batch id to a plain int (r14,
    ADVICE r13 #3): provenance is keyed by ``str(batch_id)``, so an
    explicit string id "3" and an int 3 would COLLIDE in the batches
    map (the later append silently overwriting the earlier batch's
    provenance — a retract would then reverse the wrong units), and
    mixed int/str ids would make ``sorted(applied_batches)`` raise
    TypeError at commit time, after adoption. One normalization at the
    ``_writer_txn`` / ``_finish_append`` / ``retract_batch`` choke
    points covers every public append entry. None passes through
    (auto-id); bools are rejected (an int subtype that is never a
    batch id on purpose)."""
    if batch_id is None:
        return None
    if isinstance(batch_id, bool):
        raise TypeError(f"batch_id must be an int, got bool {batch_id!r}")
    try:
        return int(batch_id)
    except (TypeError, ValueError):
        raise TypeError(
            f"batch_id must be an int (or int-parseable string), got "
            f"{type(batch_id).__name__} {batch_id!r}"
        ) from None


def _writer_txn(
    index_dir: str, batch_id, op: str, wait_s: float = _WRITER_WAIT_S
) -> tuple[dict, int] | None:
    """Open a maintenance-writer transaction: read the manifest, check
    batch idempotence, claim the writer slot — retrying while a LIVE
    concurrent writer holds the index (its manifest is removed during
    its append; we wait for the recommit and re-read, so a batch it
    applied becomes an idempotent skip here). Returns (manifest,
    claimed mver), or None when ``batch_id`` is already applied.
    Raises ``ValueError`` for an index that is absent/non-current
    beyond the wait (crashed mid-append: rebuild is the remedy)."""
    batch_id = _norm_batch_id(batch_id)
    deadline = time.monotonic() + wait_s
    while True:
        meta = _manifest(index_dir)
        if meta is not None:
            if meta.get("units") is None:
                # legacy flat-layout manifest (pre-v6): adopting unit
                # subdirs under its tables would build a MIXED layout
                # a legacy reader silently misreads (top-level files
                # only) — refuse; the v6 fingerprint salt already
                # forces rebuilds everywhere an ensure_* runs
                raise ValueError(
                    f"index at {index_dir!r} uses the pre-v6 flat "
                    f"layout — rebuild it before maintenance ({op})"
                )
            applied = meta.get("applied_batches", [])
            if batch_id is not None and batch_id in applied:
                return None
            try:
                # tid (r14, ADVICE r13 #2): failure-path claim
                # removals verify pid+tid ownership before the
                # os.remove — pid alone can't tell two threads of one
                # process apart
                return meta, _claim_writer(
                    index_dir, meta,
                    {"op": op, "batch_id": batch_id,
                     "tid": threading.get_ident()},
                )
            except ConcurrentWriteError:
                if time.monotonic() > deadline:
                    raise
                time.sleep(0.05)
                continue
        # no manifest: either a live writer is mid-append (a claim
        # from a LIVE pid exists — wait for its recommit, however long
        # its Spark job runs) or the index crashed / was never built.
        # Liveness is claim-mode-judged (lease/pid), never
        # claim-AGE-based (r9 review #1/#3);
        # a live writer outlasting the deadline raises a WAIT error
        # naming it — never the 'rebuild it' remedy, which would point
        # a scheduler at destroying a healthy mid-append index.
        log = os.path.join(index_dir, _APPLOG)
        live_pid = None
        try:
            for n in sorted(os.listdir(log), reverse=True):
                if not (n.startswith("v") and n.endswith(".json")):
                    continue
                try:
                    with open(os.path.join(log, n)) as f:
                        claim = json.load(f)
                except (OSError, ValueError):
                    continue
                if _claim_alive(claim):
                    live_pid = claim.get("pid")
                    break
        except OSError:
            pass
        if live_pid is None:
            raise ValueError(
                f"no committed index at {index_dir!r} to {op} "
                f"(never built, or crashed mid-append — rebuild it)"
            )
        if time.monotonic() > deadline:
            raise ConcurrentWriteError(
                f"timed out waiting for live writer pid {live_pid} "
                f"to recommit {index_dir!r} (index is mid-{op} by a "
                f"healthy writer — do NOT rebuild; retry later)"
            )
        time.sleep(0.05)



def _parquet_files(table_dir: str) -> list[str]:
    """The parquet files under a (staged) table dir, sorted."""
    return [
        os.path.join(table_dir, n)
        for n in sorted(os.listdir(table_dir))
        if n.endswith(".parquet")
    ]


def _sweep_stage(index_dir: str, name: str) -> None:
    """Remove a dead writer's stage dir by RENAME-THEN-DELETE (r13):
    ``shutil.rmtree`` traverses by directory fd, so an rmtree racing
    the owner's adopt rename would keep deleting entries INSIDE the
    just-adopted unit dir — silent data loss the v5.1 count compare
    existed to catch post-hoc. Renaming the stage aside first makes
    the race a pair of atomic renames: the sweeper that wins removes
    a dir the owner can no longer adopt (the owner's rename fails
    ENOENT → clean pre-commit retry), and an owner that wins leaves
    the sweeper's rename failing ENOENT — an rmtree can never start
    against a dir that might still be adopted."""
    aside = os.path.join(
        index_dir,
        f"_sweep.tmp.{os.getpid()}.{threading.get_ident()}.{name}",
    )
    try:
        os.rename(os.path.join(index_dir, name), aside)
    except OSError:
        return  # the owner adopted it, or another sweeper won
    shutil.rmtree(aside, ignore_errors=True)


def _sweep_dead_stages(index_dir: str) -> None:
    """Best-effort sweep of stage dirs whose writer is DEAD — the
    read-side/ensure-side twin of _append_stage's sweep (ADVICE r11:
    a hard-killed writer's GB-scale ``_stage.tmp.*`` leaked
    indefinitely on a low-traffic index because only the NEXT append
    swept it). Unlike _append_stage (which runs under a claim, so any
    existing stage is a dead txn's by serialization), this runs
    WITHOUT a claim and so must judge liveness per stage: the dir name
    carries ``.{pid}.{mver}``, and a stage is garbage iff the claim at
    its mver is gone, dead, or a different writer's — a live claimant
    matching the stage's pid is mid-append and is left alone."""
    try:
        names = os.listdir(index_dir)
    except OSError:
        return
    log = os.path.join(index_dir, _APPLOG)
    for n in names:
        if n.startswith("_sweep.tmp."):
            # a crashed sweeper's mid-delete leftovers: nothing ever
            # adopts an aside dir, so removal is unconditionally safe
            shutil.rmtree(os.path.join(index_dir, n), ignore_errors=True)
            continue
        if not n.startswith("_stage.tmp."):
            continue
        parts = n.split(".")
        try:
            pid_s, mver_i = parts[2], int(parts[3])
        except (IndexError, ValueError):
            _sweep_stage(index_dir, n)
            continue
        claim = read_claim(log, mver_i)
        if (
            claim is not None
            and _claim_alive(claim)
            and str(claim.get("pid")) == pid_s
        ):
            continue  # a live writer's in-flight stage
        _sweep_stage(index_dir, n)


def _append_stage(index_dir: str, mver: int) -> str:
    """Create the staging dir of one maintenance txn (v5.1, r11 review
    #3) — append, compaction and retraction alike: every Spark job of
    the txn runs into ``_stage.tmp.<pid>.<mver>/<table>`` while the
    claim is still released-on-failure and the serving index is
    untouched, so the publish step (:func:`_publish`) is pure same-FS
    renames plus the manifest replace, and a transient Spark/executor
    failure never touches the served index. Stale stages from dead
    writers are swept here — safe because claims serialize writers,
    so any existing stage belongs to a dead txn. The .tmp. infix keeps
    stages inside clone_index's ignore patterns."""
    for n in os.listdir(index_dir):
        if n.startswith("_sweep.tmp."):
            # already aside (a crashed sweeper's leftovers): plain
            # delete — nothing ever adopts an aside dir
            shutil.rmtree(os.path.join(index_dir, n), ignore_errors=True)
        elif n.startswith("_stage.tmp."):
            # rename-then-delete (r13, _sweep_stage): an rmtree racing
            # the stage owner's adopt rename could hollow out the
            # adopted unit through its directory fds
            _sweep_stage(index_dir, n)
    stage = os.path.join(index_dir, f"_stage.tmp.{os.getpid()}.{mver}")
    os.makedirs(stage, exist_ok=True)
    return stage


def _adopt_staged(
    stage: str, index_dir: str, tables: list[str], mver: int
) -> dict[str, str]:
    """Adopt a staged txn's tables as manifest-referenced units (v6):
    ONE same-FS directory rename per table, from ``stage/<t>`` to
    ``<t>/<_unit_name(mver)>``. The renamed units are INVISIBLE until
    the commit publishes them in the manifest's ``units`` map — so
    this is non-destructive, runs with the serving manifest intact,
    and a zombie writer racing here lands its renames in a unit no
    manifest will ever reference (dead namespace — the fenced-storage
    closure of the r12 check→first-rename residual). An existing
    target can only be this writer's own dead leftover (unit names
    carry pid+tid+slot; slots are CAS-exclusive per liveness) and is
    cleared first. Returns {table: unit_name} for the tables staged."""
    unit = _unit_name(mver)
    adopted: dict[str, str] = {}
    for t in tables:
        # ``tables`` is exactly what the caller staged — a missing
        # source dir means a contender's rename-aside sweep won the
        # race, and the os.rename's FileNotFoundError is the loud
        # pre-commit abort (silently skipping would commit the batch
        # as applied with ZERO files, the r11 lost-redelivery shape)
        dst_parent = os.path.join(index_dir, t)
        os.makedirs(dst_parent, exist_ok=True)
        dst = os.path.join(dst_parent, unit)
        if os.path.isdir(dst):
            shutil.rmtree(dst, ignore_errors=True)
        os.rename(os.path.join(stage, t), dst)
        adopted[t] = unit
    shutil.rmtree(stage, ignore_errors=True)
    return adopted


def _gc_dead_units(index_dir: str, meta: dict) -> None:
    """Post-commit sweep of DEAD batch units: subdirectories of the
    manifest's tables that the just-committed manifest does not
    reference and whose slot number is at or below the committed mver
    — a superseded compaction's inputs, a zombie's adopted-but-fenced
    batch, or a crashed writer's post-adopt leftovers. Serialization
    makes attribution exact: any unit at slot ≤ the committed mver
    that the winning manifest omits can never become referenced (slot
    numbers only advance; recommits of lower slots are fenced).
    Best-effort — a failed removal is retried by the next committer.

    Reader note: an in-flight scan planned against a SUPERSEDED
    manifest loses its files here — the residual reader/writer
    window, now post-commit-only and entered only by operations that
    UNREFERENCE previously-served units: compaction and batch
    retraction (r13 review #5 — appends never unreference, so pure
    append churn can't break a reader). GRACE PERIOD (r14, ADVICE r13
    #4): with ``BDFP_INDEX_GC_GRACE_S`` > 0 a dead unit is first
    TOMBSTONED — a ``_DEAD`` marker file written inside it (readers
    resolve paths from the manifest and Spark ignores ``_``-prefixed
    files, so the marker is invisible; the unit's data files stay
    byte-intact) — and removed only by a later sweep once the marker
    is older than the grace window, so a scan planned against the
    pre-compaction/pre-retraction manifest keeps its files for at
    least the window. The marker, not the unit's own mtime, keys the
    clock: a unit's content mtime records when it was WRITTEN, which
    for a superseded compaction input can be arbitrarily far in the
    past — exactly the unit an in-flight reader is scanning. Default
    0 (immediate removal, the r13 behavior) — a query-volume
    deployment sets the window to its scan-latency ceiling."""
    units = meta.get("units")
    if units is None:
        return
    try:
        grace = float(os.environ.get("BDFP_INDEX_GC_GRACE_S", "0"))
    except ValueError:
        grace = 0.0
    committed = int(meta.get("mver", 0))
    for t in meta.get("tables", []):
        live = set(units.get(t, ()))
        tdir = os.path.join(index_dir, t)
        try:
            names = os.listdir(tdir)
        except OSError:
            continue
        for n in names:
            mv = _unit_mver(n)
            if mv is None or n in live or mv > committed:
                continue
            dead = os.path.join(tdir, n)
            if grace > 0:
                marker = os.path.join(dead, "_DEAD")
                try:
                    age = time.time() - os.path.getmtime(marker)
                except OSError:
                    # first sweep that sees this unit dead: tombstone
                    # it and leave the data for the grace window
                    try:
                        open(marker, "x").close()
                    except OSError:
                        pass
                    continue
                if age < grace:
                    continue
            shutil.rmtree(dead, ignore_errors=True)


def _remove_own_claim(index_dir: str, mver: int) -> None:
    """Remove slot ``mver``'s claim entry iff THIS writer still owns
    it (r14, ADVICE r13 #2): failure paths that run after a
    stuck-renewer stop-timeout can interleave with the renewer's own
    release handoff — the entry may already be gone and the freed slot
    re-CAS'd by a live re-claimant, whose fresh entry an unconditional
    os.remove would delete (re-opening the duplicate-claimant race the
    ``stopped`` guard in _end_claim closes). Ownership is judged by
    the claim's recorded pid+tid (r14 payloads; a legacy payload
    without tid falls back to pid — the pre-r14 exposure, no worse).
    Removal stays best-effort: losing the read-check race to a prune
    just means the entry is already gone."""
    path = entry_path(os.path.join(index_dir, _APPLOG), mver)
    claim = _read_claim(os.path.join(index_dir, _APPLOG), mver)
    if claim is None:
        return
    if claim.get("pid") != os.getpid():
        return
    tid = claim.get("tid")
    if tid is not None and tid != threading.get_ident():
        return
    try:
        os.remove(path)
    except OSError:
        pass


def _release_adopted(
    index_dir: str, adopted: dict[str, str], mver: int
) -> None:
    """Failure cleanup for units adopted but never committed (the
    recommit was fenced, or a commit-path error aborted the txn):
    the units are unreferenced by construction, so removing them is
    safe at any point; the claim entry is best-effort removed so the
    slot never wedges later writers — via the pid+tid ownership check
    (r14, ADVICE r13 #2: an unconditional remove here bypassed the
    ``stopped`` guard and could delete a re-claimant's fresh entry).
    (A crash here instead leaves the units for the next committer's
    _gc_dead_units.)"""
    for t, u in adopted.items():
        shutil.rmtree(os.path.join(index_dir, t, u), ignore_errors=True)
    _remove_own_claim(index_dir, mver)


def _publish(
    index_dir: str,
    meta: dict,
    mver: int,
    stage: str,
    tables: list[str],
    new: dict,
) -> None:
    """THE commit step of every maintenance writer (append,
    compact_index, minor_compact_index, retract_batch): ``meta`` is the
    manifest snapshot the claim of slot ``mver`` was taken against,
    ``stage`` holds one dir per entry of ``tables`` (none for a
    retraction) and ``new`` is the manifest to publish. One protocol
    fix lands here once.

    1. Pre-commit guard. A missing stage means a contender judged this
       writer dead (lapsed lease) and swept it (r11 review #1:
       committing anyway would record a batch as applied with ZERO
       data files). The fence check (r12) aborts a writer whose slot a
       contender took over, and the manifest-snapshot re-check (r12
       review pass 2 #2) aborts one an interleaved lapsed-lease writer
       committed past — recommitting from the older snapshot would
       drop that writer's applied_batches entry (the r8 lost-update
       shape, which the ``>=`` recommit fence cannot see because this
       slot number is higher). A transient fence-read failure
       (EMFILE/EIO) aborts too: proceeding unfenced is the fail-open
       hole (r12 review pass 2 #5).
    2. Adopt each staged table as unit ``_unit_name(mver)``
       (:func:`_adopt_staged`). A sweep racing here surfaces as
       FileNotFoundError from a vanished stage table.
    3. Commit: the manifest ``os.replace`` is the single atomic
       visibility flip (v6 — no invalidate window, so the index serves
       throughout).

    Every failure before the commit lands releases the claim and
    removes the stage and any adopted unit: the index keeps serving
    its committed snapshot and the txn retries. After the commit the
    writer log and fence prune, and dead units are GC'd."""
    if not os.path.isdir(stage):
        _end_claim(index_dir, mver, release=True)  # stop the renewer
        raise ConcurrentWriteError(
            f"stage for mver {mver} at {index_dir!r} was swept: this "
            f"writer's lease lapsed while paused and a contender took "
            f"over — retry"
        )
    try:
        _check_fence(index_dir, mver)
        cur = _manifest(index_dir)
        if cur is None or int(cur.get("mver", 0)) != int(meta.get("mver", 0)):
            raise ConcurrentWriteError(
                f"manifest at {index_dir!r} advanced from snapshot mver "
                f"{meta.get('mver', 0)} to "
                f"{cur.get('mver') if cur else None} since this writer's "
                f"claim (an interleaved writer committed) — retry"
            )
        adopted = _adopt_staged(stage, index_dir, tables, mver)
    except BaseException as e:
        _end_claim(index_dir, mver, release=True)
        for t in tables:
            shutil.rmtree(
                os.path.join(index_dir, t, _unit_name(mver)),
                ignore_errors=True,
            )
        shutil.rmtree(stage, ignore_errors=True)
        if isinstance(e, FileNotFoundError):
            # the sweep signature: a staged table vanished under the
            # rename (a contender judged this writer dead mid-adopt)
            raise ConcurrentWriteError(
                f"writer at {index_dir!r} lost its stage mid-adopt "
                f"(swept by a contender) — index untouched; retry"
            ) from None
        # a REAL I/O failure (ENOSPC/EACCES/EIO) propagates undisguised
        raise
    _end_claim(index_dir, mver)  # stop lease renewal before the prune
    try:
        _commit(index_dir, dict(new, mver=mver))
    except BaseException:
        # recommit fenced (an interleaved lapsed-lease contender
        # committed past our snapshot) or a real I/O failure writing
        # the manifest: nothing was published (_commit's os.replace is
        # its last act), so the adopted units were never referenced
        _release_adopted(index_dir, adopted, mver)
        raise
    # bound the writer log: entries below the committed mver are spent
    # (slot numbers come from the manifest, so pruning cannot affect
    # any future CAS) — without this a streaming-maintained index
    # accretes one claim file per micro-batch forever (r9 review #8).
    # Fence markers below the committed epoch prune with it (our own
    # marker remains, so a paused lower-slot writer stays fenced)
    prune(os.path.join(index_dir, _APPLOG), keep_from=mver)
    _prune_fence(index_dir, mver)
    committed = _manifest(index_dir)
    if committed is not None:
        # the units a compaction or retraction unreferenced die here —
        # the one reader-visible boundary (see _gc_dead_units)
        _gc_dead_units(index_dir, committed)


def _finish_append(
    index_dir: str,
    stage: str,
    tables: list[str],
    meta: dict,
    mver: int,
    batch_id: int | None,
    n_delta: int,
    sizes_delta: dict | None = None,
) -> str:
    """An append's manifest edit, published by :func:`_publish`: the
    staged ``tables`` join the ``units`` map as unit
    ``_unit_name(mver)``, the batch id joins ``applied_batches`` with
    its provenance (units + ``n_delta`` rows), and ``sizes_delta`` —
    the batch's per-cell partial counts — folds into the manifest's
    ``cell_sizes`` snapshot (only when the manifest carries one; legacy
    indexes keep the log fold), so serves read ≤C manifest rows
    instead of folding the parquet log per search (r12)."""
    unit = _unit_name(mver)
    applied = list(meta.get("applied_batches", []))
    snap = meta.get("cell_sizes")
    if snap is not None and sizes_delta is not None:
        folded = {int(c): int(n) for c, n in snap}
        for c, n in sizes_delta.items():
            folded[int(c)] = folded.get(int(c), 0) + int(n)
        snap = folded
    units = {t: list(us) for t, us in (meta.get("units") or {}).items()}
    for t in tables:
        units.setdefault(t, []).append(unit)
    batch_id = _norm_batch_id(batch_id)  # int-keyed provenance (r14)
    if batch_id is not None:
        applied_id = batch_id
    else:
        # auto id = first unused non-negative integer (r13 review #3):
        # len(applied) collides with an explicit id after mixed
        # explicit/auto appends (applied=[0,1,3] -> next auto id 3),
        # which would duplicate the applied entry AND overwrite batch
        # 3's provenance — a later retract would then reverse the
        # wrong units
        taken = set(applied)
        applied_id = next(i for i in range(len(applied) + 1)
                          if i not in taken)
    # per-batch provenance (r13): the units and row delta this batch
    # contributed — retract_batch reverses exactly these. O(1) manifest
    # per batch (r14, VERDICT r13 #3): the per-cell delta is NOT copied
    # here — the batch's own cell_sizes unit already holds those pairs
    # and retract_batch reads them back via _batch_sizes (the copy grew
    # every rewrite and serve parse ~1.2 kB/batch at C=512,
    # MANIFEST_GROWTH.json)
    batches = dict(meta.get("batches") or {})
    batches[str(applied_id)] = {
        "units": {t: unit for t in tables}, "rows": n_delta
    }
    _publish(index_dir, meta, mver, stage, tables, dict(
        meta,
        applied_batches=applied + [applied_id],
        appended_rows=int(meta.get("appended_rows", 0)) + n_delta,
        cell_sizes=snap,
        units=units,
        batches=batches,
    ))
    # compaction-cadence bound (r14, VERDICT r13 #3): with the O(1)
    # manifest the remaining lazy-compaction tax is FILE-COUNT growth
    # — every serve plans one unit dir per uncompacted batch
    # (MANIFEST_GROWTH.json's serve_s curve). Warn past the
    # env-tunable threshold so a streaming deployment that forgot a
    # compaction schedule hears about it before the scan-planning cost
    # dominates.
    warn_n = int(
        os.environ.get("BDFP_INDEX_COMPACT_WARN_BATCHES", "512") or 0
    )
    if warn_n and len(batches) >= warn_n:
        warnings.warn(
            f"index at {index_dir!r} has {len(batches)} uncompacted "
            f"batches (>= {warn_n}): serve-side file counts grow per "
            f"batch — schedule compact_index (retract first if any "
            f"batch may need un-ingesting)",
            RuntimeWarning,
            stacklevel=2,
        )
    return index_dir


# the largest staged batch whose cell sizes _append_sizes counts
# driver-side with pyarrow; larger batches run one Spark aggregate
_SIZES_ARROW_ROWCAP = 4_000_000


def _append_sizes(
    spark: SparkSession,
    cpath: str,
    delta_files: list[str],
    cell_col: str,
    pred=None,
) -> dict[int, int]:
    """Write the delta batch's per-cell counts as one staged
    cell_sizes file (v5: the live table is an APPEND-ONLY log of
    (centroid_id, _csz) partial counts — readers sum, compaction
    bounds the file count). Reads only the batch's staged data files,
    column-pruned to the cell id; ``pred`` restricts to one row per
    vector when the source table carries several (ivfpq codes: m
    subspace rows per assignment). Returns the partial counts so the
    caller can fold them into the manifest's ``cell_sizes`` snapshot
    (r12).

    ONE Spark job: the ≤C-row aggregate is COLLECTED and the staged
    parquet file written driver-side from the rows in hand (pyarrow,
    same int64 schema Spark wrote in v5) — the first r12 shape
    (groupBy-write + read-back collect) was two jobs per micro-batch
    append and showed up as +0.6-1.3 s on every streaming-maintenance
    bench row.

    r15: ZERO Spark jobs for a bounded batch — when the staged files'
    footers count at most ``_SIZES_ARROW_ROWCAP`` rows, the cell-id
    column is read and
    value-counted driver-side with pyarrow (one int64 column of a
    batch the driver just wrote; exact integer counts, engine-
    independent). Larger batches keep the Spark aggregate — the cap
    makes the fast path scale-safe, not a driver hazard. ``pred``
    accepts the equality tuple ``(col, value)`` so both paths can
    apply it (the only caller shape: ivfpq's one-row-per-vector
    ``s == 0``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out: dict[int, int] = {}
    if delta_files:
        staged_rows = sum(
            papq.ParquetFile(f).metadata.num_rows for f in delta_files
        )
        if staged_rows <= _SIZES_ARROW_ROWCAP:
            cols = [cell_col] + ([pred[0]] if pred is not None else [])
            t = papq.ParquetDataset(delta_files).read(columns=cols)
            col = t[cell_col]
            if pred is not None:
                col = col.filter(pc.equal(t[pred[0]], pred[1]))
            vc = pc.value_counts(col.combine_chunks())
            out = {
                int(v): int(c)
                for v, c in zip(
                    vc.field("values").to_pylist(),
                    vc.field("counts").to_pylist(),
                )
            }
        else:
            df = spark.read.parquet(*delta_files)
            if pred is not None:
                df = df.filter(F.col(pred[0]) == pred[1])
            rows = (
                df.groupBy(F.col(cell_col).alias("centroid_id"))
                .agg(F.count(F.lit(1)).alias("_csz"))
                .collect()
            )
            out = {int(r["centroid_id"]): int(r["_csz"]) for r in rows}
    # ALWAYS write the staged file — possibly 0-row (an empty delta
    # batch): v6's adopt renames every listed table's staged dir and
    # treats a missing one as a swept stage, so an empty batch must
    # stage an empty partial-count table, not nothing (r13)
    cells = sorted(out)
    os.makedirs(cpath, exist_ok=True)
    papq.write_table(
        pa.table(
            {
                "centroid_id": pa.array(cells, pa.int64()),
                "_csz": pa.array([out[c] for c in cells], pa.int64()),
            }
        ),
        os.path.join(cpath, "part-00000.parquet"),
    )
    return out


def _read_sizes(spark: SparkSession, cpaths: list[str]):
    """The C-row (centroid_id, _csz) view of a v5 cell_sizes table:
    the persisted table is an append-only log of per-batch partial
    counts, so readers sum. On a fresh build this is a no-op aggregate
    over exactly C rows; after n appends it folds ≤ C·(n+1) rows —
    kB-scale either way, and never a scan of the data relation."""
    return (
        spark.read.parquet(*cpaths)
        .groupBy("centroid_id")
        .agg(F.sum("_csz").alias("_csz"))
    )


def _sizes_frame(spark: SparkSession, index_dir: str, meta: dict):
    """The C-row (centroid_id, _csz) frame the mass-budgeted probe
    consumes: the manifest's folded ``cell_sizes`` snapshot when the
    index carries one (r12 — a driver-local literal relation, zero
    parquet reads and zero aggregate per search; the snapshot is
    maintained at every build/append/compact commit so it always
    equals the folded log), else the summed view of the v5 partial-
    count parquet log (legacy indexes). Returns None for an index
    without a cell_sizes table at all (pre-v3/v4 layouts — the serve
    plan then derives sizes from the data relation)."""
    snap = meta.get("cell_sizes")
    if snap:
        return spark.createDataFrame(
            [(int(c), int(n)) for c, n in snap],
            "centroid_id long, _csz long",
        )
    if "cell_sizes" in meta.get("tables", []):
        return _read_sizes(
            spark, _unit_paths(index_dir, meta, "cell_sizes")
        )
    return None


def _run_concurrent(thunks):
    """Run independent Spark actions from sibling threads and return
    their results in input order (r14 — the §2.6 overlap-independent-
    jobs recipe applied to index maintenance): a build or append that
    materializes SEVERAL tables (digests+bands+winnow_fps, codes+norms)
    pays the driver's per-job scheduling latency serially when the
    writes run one after another, even though the jobs share no data.
    Submitting them from a small thread group lets the scheduler
    overlap one job's tail with the next job's ramp-up — on a cluster
    this also back-fills executors freed by a finishing stage.

    Every thunk runs to completion before this returns (the staging
    cleanup paths in the callers assume no write is still in flight
    when an exception propagates); the first error is re-raised after
    the join. ``pyspark.InheritableThread`` is the documented way to
    run driver-side Spark actions from threads (JVM thread-locals —
    job groups/descriptions — are inherited and cleaned up)."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list[BaseException] = []

    def _runner(i, t):
        try:
            results[i] = t()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [
        InheritableThread(target=_runner, args=(i, t))
        for i, t in enumerate(thunks)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
    return results


def _footer_rows(path: str | list[str]) -> int:
    """Row count from parquet FOOTERS — how the maintenance paths
    measure appended rows without an extra pass over the delta (r9
    review follow-up: delta.count() was a full Spark job per
    micro-batch). The footers are read DRIVER-SIDE with pyarrow (r15:
    the metadata-pruned count job still paid a full job
    submit/schedule round per micro-batch append). ``path`` may be one
    table dir or a list of unit dirs. A missing dir counts 0; a dir
    that exists but holds no ``.parquet`` file raises — every write
    stages at least one part file, even for an empty batch, so an
    empty dir is a broken unit, and counting it 0 would inflate or
    deflate the manifest's row counters silently. Any other failure
    PROPAGATES (r9 review #3: coercing a transient read error to 0
    would commit a wrong appended_rows and wedge needs_retrain)."""
    dirs = [path] if isinstance(path, str) else list(path)
    total = 0
    for d in dirs:
        if not os.path.isdir(d):
            continue
        files = _parquet_files(d)
        if not files:
            raise ValueError(
                f"_footer_rows: {d!r} holds no .parquet file (a unit or "
                f"staged table always has at least one part file)"
            )
        total += sum(papq.ParquetFile(f).metadata.num_rows for f in files)
    return total


def _write_frames(frames: dict, paths: dict) -> None:
    """Write each frame to its path. The writes are independent jobs
    (the quantizers the frames read were barriered or collected while
    the frames were built, so no write re-runs a training loop) and
    run concurrently (:func:`_run_concurrent`). Paths are resolved by
    the caller, in ITS thread: _unit_name embeds the thread id, so a
    path computed inside a sibling thread would name a different unit
    than the manifest records."""
    _run_concurrent([
        (lambda df=df, p=paths[t]: df.write.mode("overwrite").parquet(p))
        for t, df in frames.items()
    ])


def _norms_frame(delta: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Exact (neighbor_id, _cnorm) corpus norms, the cosine denominator
    the PQ and IVFPQ serves read beside the codes."""
    return norms_arrow(
        delta.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id", vec_col, "_cnorm",
    )


def _ivf_build(corpus, build_params, params):
    centroids, postings, _ = ivf_build_frames(corpus, **build_params)
    return {"centroids": centroids, "postings": postings}


def _ivf_append(index_dir, meta, delta, id_col, vec_col):
    # assign the delta to the FROZEN centroids, read driver-side from
    # the persisted table (r15: no per-micro-batch panel collect)
    return {
        "postings": _nearest_centroids(
            _frozen_panel(index_dir, meta, "centroids"),
            delta, id_col, vec_col,
            int(meta.get("params", {}).get("multi_assign", 1)),
            "neighbor_id",
        )
    }


def _pq_build(corpus, build_params, params):
    cb, codes, norms, _ = pq_build_frames(corpus, **build_params)
    return {"codebook": cb, "codes": codes, "norms": norms}


def _pq_append(index_dir, meta, delta, id_col, vec_col):
    # encode against the FROZEN codebook with the build's definition;
    # m/dim come from the manifest, so a mismatched subspace layout
    # cannot silently corrupt the encoding
    p = meta.get("params", {})
    return {
        "codes": encode_codebook_arrow(
            delta.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
            ),
            _frozen_panel(index_dir, meta, "codebook"),
            int(p.get("m", 8)), int(p.get("dim", 64)), ["neighbor_id"],
        ),
        "norms": _norms_frame(delta, id_col, vec_col),
    }


def _ivfpq_build(corpus, build_params, params):
    centroids, cb, codes, norms, _ = ivfpq_build_frames(
        corpus, **build_params
    )
    return {
        "centroids": centroids, "codebook": cb, "codes": codes,
        "norms": norms,
    }


def _ivfpq_append(index_dir, meta, delta, id_col, vec_col):
    # assign to the FROZEN centroids (multi-assignment from the
    # manifest) and encode each assignment's residual against the
    # FROZEN codebook. The assign kernel emits the residual itself
    # (emit_residual: the elementwise double subtract, bit-for-bit the
    # mechanism ivfpq_build_frames uses), so no delta re-join and no
    # centroid BroadcastExchange per batch. Fallbacks mirror
    # _BUILD_DEFAULTS["ivfpq"] for legacy manifests.
    p = meta.get("params", {})
    assigned = topn_centroids_arrow(
        spread_scaled(
            delta.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("_v"),
            ),
            "neighbor_id",
        ),
        _frozen_panel(index_dir, meta, "centroids"),
        "neighbor_id", "_v", int(p.get("multi_assign", 3)), "neighbor_id",
        emit_residual=True,
    )
    return {
        "codes": encode_codebook_arrow(
            assigned.select(
                "neighbor_id", "centroid_id", F.col("_rv").alias("_v")
            ),
            _frozen_panel(index_dir, meta, "codebook"),
            int(p.get("m", 16)), int(p.get("dim", 64)),
            ["neighbor_id", "centroid_id"],
        ),
        "norms": _norms_frame(delta, id_col, vec_col),
    }


def _dedup_frames(docs: DataFrame, p: dict) -> dict:
    """The dedup index tables of ``docs``: distinct exact digests,
    distinct banded MinHash rows, and the distinct winnowed span
    fingerprints of the docs matching ``benchmark_pred`` (r11, VERDICT
    r10 #4: the fixed eval suite every incoming crawl batch is
    decontaminated against). Extraction is row-local and every table
    is distinct-reduced, so build(base) ⊎ append(delta) ≡ build(all)."""
    text_col = p.get("text_col", "text")
    id_col = p.get("id_col", "doc_id")
    return {
        "digests": docs.select(
            F.md5(norm_text(F.col(text_col))).alias("digest")
        ).distinct(),
        "bands": minhash_band_digests(
            docs, text_col, id_col,
            int(p.get("n", 8)), int(p.get("num_hashes", 16)),
            int(p.get("bands", 4)),
        ).select("band", "band_digest").distinct(),
        "winnow_fps": winnow_fingerprints(
            docs.filter(F.expr(p.get("benchmark_pred", "source = 'src0'"))),
            text_col, id_col,
            k=int(p.get("win_k", 5)), w=int(p.get("win_w", 4)),
        ).select("fp").distinct(),
    }


def _dedup_build(corpus, build_params, params):
    return _dedup_frames(corpus, params)


def _dedup_append(index_dir, meta, delta, id_col, vec_col):
    return _dedup_frames(delta, meta.get("params", {}))


class _Kind(NamedTuple):
    # (corpus, build_params, effective params) -> {table: frame}
    build: Callable
    # (index_dir, manifest, delta, id_col, vec_col) -> {table: frame}
    append: Callable
    # the table base_rows / an append's n_delta are counted from
    rows: str
    # the count table holds min(multi_assign, |centroids|) rows per
    # vector instead of one
    multi_rows: bool
    # (table, one-row-per-vector predicate) the cell_sizes log counts,
    # or None for a kind without cell sizes
    sizes: tuple | None


_KINDS = {
    "ivf": _Kind(_ivf_build, _ivf_append, "postings", True,
                 ("postings", None)),
    "pq": _Kind(_pq_build, _pq_append, "norms", False, None),
    # ivfpq codes carry m subspace rows per assignment: s == 0 keeps
    # one row per (vector, cell)
    "ivfpq": _Kind(_ivfpq_build, _ivfpq_append, "norms", False,
                   ("codes", ("s", 0))),
    "dedup": _Kind(_dedup_build, _dedup_append, "digests", False, None),
}


def _count_rows(kind: str, params: dict, table_dirs, centroid_dirs) -> int:
    """Vectors in a written count table (``_Kind.rows``), from parquet
    footers — never an extra pass over the corpus or the delta (r9
    review #7). A ``multi_rows`` table holds exactly
    min(multi_assign, |centroids|) rows per vector (the top-n window
    is candidate-bounded): dividing by bare multi_assign would
    undercount an index with fewer cells than multi_assign and fire
    needs_retrain early (r9 review #5)."""
    n = _footer_rows(table_dirs)
    if _KINDS[kind].multi_rows:
        multi = int(params.get("multi_assign", 1))
        n //= max(1, min(multi, _footer_rows(centroid_dirs)))
    return n


def _ensure(
    kind: str,
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fingerprint: str,
    src: str | None,
    subset: str | None,
    build_params: dict,
) -> str:
    """Build a ``kind`` index iff absent/stale; returns ``index_dir``.
    The kind's build frames are written as slot-0 units of a
    writer-unique tmp dir, the cell-size log (kinds with one) is
    counted from the written data driver-side, the manifest is written
    LAST, and one atomic rename installs the result."""
    if index_is_current(index_dir, kind, fingerprint):
        # current index: opportunistically sweep dead writers' stage
        # litter (ADVICE r11 — see _sweep_dead_stages)
        _sweep_dead_stages(index_dir)
        return index_dir
    spec = _KINDS[kind]
    params = _effective_params(kind, build_params, subset)
    tmp = _build_into_tmp(index_dir)
    try:
        frames = spec.build(corpus, build_params, params)
        tables = list(frames) + (["cell_sizes"] if spec.sizes else [])
        paths = {t: _build_unit(tmp, t) for t in tables}
        _write_frames(frames, paths)
        snap = None
        if spec.sizes:
            # posting rows per cell, counted ONCE from the written data
            # and maintained by appends — the mass-budgeted probe reads
            # this C-row table (and the manifest's folded snapshot,
            # r12) instead of re-scanning the largest relation per
            # search
            cells, pred = spec.sizes
            snap = _append_sizes(
                spark, paths["cell_sizes"], _parquet_files(paths[cells]),
                "centroid_id", pred=pred,
            )
        _commit(tmp, {
            "kind": kind,
            "fingerprint": fingerprint,
            "tables": tables,
            "src": src,
            "params": params,
            "base_rows": _count_rows(
                kind, params, paths[spec.rows], paths.get("centroids")
            ),
            "cell_sizes": snap,
            "units": _build_units(tables),
        })
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)  # no abandoned tmp dirs
        raise
    out = _install_build(tmp, index_dir, kind, fingerprint)
    _gc_superseded(out, kind, src, subset)
    return out


def _append(
    kind: str,
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    id_col: str | None,
    vec_col: str | None,
    batch_id,
) -> str:
    """Append ``delta`` to a ``kind`` index against its FROZEN
    quantizers: claim, stage the kind's append frames (the tables
    ``_APPEND_TABLES[kind]`` ∩ the manifest's tables — a legacy index
    without a newer table skips it) plus the batch's partial
    cell-count file, count the batch from the staged footers, and
    publish through :func:`_finish_append`. A redelivered batch id is
    an idempotent skip. Every failure before the publish releases the
    claim and removes the stage."""
    txn = _writer_txn(index_dir, batch_id, "append")
    if txn is None:
        return index_dir  # redelivered batch: idempotent skip
    meta, mver = txn
    spec = _KINDS[kind]
    tables = [t for t in _APPEND_TABLES[kind] if t in meta.get("tables", [])]
    stage = None
    try:
        frames = spec.append(index_dir, meta, delta, id_col, vec_col)
        stage = _append_stage(index_dir, mver)
        paths = {t: os.path.join(stage, t) for t in tables}
        _write_frames({t: df for t, df in frames.items() if t in paths}, paths)
        n_delta = _count_rows(
            kind, meta.get("params", {}), paths[spec.rows],
            _unit_paths(index_dir, meta, "centroids"),
        )
        sizes_delta = None
        if "cell_sizes" in paths:
            cells, pred = spec.sizes
            sizes_delta = _append_sizes(
                spark, paths["cell_sizes"], _parquet_files(paths[cells]),
                "centroid_id", pred=pred,
            )
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        # the staged delta is garbage once the claim is released — at
        # sf10 scale leaving it until the next writer's sweep leaks
        # GBs in the shared cache dir (r11 review #3)
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)
        raise
    return _finish_append(
        index_dir, stage, tables, meta, mver, batch_id, n_delta,
        sizes_delta=sizes_delta,
    )


def ensure_ivf_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fingerprint: str,
    src: str | None = None,
    subset: str | None = None,
    **build_params,
) -> str:
    """Build the IVF index (centroids, postings, cell_sizes) iff
    absent/stale; returns ``index_dir``."""
    return _ensure(
        "ivf", spark, corpus, index_dir, fingerprint, src, subset,
        build_params,
    )


def ensure_pq_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fingerprint: str,
    src: str | None = None,
    subset: str | None = None,
    **build_params,
) -> str:
    """Build the PQ index (codebook, codes, norms) iff absent/stale;
    returns ``index_dir``."""
    return _ensure(
        "pq", spark, corpus, index_dir, fingerprint, src, subset,
        build_params,
    )


def ensure_ivfpq_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fingerprint: str,
    src: str | None = None,
    subset: str | None = None,
    **build_params,
) -> str:
    """Build the composed IVF+PQ index iff absent/stale — centroids,
    codebook, codes (cell-tagged, so no separate postings table),
    norms and cell_sizes. Returns ``index_dir``."""
    return _ensure(
        "ivfpq", spark, corpus, index_dir, fingerprint, src, subset,
        build_params,
    )


def ensure_dedup_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fingerprint: str,
    src: str | None = None,
    subset: str | None = None,
    **build_params,
) -> str:
    """Build the persisted DEDUP index iff absent/stale — the crawl
    pipeline's production shape: the corpus's DISTINCT exact digests
    (``digests``), DISTINCT banded MinHash rows (``bands``) and the
    benchmark suite's winnowed span fingerprints (``winnow_fps``),
    persisted between runs so each incoming batch dedups by
    semi-joining them (operators/dedup.incremental_dedup derives the
    same frames in-query; see SURVEY §2 A8). There is NO trained
    quantizer, so appends carry no drift: build(base) ⊎ append(delta)
    has exactly the DISTINCT content of build(base ∪ delta), and the
    checks are invariant to duplicate index rows (left_semi joins).
    base_rows records the distinct digest count (capacity accounting
    only — needs_retrain is meaningless for an exact index)."""
    return _ensure(
        "dedup", spark, corpus, index_dir, fingerprint, src, subset,
        build_params,
    )


def ivf_index_append(
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> str:
    """Assign a DELTA batch to the FROZEN persisted centroids
    (multi-assignment from the manifest, never the caller) and append
    its postings and partial cell sizes — no retrain, no base
    re-assignment. Drift trade: centroids reflect the base
    distribution; :func:`needs_retrain` watches the appended
    fraction."""
    return _append(
        "ivf", spark, index_dir, delta, id_col, vec_col, batch_id
    )


def pq_index_append(
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> str:
    """Encode a DELTA batch against the FROZEN persisted codebook (m/dim
    from the manifest) and append its codes + exact norms; both land in
    one commit, so codes never serve without their norms (which the ADC
    inner join would otherwise silently drop). Drift trade as in
    :func:`ivf_index_append`."""
    return _append(
        "pq", spark, index_dir, delta, id_col, vec_col, batch_id
    )


def ivfpq_index_append(
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> str:
    """Assign a DELTA batch to the FROZEN persisted centroids, encode
    each assignment's residual against the FROZEN codebook (layout
    from the manifest), and append the cell-tagged codes, exact norms
    and partial cell sizes. Drift trade: BOTH quantizers reflect the
    base distribution — :func:`needs_retrain` watches the appended
    fraction."""
    return _append(
        "ivfpq", spark, index_dir, delta, id_col, vec_col, batch_id
    )


def dedup_index_append(
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    batch_id: int | None = None,
) -> str:
    """Append an ingested batch's distinct digests, banded MinHash rows
    and winnow fingerprints (column/shingle/band params from the
    MANIFEST, never the caller). Appended rows may duplicate existing
    index rows (a batch re-crawling known text); that is CORRECT by
    construction — the checks are left_semi joins and extraction is
    row-local. compact_index rewrites the accreted per-batch units."""
    return _append(
        "dedup", spark, index_dir, delta, None, None, batch_id
    )


def _compaction(
    spark: SparkSession,
    index_dir: str,
    op: str,
    target_bytes: int,
    pick: Callable,
):
    """The rewrite step compact_index and minor_compact_index share:
    claim, pick each table's source unit dirs (``pick(manifest,
    tables) -> {table: [unit dirs]}``), and rewrite each table's picks
    into ``stage/<table>`` with operators/layout.compact's
    metadata-only sizing — per-table rewrites touch disjoint units, so
    they run concurrently (r14). Returns (manifest, mver, stage,
    picks, {table: (files_before, files_after)}); ``stage`` is None
    when nothing needs rewriting, and the claim is then released
    without a commit."""
    # kind-check BEFORE claiming (ADVICE r9): raising unknown-kind
    # after the claim would abandon the slot and wedge later writers;
    # the post-claim re-check covers the (theoretical) window where
    # the manifest changes kind between this read and the claim
    pre = _manifest(index_dir)
    if pre is not None and pre.get("kind") not in _APPEND_TABLES:
        raise ValueError(
            f"{op}_index: unknown index kind {pre.get('kind')!r}"
        )
    meta, mver = _writer_txn(index_dir, None, op)
    stage = None
    try:
        tables = _APPEND_TABLES.get(meta.get("kind"))
        if tables is None:
            raise ValueError(
                f"{op}_index: unknown index kind {meta.get('kind')!r}"
            )
        picks = pick(meta, tables)
        if not picks:
            _end_claim(index_dir, mver, release=True)
            return meta, mver, None, picks, {}
        before = {
            t: sum(len(_parquet_files(p)) for p in srcs)
            for t, srcs in picks.items()
        }
        stage = _append_stage(index_dir, mver)
        afters = _run_concurrent([
            (lambda s=srcs, d=os.path.join(stage, t): compact(
                spark, s, d, target_bytes=target_bytes
            ))
            for t, srcs in picks.items()
        ])
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)
        raise
    stats = {t: (before[t], a) for t, a in zip(picks, afters)}
    return meta, mver, stage, picks, stats


def compact_index(
    spark: SparkSession,
    index_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict[str, tuple[int, int]]:
    """OPTIMIZE for the maintained index: rewrite every live unit of the
    append-target tables (one file set per applied batch — one per
    MICRO-batch on the streaming path) into ~``target_bytes`` files,
    published as ONE new unit per table. A long-maintained index
    otherwise degrades scan-side (VERDICT r8 residual #1).

    ``applied_batches`` and the row counters are PRESERVED (rewrite
    only, no dedup — the registered compaction query shares the append
    oracle to prove the served results are bit-identical). Batch
    identity folds into the base: ``batches`` is cleared, so retract
    before compacting, or rebuild. A search planned against the
    pre-compaction manifest keeps its files until the post-commit
    _gc_dead_units sweep (snapshot isolation up to that sweep).

    Returns {table: (files_before, files_after)}."""
    def pick(meta, tables):
        # exactly the units the manifest references — a zombie's
        # unreferenced leftovers and a missing legacy table (e.g.
        # pre-r11 dedup without winnow_fps) are skipped by construction
        picks = {}
        for t in tables:
            srcs = [
                p for p in _unit_paths(index_dir, meta, t)
                if os.path.isdir(p)
            ]
            if srcs:
                picks[t] = srcs
        return picks

    meta, mver, stage, picks, stats = _compaction(
        spark, index_dir, "compact", target_bytes, pick
    )
    if stage is None:
        return stats
    unit = _unit_name(mver)
    units = {t: list(us) for t, us in (meta.get("units") or {}).items()}
    for t in picks:
        units[t] = [unit]  # the rewrite REPLACES the table's unit set
    _publish(index_dir, meta, mver, stage, list(picks), dict(
        meta, units=units, batches={}
    ))
    return stats


def _unit_bytes(path: str) -> int:
    """Physical bytes of a unit dir — a driver-side METADATA listing
    (file sizes only, no content), the same information layout.compact
    derives from Spark's file index; unit dirs hold a handful of
    files, so this is microseconds even on a long-maintained index."""
    try:
        return sum(os.path.getsize(f) for f in _parquet_files(path))
    except OSError:
        return 0


def minor_compact_index(
    spark: SparkSession,
    index_dir: str,
    keep_recent: int = 2,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Size-tiered MINOR compaction — the LSM shape of index
    maintenance. ``compact_index`` rewrites EVERY live unit into one
    file set: O(index) bytes moved, and per-batch retraction dies with
    it (``batches`` is cleared). At 100 TB neither cost is payable on
    a cadence, yet the lazy-append tax is real: one unit dir per
    micro-batch makes serve-side scan planning the bottleneck
    (MANIFEST_GROWTH.json's serve_s curve — the r14 cadence warning's
    reason to exist). Minor compaction splits the difference exactly
    the way LSM trees do:

    - the LARGEST unit per table (the base tier — the build output, or
      a previous compaction's rewrite) is NEVER touched;
    - the ``keep_recent`` NEWEST applied batches keep their own unit
      dirs and their ``batches`` provenance — still individually
      retractable (the production retraction case is a RECENT bad
      batch: a poisoned crawl delivery is noticed in hours, not after
      a thousand micro-batches);
    - everything else — aged-out batch units plus any previous minor
      pass's merged unit — is rewritten into ONE new unit per table.

    Bytes moved per pass are bounded by the appended tier, which the
    retrain trigger caps at ``max_appended_frac`` (default 0.5) of the
    base — amortized O(appended bytes), never O(index). File counts
    stay at base + 1 merged + ``keep_recent``, so a streaming
    deployment on a minor-compaction cadence never hits the
    BDFP_INDEX_COMPACT_WARN_BATCHES wall at all.

    Folded batches leave the ``batches`` map (their ids stay in
    ``applied_batches`` — redelivery idempotence survives folding, and
    a later ``retract_batch`` of a folded id raises the documented
    "compacted into the base" ValueError). ``appended_rows`` and the
    ``cell_sizes`` snapshot are INVARIANT: rewrite-only, no dedup —
    the registered minor-compact queries share the append oracles to
    prove the served content is bit-identical.

    Returns {"tables": {table: (files_merged, files_after)},
    "folded": [batch ids folded], "kept": [batch ids still
    retractable]} — empty "tables" when nothing needed merging (the
    claim is released, no commit happens).
    """
    if keep_recent < 0:
        raise ValueError("minor_compact_index: keep_recent must be >= 0")
    tiers: dict[str, list[int]] = {}

    def pick(meta, tables):
        # tier split at BATCH granularity: the keep_recent highest ids
        # stay retractable; older provenance folds into the base tier
        batches = meta.get("batches") or {}
        ids = sorted(int(k) for k in batches)
        kept = ids[len(ids) - keep_recent:] if keep_recent else []
        tiers["kept"] = kept
        tiers["folded"] = [i for i in ids if i not in kept]
        protected: dict[str, set] = {}
        for i in kept:
            for t, u in (batches[str(i)].get("units") or {}).items():
                protected.setdefault(t, set()).add(u)
        picks = {}
        for t in tables:
            cands = [
                p for u in (meta.get("units") or {}).get(t, ())
                if u not in protected.get(t, ())
                and os.path.isdir(p := os.path.join(index_dir, t, u))
            ]
            if len(cands) < 2:
                continue
            # the base tier stays put: drop the largest candidate by
            # physical bytes (metadata listing); ties broken by name
            # for determinism
            base_unit = max(
                cands, key=lambda p: (_unit_bytes(p), os.path.basename(p))
            )
            srcs = [p for p in cands if p != base_unit]
            if len(srcs) >= 2:
                picks[t] = srcs
        return picks

    meta, mver, stage, picks, stats = _compaction(
        spark, index_dir, "minor_compact", target_bytes, pick
    )
    if stage is None:
        # nothing to merge (fresh index, or only base + recent units):
        # provenance keeps its retractability for free
        return {"tables": {}, "folded": [], "kept": tiers["kept"]}
    unit = _unit_name(mver)
    units = {t: list(us) for t, us in (meta.get("units") or {}).items()}
    for t, srcs in picks.items():
        # the merged unit REPLACES exactly its sources; base tier and
        # recent-batch units keep their positions
        merged = {os.path.basename(p) for p in srcs}
        units[t] = [u for u in units[t] if u not in merged] + [unit]
    # fold the aged-out provenance (ids stay in applied_batches)
    batches = {
        k: v for k, v in (meta.get("batches") or {}).items()
        if int(k) not in tiers["folded"]
    }
    _publish(index_dir, meta, mver, stage, list(picks), dict(
        meta, units=units, batches=batches
    ))
    return {"tables": stats, "folded": tiers["folded"], "kept": tiers["kept"]}


def retract_batch(index_dir: str, batch_id) -> str:
    """UN-INGEST an applied batch — the v6 payoff operator (r13): with
    manifest-referenced batch units, removing a batch is an O(manifest)
    METADATA operation, not a data rewrite. Production shapes: a crawl
    batch found poisoned/contaminated after ingestion, a licensing or
    right-to-be-forgotten takedown of one provider's delivery, a bad
    upstream re-run — at 100 TB none of these can afford rewriting the
    index.

    Semantics: exactly "as if the batch was never appended".

    - the batch's unit dirs leave the ``units`` map (readers never see
      them again; the post-commit GC removes the dirs);
    - ``appended_rows`` drops by the batch's recorded row delta, so
      the retrain trigger and the drift-aware serve policies
      (schedule clamp, rerank-pool widening) compute exactly what a
      never-appended index would;
    - the ``cell_sizes`` snapshot subtracts the batch's per-cell
      partials (zero-count cells drop, matching the fold of the log
      that just lost the batch's partial-count unit);
    - dedup kinds are exact by construction: appends store each
      batch's DISTINCT rows without cross-batch dedup, so a digest
      re-crawled by another batch keeps that batch's copy;
    - ``applied_batches`` KEEPS the id: retraction means "remove and
      do not re-ingest", so a checkpoint redelivery of the retracted
      batch stays an idempotent skip (re-ingesting the same content
      under a NEW batch id is the caller's explicit act); the id is
      also recorded in the ``retracted`` ledger.

    Determinism makes the result BIT-IDENTICAL to an index that never
    saw the batch, so the registered retract queries share the append
    oracles. Raises ``ValueError`` for a batch without provenance —
    never appended, already retracted, appended by a pre-r13 writer,
    or folded into the base by a compaction."""
    if batch_id is None:
        raise TypeError("retract_batch requires an explicit batch_id")
    batch_id = _norm_batch_id(batch_id)  # int/str "3" name ONE batch
    meta, mver = _writer_txn(index_dir, None, "retract")
    bkey = str(batch_id)
    try:
        batches = dict(meta.get("batches") or {})
        if bkey not in batches:
            raise ValueError(
                f"batch {batch_id!r} has no provenance at {index_dir!r} "
                f"(never appended, already retracted, or compacted into "
                f"the base) — nothing to retract"
            )
        entry = batches.pop(bkey)
        bunits = entry.get("units", {})
        units = {
            t: [u for u in us if u != bunits.get(t)]
            for t, us in (meta.get("units") or {}).items()
        }
        snap = meta.get("cell_sizes")
        if snap is not None:
            # the batch's per-cell delta: from its own cell_sizes unit
            # (r14 O(1)-manifest layout) or the r13 manifest copy — read
            # BEFORE the commit GCs the unit (_batch_sizes docstring)
            bsizes = _batch_sizes(index_dir, entry)
            if bsizes is not None:
                folded = {int(c): int(n) for c, n in snap}
                for c, n in bsizes:
                    folded[int(c)] = folded.get(int(c), 0) - int(n)
                snap = {c: n for c, n in folded.items() if n > 0}
            else:
                # no recorded partials (shouldn't happen for kinds that
                # track sizes, but fail soft): drop the snapshot —
                # readers fold the log, which just lost the batch's unit
                snap = None
        retracted = list(meta.get("retracted") or [])
        if bkey not in retracted:
            retracted.append(bkey)
        # an empty stage: retraction writes no data, but it claims its
        # stage like every writer, so a contender's sweep marks it dead
        stage = _append_stage(index_dir, mver)
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        raise
    _publish(index_dir, meta, mver, stage, [], dict(
        meta,
        appended_rows=(
            int(meta.get("appended_rows", 0)) - int(entry.get("rows", 0))
        ),
        cell_sizes=snap,
        units=units,
        batches=batches,
        retracted=retracted,
    ))
    return index_dir


def clone_index(src_dir: str, dst_dir: str) -> str:
    """Clone a committed index into a writer-private directory — the
    snapshot-then-mutate pattern: maintenance exercises (append,
    compact) that must not disturb a cached build copy it instead of
    retraining (a file copy of kB-quantizers + key-only tables vs a
    full train+encode pass). The clone carries the manifest verbatim
    (same fingerprint: the content IS identical by determinism) but
    NOT the source's writer log — the clone starts its own maintenance
    history. Refuses an uncommitted source (a mid-maintenance index
    must never be forked)."""
    if _manifest(src_dir) is None:
        raise ValueError(
            f"clone_index: no committed index at {src_dir!r}"
        )
    # pid + thread id: two threads cloning to the same destination
    # must not interleave into one staging dir (the _build_into_tmp
    # discipline — r9 review #2); failures never leak the staging copy
    tmp = f"{dst_dir}.clone.{os.getpid()}.{threading.get_ident()}"
    last_err: Exception | None = None
    for _ in range(3):
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            shutil.copytree(
                src_dir, tmp,
                ignore=shutil.ignore_patterns(
                    # the fence is writer history like the log: the
                    # clone starts its own maintenance epoch sequence
                    # (_fence* also drops the short-lived r12 interim
                    # _fence.json single-file form)
                    _APPLOG, "_fence*", "*.tmp.*", "*.clone.*"
                ),
            )
        except (shutil.Error, OSError) as e:
            # a concurrent installer/GC can replace or sweep a SHARED-
            # CACHE source mid-copy (r9 review #4): re-check the source
            # and retry; a source that stays uncommitted is a real error
            shutil.rmtree(tmp, ignore_errors=True)
            last_err = e
            if _manifest(src_dir) is None:
                raise ValueError(
                    f"clone_index: source {src_dir!r} disappeared "
                    f"mid-clone (superseded by a concurrent install?)"
                ) from e
            continue
        if _manifest(tmp) is None:
            # raced a source swap without an exception: torn copy
            shutil.rmtree(tmp, ignore_errors=True)
            continue
        shutil.rmtree(dst_dir, ignore_errors=True)
        try:
            os.rename(tmp, dst_dir)
        except OSError as e:
            # concurrent cloner won the destination (writer-private by
            # contract, but converge anyway): adopt theirs if committed
            shutil.rmtree(tmp, ignore_errors=True)
            if _manifest(dst_dir) is None:
                raise
            last_err = e
        return dst_dir
    raise RuntimeError(
        f"clone_index: could not produce a committed clone of "
        f"{src_dir!r} after 3 attempts"
    ) from last_err


def needs_retrain(index_dir: str, max_appended_frac: float = 0.5) -> bool:
    """Retrain trigger: True when the rows appended against the FROZEN
    quantizer exceed ``max_appended_frac`` of the base the quantizer
    was trained on — the operational form of the measured drift trade
    (RECALL_SCALE.json: PQ recall ~0.96 full-trained vs ~0.91 with 1/2
    of base appended; IVF ~0.84 vs ~0.86). A scheduler polls this and
    re-runs ``ensure_*`` with a fresh fingerprint when it flips; the
    rebuild records new ``base_rows`` and resets ``appended_rows`` to
    0, which resets the flag. A legacy/foreign manifest without
    ``base_rows`` is conservatively due for retrain as soon as
    anything was appended (unknown base ⇒ unknown drift)."""
    meta = _manifest(index_dir)
    if meta is None:
        raise ValueError(f"no committed index at {index_dir!r}")
    appended = int(meta.get("appended_rows", 0))
    base = meta.get("base_rows")
    if not base:
        return appended > 0
    return appended > max_appended_frac * int(base)


def _serving_manifest(index_dir: str, kind: str) -> dict:
    """Search-side manifest read: a missing manifest means the index
    is absent or mid-append/mid-compact (invalidated) — serving its
    tables then could read a partially-appended batch, so refuse."""
    meta = _manifest(index_dir)
    if meta is None or meta.get("kind") != kind:
        raise ValueError(
            f"no committed {kind} index at {index_dir!r} "
            f"(absent, mid-maintenance, or crashed — rebuild it)"
        )
    return meta


def ivf_index_search(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 8,
    probe_mass: tuple[int, int] | str | None = None,
) -> DataFrame:
    """Serve from the persisted IVF index. ``k``/``nprobe``/
    ``probe_mass`` are genuine search-time knobs; everything
    structural lives in the persisted frames. Refuses an uncommitted
    (mid-maintenance) index. With ``probe_mass="auto"`` the scheduled
    (num, den) budget is resolved at the BUILD's scale step — from the
    manifest's ``base_rows`` and centroid ``scale_ref`` (r12, ADVICE
    r11): the schedule and the centroid-count rule were calibrated
    JOINTLY, so appends (which grow the live posting total T while C
    stays frozen at the base build) must keep the base budget — the
    budget ceil(num·T/den) still tracks the live mass, but the
    FRACTION no longer steps down against a one-step-behind C (the
    measured regression: RECALL_SCALE ivfpq_appended 0.909→0.869 at
    sf3). needs_retrain, not the budget step-down, owns the drift
    response; the retrain re-resolves both C and the budget."""
    meta = _serving_manifest(index_dir, "ivf")
    postings = _read_table(spark, index_dir, meta, "postings")
    # the maintained cell sizes (v4+): the manifest's folded snapshot
    # when present (r12 — zero extra reads per search), else the
    # summed view of the v5 partial-count log; a pre-v4 index falls
    # back to the derived aggregate inside ivf_search_frames
    cell_sizes = _sizes_frame(spark, index_dir, meta)
    p = meta.get("params", {})
    sref = p.get("scale_ref")
    base = meta.get("base_rows")
    if probe_mass == "auto" and sref is not None and base:
        probe_mass = mass_schedule_for_n(int(base), int(sref))
    # r15: the frozen centroid panel reads driver-side — the
    # per-search Spark collect job disappears
    return ivf_search_frames(
        _frozen_panel(index_dir, meta, "centroids"),
        postings, corpus, queries,
        id_col=id_col, vec_col=vec_col, k=k, nprobe=nprobe,
        probe_mass=probe_mass, cell_sizes=cell_sizes,
        mass_multi=int(p.get("multi_assign", 1)),
        sched_ref=int(sref) if sref is not None else None,
    )


def pq_index_search(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int | None = None,
    dim: int | None = None,
    rerank: int = 4,
    scale: int = 1_000_000,
    pool_cap: int = 640,
    scale_ref: int = 1000,
) -> DataFrame:
    """Serve from the persisted PQ index. The SUBSPACE LAYOUT (m, dim)
    is read from the manifest — the single source of truth the append
    path already uses; a caller-supplied value that disagrees raises
    instead of silently joining the wrong subspaces (VERDICT r8 "what's
    wrong" #2). ``k``/``rerank``/``scale``/``pool_cap``/``scale_ref``
    remain genuine search-time knobs (they parameterize the ADC
    quantization and rerank pool, not the persisted encoding).

    r12 drift policy (VERDICT r11 #3): the exact-rerank pool WIDENS
    with the manifest's appended fraction —
    pool = min(cap, k·rerank·s·(base+appended) // base) — because
    appended vectors are encoded against the base-trained codebook and
    carry extra quantization error in their ADC ranks; a
    proportionally deeper exact rerank recovers what the compressed
    ranking loses, bounded by pool_cap and needs_retrain's budget.
    Exact integer arithmetic, replayed by the maintenance oracle."""
    meta = _serving_manifest(index_dir, "pq")
    params = meta.get("params", {})
    m_idx = int(params.get("m", 8))
    dim_idx = int(params.get("dim", 64))
    if m is not None and m != m_idx:
        raise ValueError(
            f"pq_index_search: caller m={m} but the index at "
            f"{index_dir!r} was built with m={m_idx} (manifest wins)"
        )
    if dim is not None and dim != dim_idx:
        raise ValueError(
            f"pq_index_search: caller dim={dim} but the index at "
            f"{index_dir!r} was built with dim={dim_idx} (manifest wins)"
        )
    codes = _read_table(spark, index_dir, meta, "codes")
    norms = _read_table(spark, index_dir, meta, "norms")
    base = meta.get("base_rows")
    pool = None
    if base:
        pool = rerank_pool_for_index(
            int(base), int(meta.get("appended_rows", 0)),
            k, rerank, pool_cap, scale_ref,
        )
    # r15: frozen codebook panel read driver-side (bit-identical) —
    # the per-search collect job disappears
    return pq_search_frames(
        _frozen_panel(index_dir, meta, "codebook"),
        codes, norms, corpus, queries,
        id_col=id_col, vec_col=vec_col, k=k, m=m_idx, dim=dim_idx,
        rerank=rerank, scale=scale, pool_cap=pool_cap,
        scale_ref=scale_ref, pool=pool,
    )


def ivfpq_index_search(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 8,
    rerank: int = 4,
    scale: int = 1_000_000,
    pool_cap: int = 640,
    scale_ref: int = 1000,
    probe_mass: tuple[int, int] | str | None = None,
) -> DataFrame:
    """Serve from the persisted IVFPQ index. The subspace layout
    (m, dim) comes from the MANIFEST (the single-source-of-truth
    discipline); ``k``/``nprobe``/``probe_mass``/``rerank``/
    quantization knobs stay caller-side (search-time policy, not
    persisted encoding). Refuses an uncommitted (mid-maintenance)
    index.

    r12 drift policy (VERDICT r11 #3 / ADVICE r11): with
    ``probe_mass="auto"`` the scheduled (num, den) budget is resolved
    at the BUILD's scale step from the manifest's ``base_rows`` — the
    fraction no longer steps down against a C frozen at the base
    build (see ivf_index_search) — and the exact-rerank pool WIDENS
    with the manifest's appended fraction:
    pool = min(cap, k·rerank·s·(base+appended) // base). Appended
    vectors are encoded against base-trained quantizers, so their ADC
    ranks carry extra quantization error; a proportionally deeper
    exact rerank recovers what the compressed ranking loses, bounded
    by pool_cap and by needs_retrain's appended-fraction budget. Both
    rules are exact integer arithmetic the oracles replay."""
    meta = _serving_manifest(index_dir, "ivfpq")
    params = meta.get("params", {})
    m_idx = int(params.get("m", 16))
    dim_idx = int(params.get("dim", 64))
    codes = _read_table(spark, index_dir, meta, "codes")
    norms = _read_table(spark, index_dir, meta, "norms")
    # the maintained cell sizes: manifest snapshot (r12) or the summed
    # v5 log view; pre-v3 falls back to the derived aggregate
    cell_sizes = _sizes_frame(spark, index_dir, meta)
    csref = params.get("coarse_scale_ref")
    base = meta.get("base_rows")
    if probe_mass == "auto" and csref is not None and base:
        probe_mass = mass_schedule_for_n(int(base), int(csref))
    pool = None
    if base:
        pool = rerank_pool_for_index(
            int(base), int(meta.get("appended_rows", 0)),
            k, rerank, pool_cap, scale_ref,
        )
    # r15: frozen quantizer panels read driver-side (bit-identical) —
    # the per-search collect jobs disappear
    return ivfpq_search_frames(
        _frozen_panel(index_dir, meta, "centroids"),
        _frozen_panel(index_dir, meta, "codebook"),
        codes, norms, corpus, queries,
        id_col=id_col, vec_col=vec_col, k=k, nprobe=nprobe,
        m=m_idx, dim=dim_idx, rerank=rerank, scale=scale,
        pool_cap=pool_cap, scale_ref=scale_ref, probe_mass=probe_mass,
        cell_sizes=cell_sizes,
        mass_multi=int(params.get("multi_assign", 3)),
        sched_ref=int(csref) if csref is not None else None,
        pool=pool,
    )


def dedup_index_check(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
) -> DataFrame:
    """Dedup an incoming batch against the PERSISTED index: exact
    digest tier, then MinHash band-collision tier, via left_semi joins
    of the batch's row-local digests/bands against the two persisted
    tables. All extraction params come from the MANIFEST (the
    single-source-of-truth discipline — a batch hashed under different
    shingle/band params would silently miss every collision), and the
    check shares operators/dedup.dedup_status_against_index with the
    in-query twin, so serve and twin cannot diverge. Refuses an
    uncommitted (mid-maintenance) index. Returns (id, status)."""
    meta = _serving_manifest(index_dir, "dedup")
    p = meta.get("params", {})
    digests = _read_table(spark, index_dir, meta, "digests")
    band_index = _read_table(spark, index_dir, meta, "bands")
    return dedup_status_against_index(
        batch, digests, band_index,
        p.get("text_col", "text"), p.get("id_col", "doc_id"),
        int(p.get("n", 8)), int(p.get("num_hashes", 16)),
        int(p.get("bands", 4)),
    )


def dedup_index_contamination(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
) -> DataFrame:
    """Span-level decontamination of an incoming TRAIN batch against
    the PERSISTED benchmark fingerprints (r11, VERDICT r10 #4): the
    batch's winnowed fingerprints (params from the MANIFEST — a batch
    winnowed under different k/w would silently miss every span) are
    overlap-checked against the index's ``winnow_fps`` table through
    the same broadcast skeleton as the in-query twin
    (operators/dedup._broadcast_overlap_stats), so persisted ≡
    in-query by construction: extraction is per-doc, the check
    distinct-reduces the benchmark units, and appends union
    distinct-compatible fp sets. Refuses an uncommitted index and an
    index built before the winnow_fps table existed. Returns
    (id, n_fp, n_hit, hit_frac) for batch docs with >= k tokens."""
    meta = _serving_manifest(index_dir, "dedup")
    if "winnow_fps" not in meta.get("tables", []):
        raise ValueError(
            f"index at {index_dir!r} carries no winnow_fps table "
            "(pre-r11 build) — rebuild under the current params"
        )
    p = meta.get("params", {})
    bench_fps = _read_table(spark, index_dir, meta, "winnow_fps")
    return _broadcast_overlap_stats(
        winnow_fingerprints(
            batch, p.get("text_col", "text"), p.get("id_col", "doc_id"),
            k=int(p.get("win_k", 5)), w=int(p.get("win_w", 4)),
        ),
        bench_fps,
        p.get("id_col", "doc_id"), "fp", "n_fp", "n_hit", "hit_frac",
    )
