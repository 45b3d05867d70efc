"""Persisted ANN indexes: train/encode ONCE, serve many queries — the
production deployment shape for the trained IVF/PQ tiers (r8, hardened
r9 with CAS-serialized maintenance writers, compaction, and a retrain
trigger).

``ivf_topk`` / ``pq_topk`` are end-to-end plans: every invocation
re-trains the quantizer and re-encodes the corpus (6-9 s at sf0.1
after the r8 training upgrade). A real retrieval deployment runs the
build as a batch job and serves queries against the PERSISTED index;
this module provides exactly that split on top of the
``*_build_frames`` / ``*_search_frames`` halves in operators/ann.py:

- build: materialize the index frames (IVF: centroids + postings; PQ:
  codebook + codes + exact norms) into a writer-unique tmp directory
  with a ``_meta.json`` manifest (kind, fingerprint, tables, source
  path, BUILD PARAMS, base row count) written LAST, then install with
  one atomic rename — readers never observe a half-built index, and a
  crashed build leaves no manifest so it never serves.
- ensure: rebuild only when the manifest is missing or its
  ``fingerprint`` (source identity + params + ALGORITHM VERSION)
  differs; an unchanged one is served straight from parquet, across
  process boundaries (fingerprint-named shared cache under a per-user
  root). After a successful install, superseded fingerprints of the
  same (kind, source) are garbage-collected.
- append: incremental maintenance against the FROZEN quantizer,
  SERIALIZED through an exclusive-create commit log (r9, VERDICT r8
  #1): every maintenance writer (append or compact) must CAS-claim
  manifest-version ``mver+1`` in ``_applog`` before touching anything
  — two concurrent appenders race for the same slot, exactly one
  proceeds, the loser waits for the winner's recommit and re-reads
  (so a batch the winner applied is an idempotent skip, never a
  double-append). Every Spark job of an append runs into a staging
  dir BEFORE the manifest invalidate (v5.1): the invalidated window
  is pure same-FS renames, re-committed after — a crash mid-adopt
  leaves no manifest, so a partially-adopted index (codes without
  norms) can never serve silently, and a transient Spark failure
  never strands the index non-current. Append hyperparameters come
  from the manifest, never the caller.
- compact: appended postings/codes/norms accrete one file set per
  batch (the streaming maintenance path: one per micro-batch);
  ``compact_index`` rewrites them to size-targeted files under the
  same claim + invalidate-then-recommit protocol, preserving
  ``applied_batches`` — content-neutral by construction (the
  registered compaction query shares the append oracle to prove it).
- retrain trigger: the manifest carries ``base_rows`` (recorded at
  build) and ``appended_rows`` (accumulated by appends);
  ``needs_retrain`` operationalizes the measured append-drift trade
  (RECALL_SCALE.json: PQ ~0.91 appended vs ~0.96 full-retrain) — a
  scheduler polls it and rebuilds when the appended fraction passes
  its budget, which resets the counters.
- search: the same serve plans as the end-to-end operators, reading
  the persisted frames, with structural hyperparameters (PQ subspace
  layout) read FROM THE MANIFEST — a caller-supplied mismatched ``m``
  raises instead of silently searching wrong subspace joins (r9,
  VERDICT r8 "what's wrong" #2). Every build quantity is
  deterministic, so a reloaded index is bit-identical to a fresh
  build and the registered index-search queries share the end-to-end
  queries' oracles.

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

from pyspark.sql import DataFrame, SparkSession

from bigdatafinalproject_spark.operators.ann import (
    ivf_build_frames,
    ivf_search_frames,
    pq_build_frames,
    pq_search_frames,
    rerank_pool_for_index,
)
from bigdatafinalproject_spark.operators.txlog import (
    CLAIM_MODE_ENV as _CLAIM_MODE_ENV,
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
    import threading

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
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        panel_from_parquet,
    )

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
        import pyarrow.parquet as papq

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


def _commit(
    index_dir: str,
    kind: str,
    fingerprint: str,
    tables: list[str],
    src: str | None = None,
    params: dict | None = None,
    applied_batches: list | None = None,
    mver: int = 0,
    base_rows: int | None = None,
    appended_rows: int = 0,
    cell_sizes=None,
    units: dict[str, list[str]] | None = None,
    batches: dict | None = None,
    retracted: list | None = None,
) -> None:
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
        "kind": kind,
        "fingerprint": fingerprint,
        "tables": tables,
        "src": src,
        "params": params or {},
        # type-stable sort key (r14, ADVICE r13 #3): new appends write
        # int ids only (_norm_batch_id), but a legacy manifest can
        # still carry str ids — a plain sorted() over the mix raises
        # TypeError HERE, at commit time, after adoption
        "applied_batches": sorted(
            applied_batches or [], key=lambda b: (isinstance(b, str), b)
        ),
        "mver": mver,
        "base_rows": base_rows,
        "appended_rows": appended_rows,
    }
    snap = _snap_pairs(cell_sizes)
    if snap is not None:
        # the folded serve-time snapshot of the cell_sizes log (r12);
        # OMITTED (not null) when absent so legacy readers see the
        # exact pre-r12 schema
        payload["cell_sizes"] = snap
    if units is not None:
        # v6: the manifest-referenced storage map — per table, the
        # unit dirs whose files ARE the table. Sorted per table so
        # recommits of identical content are byte-identical.
        payload["units"] = {t: sorted(us) for t, us in units.items()}
    if batches is not None:
        # r13: per-batch provenance — which units (and row/cell-size
        # deltas) each applied batch contributed. What makes
        # retract_batch an O(1) metadata operation; compaction folds
        # batches into the base and CLEARS this map (retract-before-
        # compact, or rebuild).
        payload["batches"] = {k: batches[k] for k in sorted(batches)}
    if retracted is not None:
        payload["retracted"] = sorted(retracted)
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
    import threading

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
    import threading

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
    """Create the staging dir for one append txn (v5.1, r11 review
    #3): every Spark job of an append — the delta data write AND the
    partial cell-count derivation — runs into this dir BEFORE the
    manifest invalidate, while the claim is still released-on-failure
    and the serving index is untouched. The invalidated window then
    contains only same-FS file renames (:func:`_adopt_staged`), so a
    transient Spark/executor failure can never strand the index
    non-current (v5 ran the sizes job post-invalidate; v4 ran the
    data append itself there). Stale stages from writers that died
    pre-invalidate are swept here — safe because claims serialize
    writers, so any existing stage belongs to a dead txn. The .tmp.
    infix keeps stages inside clone_index's ignore patterns."""
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
    return stage


def _adopt_staged(
    stage: str, index_dir: str, tables: list[str], mver: int
) -> dict[str, str]:
    """Adopt a staged append as manifest-referenced batch units (v6):
    ONE same-FS directory rename per table, from ``stage/<t>`` to
    ``<t>/b<mver>.<pid>``. The renamed units are INVISIBLE until the
    recommit publishes them in the manifest's ``units`` map — so this
    is non-destructive, runs with the serving manifest intact, and a
    zombie writer racing here lands its renames in a unit no manifest
    will ever reference (dead namespace — the fenced-storage closure
    of the r12 check→first-rename residual). An existing target can
    only be this writer's own dead leftover (unit names carry pid +
    slot; slots are CAS-exclusive per liveness) and is cleared first.
    Returns {table: unit_name} for the tables actually staged."""
    unit = _unit_name(mver)
    adopted: dict[str, str] = {}
    for t in tables:
        # ``tables`` is exactly what the caller staged — a missing
        # source dir means a contender's rename-aside sweep won the
        # race, and the os.rename's FileNotFoundError is the loud
        # pre-commit abort (silently skipping would commit the batch
        # as applied with ZERO files, the r11 lost-redelivery shape)
        _adopt_dir_as_unit(index_dir, os.path.join(stage, t), t, unit)
        adopted[t] = unit
    shutil.rmtree(stage, ignore_errors=True)
    return adopted


def _adopt_dir_as_unit(
    index_dir: str, src: str, table: str, unit: str
) -> None:
    """THE one adopt primitive (r13 review #6 — the append and
    compaction paths each inlined it, so a protocol fix could land on
    one and silently miss the other): rename a finished directory into
    ``<table>/<unit>``. An existing target can only be this writer's
    own dead leftover (unit names carry pid+tid+slot; slots are
    CAS-exclusive per liveness) and is cleared first."""
    dst_parent = os.path.join(index_dir, table)
    os.makedirs(dst_parent, exist_ok=True)
    dst = os.path.join(dst_parent, unit)
    if os.path.isdir(dst):
        shutil.rmtree(dst, ignore_errors=True)
    os.rename(src, dst)


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
    """The adopt → recommit → prune → GC tail every ``*_index_append``
    shares (r11 review #4: the protocol skeleton was copy-pasted four
    times; a protocol fix must land once). v6 (r13): adoption is ONE
    rename per table into a manifest-referenced unit dir and the
    serving manifest is NEVER invalidated — the recommit's
    ``os.replace`` is the single atomic visibility flip, so the index
    serves throughout the append and EVERY failure below is a
    pre-commit abort that releases the claim and leaves the index
    current (pre-v6, a mid-adopt failure left a non-current index
    whose only remedy was a rebuild).

    Zombie-writer guard (r11 review #1): a writer whose LEASE lapsed
    while it was paused between staging and this call has had its
    stage swept by the contender that judged it dead — adopting
    nothing and recommitting would record the batch as applied with
    ZERO data files (silently unrecoverable: redelivery is skipped
    forever). The fence check (r12) aborts a zombie whose stage was
    NOT yet swept before it renames anything; and a zombie that slips
    BOTH checks (the r12 check→first-rename residual) now merely
    renames into a unit dir no manifest will ever reference — its
    recommit is fenced by the ``>=`` mver compare and the dead unit
    is GC'd by the next committer. A sweep racing mid-adopt surfaces
    as FileNotFoundError from a vanished stage table and aborts
    pre-commit (the v5.1 staged-vs-adopted count compare existed to
    catch this POST-invalidate; with no invalidate it degrades to a
    clean retry).

    ``sizes_delta`` (r12): the batch's per-cell partial counts; folded
    into the manifest's ``cell_sizes`` snapshot at recommit (only when
    the manifest already carries one — legacy indexes keep the log
    fold) so serves read ≤C manifest rows instead of folding the
    parquet log per search (VERDICT r11 #1)."""
    if not os.path.isdir(stage):
        _end_claim(index_dir, mver, release=True)  # stop the renewer
        raise ConcurrentWriteError(
            f"append stage for mver {mver} at {index_dir!r} was swept: "
            f"this writer's lease lapsed while paused and a contender "
            f"took over — retry the batch"
        )
    try:
        # a transient fence-read failure (EMFILE/EIO) aborts too —
        # proceeding unfenced is the fail-open hole (r12 review pass 2
        # #5); the abort is pre-invalidate, so retry is safe
        _check_fence(index_dir, mver)
        # manifest-snapshot re-check (r12 review pass 2 #2): between
        # this writer's claim and this point, an interleaved lapsed-
        # lease writer can have COMMITTED (both-alive lease reality) —
        # recommitting from OUR older snapshot would drop its
        # applied_batches entry (the r8 lost-update shape, surviving
        # the >= recommit fence because our slot number is higher).
        # Abort pre-invalidate; the retry re-reads and the redelivered
        # batch idempotence does the rest.
        cur = _manifest(index_dir)
        if cur is None or int(cur.get("mver", 0)) != int(meta.get("mver", 0)):
            raise ConcurrentWriteError(
                f"manifest at {index_dir!r} advanced from snapshot mver "
                f"{meta.get('mver', 0)} to "
                f"{cur.get('mver') if cur else None} since this writer's "
                f"claim (an interleaved writer committed) — retry the "
                f"batch"
            )
    except (ConcurrentWriteError, OSError):
        # pre-commit abort: the slot was never consumed, so release
        # it (and our stage — the contender sweeps it anyway)
        _end_claim(index_dir, mver, release=True)
        shutil.rmtree(stage, ignore_errors=True)
        raise
    # adopt as uncommitted units — the serving manifest stays intact
    # (v6: no invalidate). Every failure here aborts pre-commit: the
    # slot is released, any adopted unit is unreferenced garbage, and
    # the index keeps serving its committed snapshot.
    try:
        adopted = _adopt_staged(stage, index_dir, tables, mver)
    except OSError as e:
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
                f"append at {index_dir!r} lost its stage mid-adopt "
                f"(swept by a contender) — index untouched; retry the "
                f"batch"
            ) from None
        # a REAL I/O failure (ENOSPC/EACCES/EIO): propagate the errno
        # undisguised — the index still serves its committed snapshot
        raise
    applied = list(meta.get("applied_batches", []))
    snap = meta.get("cell_sizes")
    if snap is not None and sizes_delta is not None:
        folded = {int(c): int(n) for c, n in snap}
        for c, n in sizes_delta.items():
            folded[int(c)] = folded.get(int(c), 0) + int(n)
        snap = folded
    units = {t: list(us) for t, us in (meta.get("units") or {}).items()}
    for t, u in adopted.items():
        units.setdefault(t, []).append(u)
    # per-batch provenance (r13): the units, row delta and cell-size
    # delta this batch contributed — retract_batch reverses exactly
    # these at O(manifest) cost
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
    batches = dict(meta.get("batches") or {})
    # O(1) manifest per batch (r14, VERDICT r13 #3): the per-cell
    # delta is NOT copied into the provenance entry — the batch's own
    # cell_sizes unit (staged above, adopted here) already holds
    # exactly those pairs, and retract_batch reads them back via
    # _batch_sizes. Measured: the manifest copy grew the per-txn
    # rewrite and per-serve parse ~1.2 kB/batch at C=512
    # (MANIFEST_GROWTH.json), the whole tax of the streaming
    # micro-batch regime.
    bentry: dict = {"units": adopted, "rows": n_delta}
    batches[str(applied_id)] = bentry
    _end_claim(index_dir, mver)  # stop lease renewal before the prune
    try:
        _commit(
            index_dir, meta["kind"], meta["fingerprint"], meta["tables"],
            src=meta.get("src"), params=meta.get("params", {}),
            applied_batches=applied + [applied_id],
            mver=mver, base_rows=meta.get("base_rows"),
            appended_rows=int(meta.get("appended_rows", 0)) + n_delta,
            cell_sizes=snap,
            units=units,
            batches=batches,
            retracted=meta.get("retracted"),
        )
    except BaseException:
        # recommit fenced (an interleaved lapsed-lease contender
        # committed past our snapshot) or a real I/O failure writing
        # the manifest: nothing was published (_commit's os.replace is
        # its last act), so our adopted units were never referenced —
        # remove them, free the slot, and surface the error; the
        # serving index is untouched and the batch retries
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
        _gc_dead_units(index_dir, committed)
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
        import warnings

        warnings.warn(
            f"index at {index_dir!r} has {len(batches)} uncompacted "
            f"batches (>= {warn_n}): serve-side file counts grow per "
            f"batch — schedule compact_index (retract first if any "
            f"batch may need un-ingesting)",
            RuntimeWarning,
            stacklevel=2,
        )
    return index_dir


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
    footers count at most ``BDFP_SIZES_ARROW_ROWCAP`` rows (default
    4M, env-tunable for scale runs), the cell-id column is read and
    value-counted driver-side with pyarrow (one int64 column of a
    batch the driver just wrote; exact integer counts, engine-
    independent). Larger batches keep the Spark aggregate — the cap
    makes the fast path scale-safe, not a driver hazard. ``pred``
    accepts the equality tuple ``(col, value)`` so both paths can
    apply it (the only caller shape: ivfpq's one-row-per-vector
    ``s == 0``)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    from pyspark.sql import functions as F

    rowcap = int(os.environ.get("BDFP_SIZES_ARROW_ROWCAP", "4000000"))
    out: dict[int, int] = {}
    if delta_files:
        staged_rows = sum(
            papq.ParquetFile(f).metadata.num_rows for f in delta_files
        )
        if staged_rows <= rowcap:
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
    from pyspark.sql import functions as F

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


def _footer_rows(
    spark: SparkSession, path: str | list[str]
) -> int:
    """Row count from parquet FOOTERS — how the maintenance paths
    measure appended rows without an extra pass over the delta (r9
    review follow-up: delta.count() was a full Spark job per
    micro-batch). r15 (optimization guide §1.2/§2.6 follow-through):
    the footers are read DRIVER-SIDE with pyarrow instead of a Spark
    count(*) job — the count job was metadata-pruned but still paid a
    full job submit/schedule round per micro-batch append (profiled:
    ~12 jobs per append, most 20-100 ms of pure scheduling). Footer
    num_rows is the same ground truth Spark's pruned count reads.
    ``path`` may be one table dir or a list of unit dirs. A missing
    dir counts 0; any OTHER failure PROPAGATES (r9 review #3:
    coercing a transient read error to 0 would commit a negative or
    wildly inflated appended_rows and silently wedge needs_retrain)."""
    import pyarrow.parquet as papq

    dirs = [path] if isinstance(path, str) else list(path)
    total = 0
    for d in dirs:
        if not os.path.isdir(d):
            continue
        for f in _parquet_files(d):
            total += papq.ParquetFile(f).metadata.num_rows
    return total


def ensure_ivf_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fingerprint: str,
    src: str | None = None,
    subset: str | None = None,
    **build_params,
) -> str:
    """Build the IVF index iff absent/stale; returns ``index_dir``."""
    if index_is_current(index_dir, "ivf", fingerprint):
        # current index: opportunistically sweep dead writers'
        # stage litter (ADVICE r11 — see _sweep_dead_stages)
        _sweep_dead_stages(index_dir)
        return index_dir
    tmp = _build_into_tmp(index_dir)
    try:
        centroids, postings = ivf_build_frames(corpus, **build_params)
        # the two table writes are independent jobs (trained centroids
        # are barriered in ivf_centroids, so the postings job reuses
        # the materialized frame instead of re-running Lloyd) —
        # overlap them (r14, _run_concurrent). Unit paths resolve in
        # THIS thread: _unit_name embeds the thread id, so a path
        # computed inside a sibling thread would name a different unit
        # than the manifest records.
        cent_u = _build_unit(tmp, "centroids")
        post_u = _build_unit(tmp, "postings")
        csz_u = _build_unit(tmp, "cell_sizes")
        _run_concurrent([
            lambda: centroids.write.mode("overwrite").parquet(cent_u),
            lambda: postings.write.mode("overwrite").parquet(post_u),
        ])
        # base_rows from the just-written postings' parquet FOOTERS
        # (row count / postings-per-vector), never an extra corpus
        # scan (r9 review #7: a redundant full pass per retrain at
        # 100 TB). _nearest_centroids emits min(multi, |centroids|)
        # postings per vector — dividing by bare multi undercounts the
        # base on an index with fewer cells than multi_assign, which
        # inflates the appended fraction and fires needs_retrain early
        # (ADVICE r9; same accounting as ivf_index_append)
        multi = int(_effective_params("ivf", build_params, None)["multi_assign"])
        # persisted cell sizes (v4, mirroring the v3 ivfpq table):
        # posting rows per cell, computed ONCE at build from the
        # just-written postings and maintained by appends — the
        # mass-budgeted probe reads this C-row table instead of
        # re-scanning the postings relation on every search. r15: the
        # two row counts come from the written units' parquet FOOTERS
        # (driver-side pyarrow, zero jobs — _footer_rows), so the
        # cell-size aggregate is the only remaining Spark job here,
        # and the C-row snapshot is read back driver-side too.
        csz_snap = _append_sizes(
            spark, csz_u, _parquet_files(post_u), "centroid_id"
        )
        n_cent = _footer_rows(spark, cent_u)
        n_post = _footer_rows(spark, post_u)
        per_vec = max(1, min(multi, n_cent))
        _commit(
            tmp, "ivf", fingerprint,
            ["centroids", "postings", "cell_sizes"],
            src=src,
            params=_effective_params("ivf", build_params, subset),
            base_rows=n_post // per_vec,
            # folded serve-time snapshot (r12): the ≤C-row counts of
            # the table just written (returned by _append_sizes, same
            # content as the persisted file) — serves then read the
            # manifest instead of folding the parquet log per search
            cell_sizes=csz_snap,
            units=_build_units(["centroids", "postings", "cell_sizes"]),
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)  # no abandoned tmp dirs
        raise
    out = _install_build(tmp, index_dir, "ivf", fingerprint)
    _gc_superseded(out, "ivf", src, subset)
    return out


def ivf_index_append(
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> str:
    """Incremental IVF index maintenance: assign a DELTA batch to the
    FROZEN persisted centroids (multi-assignment read from the
    manifest, never the caller) and append its postings — no retrain,
    no base re-assignment. Writers serialize through the ``_applog``
    CAS (:func:`_claim_writer`); the delta is STAGED pre-invalidate
    and adopted by pure renames (v5.1), so a crash mid-adopt leaves a
    non-current index that is rebuilt, never served incomplete.
    Documented drift trade: centroids reflect the base distribution —
    :func:`needs_retrain` watches the appended fraction."""
    from bigdatafinalproject_spark.operators.ann import _nearest_centroids

    txn = _writer_txn(index_dir, batch_id, "append")
    if txn is None:
        return index_dir  # redelivered batch: idempotent skip
    meta, mver = txn
    # a failure in the claim→invalidate window (a transient Spark
    # error in the centroid read / footer counts) must RELEASE the
    # claim: the manifest was never invalidated, so the slot was never
    # consumed — without the release, every later writer in this
    # process waits the full _WRITER_WAIT_S against our own live
    # claim and the index is wedged for the process lifetime
    # (ADVICE r9). Failures AFTER the invalidate keep the claim: the
    # index is genuinely non-current then and rebuild is the remedy.
    stage = None
    try:
        multi = int(meta.get("params", {}).get("multi_assign", 1))
        # r15: the frozen centroid panel is read driver-side, so the
        # per-micro-batch panel-collect job disappears
        postings = _nearest_centroids(
            _frozen_panel(index_dir, meta, "centroids"),
            delta, id_col, vec_col, multi, "neighbor_id",
        )
        track_sizes = "cell_sizes" in meta.get("tables", [])
        # stage EVERY Spark job of this append pre-invalidate (v5.1):
        # the delta postings write into the staging dir, and the v5
        # partial cell-count file derives from the staged files
        # (centroid_id column only — a kB-scale column-pruned read),
        # so the ONLY pass over the delta is the postings write. v4's
        # design checkpointed the assignment and ran a staged
        # full-table merge + directory swap per micro-batch, three
        # extra jobs that made the append 1.5× its pre-v4 cost
        # (VERDICT r10 #2). Readers groupBy-sum the partial-count
        # log; compact_index bounds its file count like any other
        # append target.
        stage = _append_stage(index_dir, mver)
        # r15: the centroid count comes from the persisted table's
        # parquet footers (driver-side pyarrow — it was a per-append
        # Spark job before), so the postings write is the ONLY Spark
        # job of the append. The count feeds per_vec: every vector
        # gets exactly min(multi, |centroids|) postings (the top-n
        # window is candidate-bounded) — using bare multi as the
        # divisor undercounts on a tiny index with fewer cells than
        # multi (r9 review #5)
        n_cent = _footer_rows(
            spark, _unit_paths(index_dir, meta, "centroids")
        )
        postings.write.mode("overwrite").parquet(
            os.path.join(stage, "postings")
        )
        per_vec = max(1, min(multi, n_cent))
        # appended rows from the STAGED footers (metadata-only),
        # divided by the exact per-vector posting count — never an
        # extra pass over the delta frame
        n_delta = _footer_rows(
            spark, os.path.join(stage, "postings")
        ) // per_vec
        sizes_delta = None
        if track_sizes:
            sizes_delta = _append_sizes(
                spark, os.path.join(stage, "cell_sizes"),
                _parquet_files(os.path.join(stage, "postings")),
                "centroid_id",
            )
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        # the staged delta is garbage once the claim is released — at
        # sf10 scale leaving it until the next append's sweep leaks
        # GBs in the shared cache dir (r11 review #3)
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)
        raise
    return _finish_append(
        index_dir, stage,
        ["postings"] + (["cell_sizes"] if track_sizes else []),
        meta, mver, batch_id, n_delta, sizes_delta=sizes_delta,
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
    """Build the PQ index iff absent/stale; returns ``index_dir``.
    Same atomic tmp-build + rename install as ensure_ivf_index."""
    if index_is_current(index_dir, "pq", fingerprint):
        # current index: opportunistically sweep dead writers'
        # stage litter (ADVICE r11 — see _sweep_dead_stages)
        _sweep_dead_stages(index_dir)
        return index_dir
    tmp = _build_into_tmp(index_dir)
    try:
        cb, codes, norms = pq_build_frames(corpus, **build_params)
        # three independent table writes (the trained codebook is
        # barriered in pq_build_frames, so the codes job reuses the
        # materialized frame) — overlap them (r14, _run_concurrent).
        # Unit paths resolve in THIS thread (_unit_name embeds the
        # thread id).
        cb_u = _build_unit(tmp, "codebook")
        codes_u = _build_unit(tmp, "codes")
        norms_u = _build_unit(tmp, "norms")
        _run_concurrent([
            lambda: cb.write.mode("overwrite").parquet(cb_u),
            lambda: codes.write.mode("overwrite").parquet(codes_u),
            lambda: norms.write.mode("overwrite").parquet(norms_u),
        ])
        # base_rows from the just-written norms table (one row per
        # corpus vector) via parquet footers — no extra corpus scan,
        # and (r15) no Spark job either: driver-side footer read
        _commit(
            tmp, "pq", fingerprint, ["codebook", "codes", "norms"],
            src=src,
            params=_effective_params("pq", build_params, subset),
            base_rows=_footer_rows(spark, norms_u),
            units=_build_units(["codebook", "codes", "norms"]),
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    out = _install_build(tmp, index_dir, "pq", fingerprint)
    _gc_superseded(out, "pq", src, subset)
    return out


def pq_index_append(
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> str:
    """Incremental PQ index maintenance: encode a DELTA batch against
    the FROZEN persisted codebook (m/dim read from the manifest, never
    the caller — a mismatched subspace layout cannot silently corrupt
    the encoding) and append its codes + exact norms. Writers
    serialize through the ``_applog`` CAS (:func:`_claim_writer` — two
    concurrent appenders cannot lose each other's ``applied_batches``
    entry, VERDICT r8 #1). Both tables are STAGED pre-invalidate and
    adopted by pure renames (v5.1) — a crash mid-adopt leaves a
    non-current index (rebuilt, never served with codes-but-no-norms,
    which the ADC inner join would otherwise silently drop). Drift
    trade as in :func:`ivf_index_append`."""
    from pyspark.sql import functions as F

    txn = _writer_txn(index_dir, batch_id, "append")
    if txn is None:
        return index_dir  # redelivered batch: idempotent skip
    meta, mver = txn
    # claim→invalidate failures release the claim (slot never
    # consumed; see ivf_index_append — ADVICE r9)
    stage = None
    try:
        params = meta.get("params", {})
        m = int(params.get("m", 8))
        dim = int(params.get("dim", 64))
        # encode the delta with THE SAME definition pq_build_frames
        # uses (shared helper — build and append cannot diverge).
        # r15: the frozen codebook panel is read driver-side,
        # dropping the per-micro-batch collect job
        from bigdatafinalproject_spark.operators.arrow_kernels import (
            encode_codebook_arrow,
        )

        dcodes = encode_codebook_arrow(
            delta.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
            ),
            _frozen_panel(index_dir, meta, "codebook"),
            m, dim, ["neighbor_id"],
        )
        from bigdatafinalproject_spark.operators.arrow_kernels import (
            norms_arrow,
        )

        dnorms = norms_arrow(
            delta.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            "neighbor_id", vec_col, "_cnorm",
        )
        # stage every Spark job pre-invalidate (v5.1, see the ivf
        # twin): the invalidated window below is pure renames; the two
        # staged tables are independent jobs — overlap them (r14)
        stage = _append_stage(index_dir, mver)
        _run_concurrent([
            lambda: dcodes.write.mode("overwrite").parquet(
                os.path.join(stage, "codes")
            ),
            lambda: dnorms.write.mode("overwrite").parquet(
                os.path.join(stage, "norms")
            ),
        ])
        # appended rows from the STAGED norms footers (one row per
        # appended vector, metadata-only) — never an extra pass
        n_delta = _footer_rows(spark, os.path.join(stage, "norms"))
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)
        raise
    return _finish_append(
        index_dir, stage, ["codes", "norms"], meta, mver, batch_id, n_delta
    )


def compact_index(
    spark: SparkSession,
    index_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict[str, tuple[int, int]]:
    """OPTIMIZE for the maintained index: rewrite the append-target
    tables (IVF postings / PQ codes+norms — one parquet file set per
    applied batch, one per MICRO-batch on the streaming path) into
    ~``target_bytes`` files, reusing operators/layout.compact's
    metadata-only sizing. A long-maintained index otherwise degrades
    scan-side (VERDICT r8 residual #1).

    Same writer protocol as the appends: CAS-claim the next ``mver``
    slot (a compaction and an append can never interleave), rewrite
    the live units ASIDE, adopt the rewrite as ONE new unit per table
    (v6 — uncommitted units are invisible), and re-commit a manifest
    whose ``units`` map references ONLY the new unit, with
    ``applied_batches`` — and the row counters — PRESERVED. The
    serving manifest is never invalidated: a crash ANYWHERE leaves
    the index current and serving the pre-compaction snapshot (the
    orphan rewrite is GC'd later). Content-neutral by construction:
    rewrite-only, no dedup — the registered compaction query shares
    the append oracle to prove the served results are bit-identical.

    Reader isolation (v6): a search planned against the
    pre-compaction manifest keeps its files until the post-commit
    _gc_dead_units sweep removes the superseded units — snapshot
    isolation up to that sweep, the WAP pointer-layout behavior the
    pre-v6 directory swap could not offer (it failed in-flight scans
    the moment the swap landed).

    Returns {table: (files_before, files_after)}.
    """
    from bigdatafinalproject_spark.operators.layout import compact

    # kind-check BEFORE claiming (ADVICE r9): raising unknown-kind
    # after the claim would abandon the slot and wedge later writers;
    # the post-claim re-check below covers the (theoretical) window
    # where the manifest changes kind between this read and the claim
    pre = _manifest(index_dir)
    if pre is not None and pre.get("kind") not in _APPEND_TABLES:
        raise ValueError(
            f"compact_index: unknown index kind {pre.get('kind')!r}"
        )
    txn = _writer_txn(index_dir, None, "compact")
    meta, mver = txn
    # claim→invalidate failures release the claim (the compaction
    # rewrites below are full Spark jobs and the serving copy is
    # untouched until the invalidate; see ivf_index_append — ADVICE r9)
    try:
        tables = _APPEND_TABLES.get(meta.get("kind"), ())
        if not tables:
            raise ValueError(
                f"compact_index: unknown index kind {meta.get('kind')!r}"
            )
        # sweep tmp leftovers from a compaction that died pre-commit
        # (its units were never referenced, so these are pure garbage)
        # — by RENAME-THEN-DELETE (r13 review #1): a raw rmtree here
        # races a paused-past-lease compactor that already passed its
        # pre-adopt checks and is about to rename this very tmp into a
        # unit dir; rmtree's fd traversal would keep deleting inside
        # the adopted unit, and the zombie's commit would publish a
        # hollowed table (the same race _sweep_stage closes for
        # stages). With rename-aside, exactly one of sweep/adopt wins
        # its rename; the zombie's loss is a clean FileNotFoundError
        # abort.
        for n in os.listdir(index_dir):
            if ".compact." in n:
                _sweep_stage(index_dir, n)
        stats: dict[str, tuple[int, int]] = {}
        tmps: dict[str, str] = {}
        plan: list[tuple[str, list[str], int, str]] = []
        for t in tables:
            # rewrite exactly the units the manifest references — a
            # zombie's unreferenced leftovers and a missing legacy
            # table (e.g. pre-r11 dedup without winnow_fps) are both
            # skipped by construction
            srcs = [
                p for p in _unit_paths(index_dir, meta, t)
                if os.path.isdir(p)
            ]
            if not srcs:
                continue
            before = sum(len(_parquet_files(p)) for p in srcs)
            tmp = os.path.join(index_dir, f"{t}.compact.tmp.{os.getpid()}")
            plan.append((t, srcs, before, tmp))
        # per-table rewrites touch disjoint unit dirs and write
        # disjoint tmps — independent jobs, overlapped (r14 §2.6)
        afters = _run_concurrent([
            (lambda s=srcs, d=tmp: compact(
                spark, s, d, target_bytes=target_bytes
            ))
            for (_, srcs, _, tmp) in plan
        ])
        for (t, _, before, tmp), after in zip(plan, afters):
            stats[t] = (before, after)
            tmps[t] = tmp
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        raise
    try:
        # fence check before adoption (r12): a paused-past-lease
        # compactor aborts here instead of wasting the rename+commit
        # round trip (its recommit would be fenced anyway — v6 made
        # adoption non-destructive). OSError aborts too (fail closed);
        # the manifest-snapshot re-check mirrors _finish_append's
        _check_fence(index_dir, mver)
        cur = _manifest(index_dir)
        if cur is None or int(cur.get("mver", 0)) != int(meta.get("mver", 0)):
            raise ConcurrentWriteError(
                f"manifest at {index_dir!r} advanced from snapshot mver "
                f"{meta.get('mver', 0)} since this compactor's claim — "
                f"retry"
            )
    except (ConcurrentWriteError, OSError):
        _end_claim(index_dir, mver, release=True)
        for tmp in tmps.values():
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    # adopt the rewrites as uncommitted units (v6: the serving
    # manifest stays intact; failures release the claim and leave the
    # index serving its pre-compaction snapshot)
    unit = _unit_name(mver)
    adopted: dict[str, str] = {}
    try:
        for t, tmp in tmps.items():
            # a vanished tmp (a contender's rename-aside sweep won)
            # surfaces as FileNotFoundError — a clean pre-commit abort
            _adopt_dir_as_unit(index_dir, tmp, t, unit)
            adopted[t] = unit
    except OSError:
        _end_claim(index_dir, mver, release=True)
        for t, u in adopted.items():
            shutil.rmtree(os.path.join(index_dir, t, u), ignore_errors=True)
        for tmp in tmps.values():
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    units = {t: list(us) for t, us in (meta.get("units") or {}).items()}
    for t, u in adopted.items():
        units[t] = [u]  # the rewrite REPLACES the table's unit set
    _end_claim(index_dir, mver)  # stop lease renewal before the prune
    try:
        _commit(
            index_dir, meta["kind"], meta["fingerprint"], meta["tables"],
            src=meta.get("src"), params=meta.get("params"),
            applied_batches=meta.get("applied_batches"),
            mver=mver, base_rows=meta.get("base_rows"),
            appended_rows=int(meta.get("appended_rows", 0)),
            # compaction is rewrite-only: the folded snapshot is
            # invariant
            cell_sizes=meta.get("cell_sizes"),
            units=units,
            # batch identity is folded into the base by the rewrite —
            # per-batch retraction is no longer possible (retract
            # before compacting, or rebuild); the retracted ledger is
            # history and survives
            batches={},
            retracted=meta.get("retracted"),
        )
    except BaseException:
        # nothing published (see the append twin): drop the adopted
        # rewrite and free the slot — the index keeps serving its
        # pre-compaction snapshot
        _release_adopted(index_dir, adopted, mver)
        raise
    prune(os.path.join(index_dir, _APPLOG), keep_from=mver)  # see append twin
    _prune_fence(index_dir, mver)
    committed = _manifest(index_dir)
    if committed is not None:
        # the superseded pre-compaction units die here — the one
        # reader-visible boundary (see docstring: snapshot isolation
        # holds up to this sweep)
        _gc_dead_units(index_dir, committed)
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

    Same writer protocol as ``compact_index`` (CAS claim, fence check,
    adopt-then-recommit; the serving manifest is never invalidated —
    a crash anywhere leaves the index current, serving the pre-pass
    snapshot, and the orphan rewrite is GC'd later).

    Returns {"tables": {table: (files_merged, files_after)},
    "folded": [batch ids folded], "kept": [batch ids still
    retractable]} — empty "tables" when nothing needed merging (the
    claim is released, no commit happens).
    """
    from bigdatafinalproject_spark.operators.layout import compact

    pre = _manifest(index_dir)
    if pre is not None and pre.get("kind") not in _APPEND_TABLES:
        raise ValueError(
            f"minor_compact_index: unknown index kind {pre.get('kind')!r}"
        )
    if keep_recent < 0:
        raise ValueError("minor_compact_index: keep_recent must be >= 0")
    txn = _writer_txn(index_dir, None, "minor_compact")
    meta, mver = txn
    try:
        tables = _APPEND_TABLES.get(meta.get("kind"), ())
        if not tables:
            raise ValueError(
                f"minor_compact_index: unknown index kind "
                f"{meta.get('kind')!r}"
            )
        for n in os.listdir(index_dir):
            if ".minorc." in n:
                _sweep_stage(index_dir, n)
        batches = dict(meta.get("batches") or {})
        # tier split at BATCH granularity: the keep_recent highest ids
        # stay retractable; older provenance folds into the base tier
        ids = sorted(int(k) for k in batches)
        kept_ids = ids[len(ids) - keep_recent:] if keep_recent else []
        fold_ids = [i for i in ids if i not in kept_ids]
        protected: dict[str, set] = {t: set() for t in tables}
        for i in kept_ids:
            for t, u in (batches[str(i)].get("units") or {}).items():
                protected.setdefault(t, set()).add(u)
        stats: dict[str, tuple[int, int]] = {}
        tmps: dict[str, str] = {}
        merged: dict[str, list[str]] = {}
        plan: list[tuple[str, list[str], int, str]] = []
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
            if len(srcs) < 2:
                continue
            before = sum(len(_parquet_files(p)) for p in srcs)
            tmp = os.path.join(index_dir, f"{t}.minorc.tmp.{os.getpid()}")
            plan.append((t, srcs, before, tmp))
        # per-table merges touch disjoint unit dirs and write disjoint
        # tmps — independent jobs, overlapped (r14 §2.6)
        afters = _run_concurrent([
            (lambda s=srcs, d=tmp: compact(
                spark, s, d, target_bytes=target_bytes
            ))
            for (_, srcs, _, tmp) in plan
        ])
        for (t, srcs, before, tmp), after in zip(plan, afters):
            stats[t] = (before, after)
            tmps[t] = tmp
            merged[t] = [os.path.basename(p) for p in srcs]
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        raise
    if not tmps:
        # nothing to merge (fresh index, or only base + recent units):
        # release the slot without a commit — provenance keeps its
        # retractability for free
        _end_claim(index_dir, mver, release=True)
        return {"tables": {}, "folded": [], "kept": kept_ids}
    try:
        _check_fence(index_dir, mver)
        cur = _manifest(index_dir)
        if cur is None or int(cur.get("mver", 0)) != int(meta.get("mver", 0)):
            raise ConcurrentWriteError(
                f"manifest at {index_dir!r} advanced from snapshot mver "
                f"{meta.get('mver', 0)} since this minor compactor's "
                f"claim — retry"
            )
    except (ConcurrentWriteError, OSError):
        _end_claim(index_dir, mver, release=True)
        for tmp in tmps.values():
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    unit = _unit_name(mver)
    adopted: dict[str, str] = {}
    try:
        for t, tmp in tmps.items():
            _adopt_dir_as_unit(index_dir, tmp, t, unit)
            adopted[t] = unit
    except OSError:
        _end_claim(index_dir, mver, release=True)
        for t, u in adopted.items():
            shutil.rmtree(os.path.join(index_dir, t, u), ignore_errors=True)
        for tmp in tmps.values():
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    units = {t: list(us) for t, us in (meta.get("units") or {}).items()}
    for t, u in adopted.items():
        # the merged unit REPLACES exactly its sources; base tier and
        # recent-batch units keep their positions
        units[t] = [x for x in units[t] if x not in merged.get(t, ())] + [u]
    # fold the aged-out provenance (ids stay in applied_batches)
    for i in fold_ids:
        batches.pop(str(i), None)
    _end_claim(index_dir, mver)  # stop lease renewal before the prune
    try:
        _commit(
            index_dir, meta["kind"], meta["fingerprint"], meta["tables"],
            src=meta.get("src"), params=meta.get("params"),
            applied_batches=meta.get("applied_batches"),
            mver=mver, base_rows=meta.get("base_rows"),
            appended_rows=int(meta.get("appended_rows", 0)),
            # rewrite-only: the folded snapshot is invariant
            cell_sizes=meta.get("cell_sizes"),
            units=units,
            batches=batches,
            retracted=meta.get("retracted"),
        )
    except BaseException:
        _release_adopted(index_dir, adopted, mver)
        raise
    prune(os.path.join(index_dir, _APPLOG), keep_from=mver)
    _prune_fence(index_dir, mver)
    committed = _manifest(index_dir)
    if committed is not None:
        # the merged source units die here (same reader-visible
        # boundary as compact_index; the GC grace window applies)
        _gc_dead_units(index_dir, committed)
    return {"tables": stats, "folded": fold_ids, "kept": kept_ids}


def retract_batch(index_dir: str, batch_id) -> str:
    """UN-INGEST an applied batch — the v6 payoff operator (r13): with
    manifest-referenced batch units, removing a batch is an O(manifest)
    METADATA operation, not a data rewrite. Production shapes: a crawl
    batch found poisoned/contaminated after ingestion, a licensing or
    right-to-be-forgotten takedown of one provider's delivery, a bad
    upstream re-run — at 100 TB none of these can afford rewriting the
    index, and under the pre-v6 flat layout (batch files interleaved
    in one directory, counted into one snapshot) retraction WAS a
    rewrite.

    Semantics: exactly "as if the batch was never appended".

    - the batch's unit dirs leave the ``units`` map (readers never see
      them again; the post-commit GC removes the dirs);
    - ``appended_rows`` drops by the batch's recorded row delta, so
      the retrain trigger and the drift-aware serve policies
      (schedule clamp, rerank-pool widening) compute exactly what a
      never-appended index would;
    - the ``cell_sizes`` snapshot subtracts the batch's recorded
      per-cell partials (zero-count cells drop, matching the fold of
      the log that just lost the batch's partial-count unit);
    - dedup kinds are exact by construction: appends store each
      batch's DISTINCT rows without cross-batch dedup, so a digest
      re-crawled by another batch keeps that batch's copy — removing
      batch A's units is precisely "A never ingested";
    - ``applied_batches`` KEEPS the id: retraction means "remove and
      do not re-ingest", so a checkpoint redelivery of the retracted
      batch stays an idempotent skip (re-ingesting the same content
      under a NEW batch id is the caller's explicit act); the id is
      also recorded in the ``retracted`` ledger.

    Serialized through the same writer claim + fence as appends and
    compactions. Determinism makes the result BIT-IDENTICAL to an
    index that never saw the batch, so the registered retract queries
    share the append oracles (the retraction theorem). Raises
    ``ValueError`` for a batch without provenance — never appended,
    already retracted, appended by a pre-r13 writer, or folded into
    the base by a compaction (``batches`` is cleared there: retract
    before compacting, or rebuild)."""
    if batch_id is None:
        raise TypeError("retract_batch requires an explicit batch_id")
    batch_id = _norm_batch_id(batch_id)  # int/str "3" name ONE batch
    txn = _writer_txn(index_dir, None, "retract")
    meta, mver = txn
    bkey = str(batch_id)
    try:
        batches = dict(meta.get("batches") or {})
        if bkey not in batches:
            raise ValueError(
                f"batch {batch_id!r} has no provenance at {index_dir!r} "
                f"(never appended, already retracted, or compacted into "
                f"the base) — nothing to retract"
            )
        # same pre-commit guards as _finish_append: a paused-past-
        # lease retractor must not commit from a stale snapshot
        _check_fence(index_dir, mver)
        cur = _manifest(index_dir)
        if cur is None or int(cur.get("mver", 0)) != int(meta.get("mver", 0)):
            raise ConcurrentWriteError(
                f"manifest at {index_dir!r} advanced from snapshot mver "
                f"{meta.get('mver', 0)} since this retractor's claim — "
                f"retry"
            )
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        raise
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
            # track sizes, but fail soft): drop the snapshot — readers
            # fold the log, which just lost the batch's unit
            snap = None
    retracted = list(meta.get("retracted") or [])
    if bkey not in retracted:
        retracted.append(bkey)
    _end_claim(index_dir, mver)  # stop lease renewal before the prune
    try:
        _commit(
            index_dir, meta["kind"], meta["fingerprint"], meta["tables"],
            src=meta.get("src"), params=meta.get("params", {}),
            applied_batches=meta.get("applied_batches"),
            mver=mver, base_rows=meta.get("base_rows"),
            appended_rows=(
                int(meta.get("appended_rows", 0))
                - int(entry.get("rows", 0))
            ),
            cell_sizes=snap,
            units=units,
            batches=batches,
            retracted=retracted,
        )
    except BaseException:
        # nothing published; free the slot (no units were touched —
        # retraction's only data action is the post-commit GC).
        # Ownership-verified (r14, ADVICE r13 #2) like _release_adopted
        _remove_own_claim(index_dir, mver)
        raise
    prune(os.path.join(index_dir, _APPLOG), keep_from=mver)
    _prune_fence(index_dir, mver)
    committed = _manifest(index_dir)
    if committed is not None:
        # the retracted batch's unit dirs die here — the single
        # physical action of a retraction
        _gc_dead_units(index_dir, committed)
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
    import threading

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
                    _APPLOG, "_fence*", "*.compact.*", "*.tmp.*",
                    "*.clone.*"
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
    from bigdatafinalproject_spark.operators.ann import mass_schedule_for_n

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


def ensure_ivfpq_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fingerprint: str,
    src: str | None = None,
    subset: str | None = None,
    **build_params,
) -> str:
    """Build the composed IVF+PQ index iff absent/stale — four frames
    (centroids, codebook, codes, norms; codes carry the cell id, so no
    separate postings table) under the same atomic tmp-build + rename
    install as the other kinds. Returns ``index_dir``."""
    from bigdatafinalproject_spark.operators.ann import ivfpq_build_frames

    if index_is_current(index_dir, "ivfpq", fingerprint):
        # current index: opportunistically sweep dead writers'
        # stage litter (ADVICE r11 — see _sweep_dead_stages)
        _sweep_dead_stages(index_dir)
        return index_dir
    tmp = _build_into_tmp(index_dir)
    try:
        centroids, cb, codes, norms = ivfpq_build_frames(
            corpus, **build_params
        )
        # four independent table writes (centroids, codebook and the
        # assignment pass are barriered inside ivfpq_build_frames, so
        # no job re-runs a training loop) — overlap them (r14,
        # _run_concurrent). Unit paths resolve in THIS thread
        # (_unit_name embeds the thread id).
        cent_u = _build_unit(tmp, "centroids")
        cb_u = _build_unit(tmp, "codebook")
        codes_u = _build_unit(tmp, "codes")
        norms_u = _build_unit(tmp, "norms")
        csz_u = _build_unit(tmp, "cell_sizes")
        _run_concurrent([
            lambda: centroids.write.mode("overwrite").parquet(cent_u),
            lambda: cb.write.mode("overwrite").parquet(cb_u),
            lambda: codes.write.mode("overwrite").parquet(codes_u),
            lambda: norms.write.mode("overwrite").parquet(norms_u),
        ])
        # persisted cell sizes (v3, r10 review #2): posting rows per
        # cell, computed ONCE at build from the just-written codes (a
        # 2-column scan, s = 0 restricting to one row per assignment)
        # and maintained by appends — the mass-budgeted probe reads
        # this C-row table instead of re-scanning the index's largest
        # relation on every search. r15: bounded builds count driver-
        # side (_append_sizes pyarrow path) and the norms row count
        # comes from footers — zero extra Spark jobs here.
        csz_snap = _append_sizes(
            spark, csz_u, _parquet_files(codes_u),
            "centroid_id", pred=("s", 0),
        )
        n_base = _footer_rows(spark, norms_u)
        _commit(
            tmp, "ivfpq", fingerprint,
            ["centroids", "codebook", "codes", "norms", "cell_sizes"],
            src=src,
            params=_effective_params("ivfpq", build_params, subset),
            base_rows=n_base,
            # folded serve-time snapshot (r12) — see the ivf twin
            cell_sizes=csz_snap,
            units=_build_units(
                ["centroids", "codebook", "codes", "norms", "cell_sizes"]
            ),
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    out = _install_build(tmp, index_dir, "ivfpq", fingerprint)
    _gc_superseded(out, "ivfpq", src, subset)
    return out


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
    from bigdatafinalproject_spark.operators.ann import (
        ivfpq_search_frames,
        mass_schedule_for_n,
    )

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


def ivfpq_index_append(
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> str:
    """Incremental maintenance of the composed IVFPQ index: assign a
    DELTA batch to the FROZEN persisted centroids (multi-assignment
    from the manifest), encode each assignment's residual against the
    FROZEN persisted codebook (subspace layout from the manifest), and
    append the cell-tagged codes + exact norms. Same writer protocol
    as the other kinds: ``_applog`` CAS claim, invalidate-then-
    recommit, footer-delta row accounting, batch-id idempotence, log
    prune. Drift trade: BOTH quantizers reflect the base distribution
    — :func:`needs_retrain` watches the appended fraction."""
    from pyspark.sql import functions as F

    txn = _writer_txn(index_dir, batch_id, "append")
    if txn is None:
        return index_dir  # redelivered batch: idempotent skip
    meta, mver = txn
    # claim→invalidate failures release the claim (slot never
    # consumed; see ivf_index_append — ADVICE r9)
    stage = None
    try:
        params = meta.get("params", {})
        # fallbacks mirror _BUILD_DEFAULTS["ivfpq"] for legacy
        # manifests; every r9+ manifest records the effective values
        multi = int(params.get("multi_assign", 3))
        m = int(params.get("m", 16))
        dim = int(params.get("dim", 64))
        # r15: frozen quantizer panels read driver-side from their
        # parquet (bit-identical to the collects they replace — no
        # per-micro-batch panel-collect jobs), and the residual is
        # emitted BY the assign kernel (emit_residual: elementwise
        # double subtract, the zip_with residual bit-for-bit — the
        # same mechanism ivfpq_build_frames has used since r14),
        # deleting the delta re-join + the per-batch BroadcastExchange
        # of the centroid table + the interpreted zip_with.
        from bigdatafinalproject_spark.operators.arrow_kernels import (
            encode_codebook_arrow,
            topn_centroids_arrow,
        )
        from bigdatafinalproject_spark.operators.layout import (
            spread_scaled,
        )

        assigned = topn_centroids_arrow(
            spread_scaled(
                delta.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("_v"),
                ),
                "neighbor_id",
            ),
            _frozen_panel(index_dir, meta, "centroids"),
            "neighbor_id", "_v", multi, "neighbor_id",
            emit_residual=True,
        )
        dcodes = encode_codebook_arrow(
            assigned.select(
                "neighbor_id", "centroid_id", F.col("_rv").alias("_v")
            ),
            _frozen_panel(index_dir, meta, "codebook"),
            m, dim, ["neighbor_id", "centroid_id"],
        )
        from bigdatafinalproject_spark.operators.arrow_kernels import (
            norms_arrow,
        )

        dnorms = norms_arrow(
            delta.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            "neighbor_id", vec_col, "_cnorm",
        )
        track_sizes = "cell_sizes" in meta.get("tables", [])
        # stage EVERY Spark job pre-invalidate (v5.1, mirroring the
        # ivf append): codes + norms write into the staging dir; the
        # partial cell-count file derives from the staged codes —
        # s = 0 restricts to one row per (vector, cell) since codes
        # carry m subspace rows per assignment. One pass over the
        # delta, no checkpoint, no staged merge, no directory swap;
        # readers groupBy-sum (VERDICT r10 #2).
        stage = _append_stage(index_dir, mver)
        # codes and norms are independent jobs — overlap them (r14,
        # _run_concurrent); the cell-size partials derive from the
        # staged codes files, so they stay after the join point
        _run_concurrent([
            lambda: dcodes.write.mode("overwrite").parquet(
                os.path.join(stage, "codes")
            ),
            lambda: dnorms.write.mode("overwrite").parquet(
                os.path.join(stage, "norms")
            ),
        ])
        n_delta = _footer_rows(spark, os.path.join(stage, "norms"))
        sizes_delta = None
        if track_sizes:
            sizes_delta = _append_sizes(
                spark, os.path.join(stage, "cell_sizes"),
                _parquet_files(os.path.join(stage, "codes")),
                "centroid_id", pred=("s", 0),
            )
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)
        raise
    return _finish_append(
        index_dir, stage,
        ["codes", "norms"] + (["cell_sizes"] if track_sizes else []),
        meta, mver, batch_id, n_delta, sizes_delta=sizes_delta,
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
    """Build the persisted DEDUP index iff absent/stale — the index
    lifecycle machinery (manifest-committed build, fingerprint
    invalidation, CAS-serialized maintenance writers, compaction)
    applied to the dedup family's production shape: a crawl pipeline
    keeps the corpus's DISTINCT exact digests and DISTINCT MinHash
    (band, band_digest) rows persisted between runs and dedups each
    incoming batch by semi-joining them
    (operators/dedup.incremental_dedup derives the same two frames
    in-query; reference behavior: the corpus-side of duplicates.py,
    see SURVEY §2 A8). Two tables:

    - ``digests``: (digest) — md5 of the normalized text, distinct;
    - ``bands``:   (band, band_digest) — banded MinHash rows, distinct.

    Unlike the ANN kinds there is NO trained quantizer, so appends
    carry no drift: build(base) ⊎ append(delta) has exactly the same
    DISTINCT content as build(base ∪ delta), and the check is
    invariant to duplicate index rows (left_semi joins). base_rows
    records the distinct digest count (capacity accounting only —
    needs_retrain is meaningless for an exact index)."""
    from bigdatafinalproject_spark.operators.dedup import (
        minhash_band_digests,
        norm_text,
        winnow_fingerprints,
    )
    from pyspark.sql import functions as F

    if index_is_current(index_dir, "dedup", fingerprint):
        # current index: opportunistically sweep dead writers'
        # stage litter (ADVICE r11 — see _sweep_dead_stages)
        _sweep_dead_stages(index_dir)
        return index_dir
    p = _effective_params("dedup", build_params, subset)
    text_col, id_col = p["text_col"], p["id_col"]
    tmp = _build_into_tmp(index_dir)
    try:
        # the benchmark suite's winnowed span fingerprints (r11,
        # VERDICT r10 #4): distinct fp values of the corpus docs
        # matching benchmark_pred — the fixed eval suite every
        # incoming crawl batch is decontaminated against. Extraction
        # is per-doc and the check distinct-reduces, so the table
        # obeys the same build(base) ⊎ append(delta) ≡ build(all)
        # theorem as digests/bands. The three tables share nothing but
        # the corpus scan — independent jobs, overlapped (r14,
        # _run_concurrent). Unit paths resolve in THIS thread
        # (_unit_name embeds the thread id).
        dg_u = _build_unit(tmp, "digests")
        bd_u = _build_unit(tmp, "bands")
        wf_u = _build_unit(tmp, "winnow_fps")
        _run_concurrent([
            lambda: (
                corpus.select(
                    F.md5(norm_text(F.col(text_col))).alias("digest")
                )
                .distinct()
                .write.mode("overwrite")
                .parquet(dg_u)
            ),
            lambda: (
                minhash_band_digests(
                    corpus, text_col, id_col,
                    int(p["n"]), int(p["num_hashes"]), int(p["bands"]),
                )
                .select("band", "band_digest")
                .distinct()
                .write.mode("overwrite")
                .parquet(bd_u)
            ),
            lambda: (
                winnow_fingerprints(
                    corpus.filter(F.expr(p["benchmark_pred"])),
                    text_col, id_col,
                    k=int(p["win_k"]), w=int(p["win_w"]),
                )
                .select("fp")
                .distinct()
                .write.mode("overwrite")
                .parquet(wf_u)
            ),
        ])
        _commit(
            tmp, "dedup", fingerprint,
            ["digests", "bands", "winnow_fps"],
            src=src, params=p,
            base_rows=_footer_rows(spark, dg_u),
            units=_build_units(["digests", "bands", "winnow_fps"]),
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    out = _install_build(tmp, index_dir, "dedup", fingerprint)
    _gc_superseded(out, "dedup", src, subset)
    return out


def dedup_index_append(
    spark: SparkSession,
    index_dir: str,
    delta: DataFrame,
    batch_id: int | None = None,
) -> str:
    """Incremental dedup-index maintenance: append an ingested batch's
    distinct digests and banded MinHash rows (column/shingle/band
    params from the MANIFEST, never the caller) under the same writer
    protocol as the ANN kinds — ``_applog`` CAS claim, staged writes
    adopted by renames inside the invalidate-then-recommit window
    (v5.1), footer-delta accounting, batch-id idempotence, log prune. Appended rows may duplicate
    existing index rows (a batch re-crawling known text); that is
    CORRECT by construction — the check joins are left_semi, and
    DISTINCT(build(base) ⊎ append(delta)) ≡ DISTINCT(base ∪ delta)
    because digest/band extraction is row-local. compact_index
    rewrites the accreted per-batch file sets."""
    from bigdatafinalproject_spark.operators.dedup import (
        minhash_band_digests,
        norm_text,
    )
    from pyspark.sql import functions as F

    txn = _writer_txn(index_dir, batch_id, "append")
    if txn is None:
        return index_dir  # redelivered batch: idempotent skip
    meta, mver = txn
    # claim→invalidate failures release the claim (slot never
    # consumed; see ivf_index_append — ADVICE r9)
    stage = None
    try:
        p = meta.get("params", {})
        text_col = p.get("text_col", "text")
        id_col = p.get("id_col", "doc_id")
        ddg = delta.select(
            F.md5(norm_text(F.col(text_col))).alias("digest")
        ).distinct()
        dbd = (
            minhash_band_digests(
                delta, text_col, id_col,
                int(p.get("n", 8)), int(p.get("num_hashes", 16)),
                int(p.get("bands", 4)),
            )
            .select("band", "band_digest")
            .distinct()
        )
        # the delta's benchmark-slice winnow fingerprints (a legacy
        # index without the table skips — manifests are the single
        # source of truth for what the index carries)
        dwf = None
        if "winnow_fps" in meta.get("tables", []):
            from bigdatafinalproject_spark.operators.dedup import (
                winnow_fingerprints,
            )

            dwf = (
                winnow_fingerprints(
                    delta.filter(
                        F.expr(p.get("benchmark_pred", "source = 'src0'"))
                    ),
                    text_col, id_col,
                    k=int(p.get("win_k", 5)), w=int(p.get("win_w", 4)),
                )
                .select("fp")
                .distinct()
            )
        # stage every Spark job pre-invalidate (v5.1, see the ivf
        # twin): the invalidated window below is pure renames. The
        # three staged tables share no data — overlap their jobs
        # (_run_concurrent, r14) instead of paying the scheduler
        # latency three times in a row.
        stage = _append_stage(index_dir, mver)
        writes = [
            lambda: ddg.write.mode("overwrite").parquet(
                os.path.join(stage, "digests")
            ),
            lambda: dbd.write.mode("overwrite").parquet(
                os.path.join(stage, "bands")
            ),
        ]
        if dwf is not None:
            writes.append(
                lambda: dwf.write.mode("overwrite").parquet(
                    os.path.join(stage, "winnow_fps")
                )
            )
        _run_concurrent(writes)
        n_delta = _footer_rows(spark, os.path.join(stage, "digests"))
    except BaseException:
        _end_claim(index_dir, mver, release=True)
        if stage is not None:
            shutil.rmtree(stage, ignore_errors=True)
        raise
    return _finish_append(
        index_dir, stage,
        ["digests", "bands"] + (["winnow_fps"] if dwf is not None else []),
        meta, mver, batch_id, n_delta,
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
    from bigdatafinalproject_spark.operators.dedup import (
        dedup_status_against_index,
    )

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
    from bigdatafinalproject_spark.operators.dedup import (
        _broadcast_overlap_stats,
        winnow_fingerprints,
    )

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
