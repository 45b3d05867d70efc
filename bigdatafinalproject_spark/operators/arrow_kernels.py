"""Vectorized Arrow kernels for the bounded-small-side distance
primitives (optimization r14).

Why this module exists: the engine's distance math was expressed as
``aggregate(zip_with(...))`` sequential folds — chosen for bit-exact
cross-engine portability (Spark ``aggregate`` == DuckDB
``list_reduce``). Those higher-order functions are NOT supported by
whole-stage codegen: Spark evaluates them interpreted, per row, with a
fresh intermediate array per (vector, centroid) pair. Measured on the
bench host, a single N x C assign pass over 2,000 x 64 vectors burned
~20-50 s of executor run time — microseconds per element where a
vectorized loop needs nanoseconds.

The fix (optimization guide §4.2: hand whole Arrow batches to
vectorized native code): ``mapInArrow`` kernels that compute the same
quantities in numpy with **dimension-sequential accumulation** —

    acc = 0.0; for d in 0..dim-1: acc += f(x[d], c[d])

vectorized over all (row, centroid) pairs at once. Each (i, j)
accumulator receives its terms in exactly the left-to-right order of
the SQL fold, every elementwise numpy op is a single IEEE-754 double
operation (no FMA, no reassociation, no pairwise summation), and
float32 -> float64 widening is exact — so every score is **bit-identical**
to the expression it replaces (property-tested against a pure-Python
fold in tests/test_arrow_kernels.py). Ties keep their semantics:
centroid rows are sorted by id ascending and numpy's stable
sort / first-occurrence argmin reproduce ``row_number() OVER
(ORDER BY score, id)`` / ``min(struct(dist, id))`` exactly.

Each kernel is the one execution form of its operator: ``mapInArrow``
is a per-partition map, so the big side may be a batch or a streaming
frame (``lsh_arrow`` runs on the unbatched embedding stream) and is
never collected. The small side is always a pre-built panel —
``(ids asc, matrix)`` or ``{group: (ids asc, matrix)}`` — that the
caller builds once with :func:`panel_from_frame` (a bounded collect)
or :func:`panel_from_parquet` (a driver-side read whose row count is
checked against the footers first); no kernel collects anything.

Driver-boundedness: a panel holds only the side the old plan already
BROADCAST (a trained centroid/codebook frame of <= ~1k rows, or the
query panel of an exact-tier scan) — same memory class, same rows, now
materialized once instead of re-executed per plan reference.
``_COLLECT_CAP`` turns an accidental unbounded panel into a loud error
naming its source instead of a silent driver OOM.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import threading
import zipfile
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The kernels below are MODULE-LEVEL functions, so cloudpickle ships
# them to Python workers BY REFERENCE — the worker must be able to
# ``import bigdatafinalproject_spark``. A driver that imported the
# package from a path the workers do not inherit (spec-loaded entry
# file, different cwd) would fail at task deserialization, so every
# kernel builder first ships the package source to the session via
# ``addPyFile`` (the documented mechanism for importable-module UDFs).
# One zip per process, one addPyFile per SparkContext.
_SHIP_LOCK = threading.Lock()
_SHIPPED: set[str] = set()
_PKG_ZIP: Path | None = None


def ensure_shipped(spark) -> None:
    """Public hook: ship the package zip to ``spark`` NOW. Call this
    before warming the Python worker pool — ``addPyFile`` changes the
    worker-factory key (the pyFiles land on the worker PYTHONPATH), so
    a pool warmed before the first kernel call would be abandoned and
    re-forked at that point, charging ~2-4 s of numpy/pyarrow imports
    to whichever query happened to run first."""

    class _Holder:  # adapt the DataFrame-shaped helper below
        sparkSession = spark

    _ensure_worker_imports(_Holder)


def _package_zip() -> Path:
    """This process's zip of the package source, written once under
    the temporary directory with a name no other process can hold —
    a stale zip left by a dead process whose pid was reused is never
    shipped — and removed at interpreter exit."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = Path(__file__).resolve().parent.parent
        fd, name = tempfile.mkstemp(
            prefix=f"bdfp_pkg_{os.getpid()}_", suffix=".zip"
        )
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
            for f in sorted(pkg_dir.rglob("*.py")):
                z.write(
                    f,
                    arcname=str(Path(pkg_dir.name) / f.relative_to(pkg_dir)),
                )
        _PKG_ZIP = Path(name)
        atexit.register(_PKG_ZIP.unlink, missing_ok=True)
    return _PKG_ZIP


def _ensure_worker_imports(df) -> None:
    sc = df.sparkSession.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    with _SHIP_LOCK:
        if key in _SHIPPED:
            return
        sc.addPyFile(str(_package_zip()))
        _SHIPPED.add(key)

# Bounded-collect guard: the largest legitimate small side is the
# exact-tier query panel (N/50 rows — ~12k at sf30); trained
# centroid/codebook frames are <= IVF_CENTROID_CAP / m*64 rows. A call
# that trips this cap is a misuse (collecting a corpus), not a scale
# problem.
_COLLECT_CAP = 200_000


def seq_dot(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) x (c, d) -> (n, c) dot products, accumulated dim by dim
    so each entry reproduces the left-to-right sequential fold
    bit-for-bit."""
    n, d = X.shape
    acc = np.zeros((n, C.shape[0]))
    tmp = np.empty_like(acc)
    for i in range(d):
        np.multiply(X[:, i, None], C[None, :, i], out=tmp)
        acc += tmp
    return acc


def seq_l2(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) x (c, d) -> (n, c) squared L2, dim-sequential: each term
    is (double(x) - double(c))^2 added left to right."""
    n, d = X.shape
    acc = np.zeros((n, C.shape[0]))
    tmp = np.empty_like(acc)
    for i in range(d):
        np.subtract(X[:, i, None], C[None, :, i], out=tmp)
        np.multiply(tmp, tmp, out=tmp)
        acc += tmp
    return acc


def seq_norm(X: np.ndarray, op: str = "seq_norm", ids=None) -> np.ndarray:
    """Per-row sqrt(sequential self-dot) — the ``with_norm`` fold.

    Zero-norm guard (ADVICE r14): a zero vector yields a NaN cosine,
    which Spark's DESC ordering ranks FIRST (NaN = largest double)
    while ``np.argsort(-cos)`` ranks LAST — a silent cross-form
    divergence. No legitimate corpus here carries zero embeddings
    (oracle-verified), so fail loudly instead of drifting quietly:
    the ``ValueError`` names the calling kernel ``op`` and the
    offending rows by ``ids`` (row positions when ``ids`` is None)."""
    acc = np.zeros(X.shape[0])
    for i in range(X.shape[1]):
        acc += X[:, i] * X[:, i]
    if X.shape[1] and not acc.all():
        bad = np.flatnonzero(acc == 0)
        if isinstance(ids, (pa.Array, pa.ChunkedArray)):
            ids = ids.to_numpy(zero_copy_only=False)
        culprits = (bad if ids is None else np.asarray(ids)[bad]).tolist()
        raise ValueError(
            f"{op}: zero-norm vector at "
            f"{'row' if ids is None else 'id'}(s) {culprits[:10]}"
            f"{' ...' if len(culprits) > 10 else ''}: cosine is NaN "
            "and kernel/SQL orderings would diverge silently"
        )
    return np.sqrt(acc)


def _list_to_mat(arr) -> np.ndarray:
    """Arrow list<float|double> column -> (n, d) float64 matrix.
    float32 -> float64 widening is exact, matching CAST(x AS DOUBLE)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    if n == 0:
        return np.zeros((0, 0))
    d = len(flat) // n
    if d * n != len(flat):
        raise ValueError("ragged vector column in Arrow kernel")
    return flat.astype(np.float64, copy=False).reshape(n, d)


def _check_cap(n_rows: int, source: str) -> None:
    if n_rows > _COLLECT_CAP:
        raise ValueError(
            f"{source}: panel has {n_rows} rows (cap {_COLLECT_CAP}): "
            "refusing to collect a corpus"
        )


def _sorted_panel(ids, mat: np.ndarray, groups=None):
    """The one sort step of both panel builders: (ids asc, matrix),
    or {group: (ids asc, matrix)} when ``groups`` labels the rows.
    The sort is stable, so rows with equal ids keep their read order."""
    ids = np.asarray(ids, dtype=np.int64)
    if groups is None:
        order = np.argsort(ids, kind="stable")
        return ids[order], mat[order]
    groups = np.asarray(groups, dtype=np.int64)
    return {
        int(g): _sorted_panel(ids[groups == g], mat[groups == g])
        for g in np.unique(groups)
    }


def panel_from_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    source: str,
    group_col: str | None = None,
):
    """Bounded collect of a small (id, vector[, group]) frame into a
    kernel panel — the rows the old plans broadcast, materialized once.
    ``source`` names the caller in the cap error. Returns (ids asc,
    matrix), or {group: (ids asc, matrix)} with ``group_col``."""
    cols = [id_col, vec_col] + ([group_col] if group_col else [])
    rows = df.select(*cols).collect()
    _check_cap(len(rows), source)
    mat = (
        np.array([r[1] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    return _sorted_panel(
        [r[0] for r in rows], mat, [r[2] for r in rows] if group_col else None
    )


def _spark_field(df: DataFrame, col: str) -> str:
    return f"{col} {df.schema[col].dataType.simpleString()}"


def _expand_parquet(paths: list[str]) -> list[str]:
    """Expand table/unit DIRS to their .parquet files (pyarrow's
    ParquetDataset accepts a list of files, or one dir — not a list
    of dirs)."""
    out: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            out.extend(
                os.path.join(p, n)
                for n in sorted(os.listdir(p))
                if n.endswith(".parquet")
            )
        else:
            out.append(p)
    return out


def panel_from_parquet(
    paths: list[str],
    id_col: str,
    vec_col: str,
    group_col: str | None = None,
):
    """Driver-side twin of :func:`panel_from_frame` for a panel that
    lives in plain parquet (r15): read (id, vector[, group]) straight
    from the files with pyarrow instead of running a Spark collect
    job. The parquet bytes are the ground truth both paths decode —
    int64 ids and list<double> vectors come back bit-identical — so
    the panel equals panel_from_frame's exactly. Used by the
    persisted-index append and serve paths, where the per-call
    collect of a frozen quantizer table was pure per-job scheduling
    overhead. The footers' row counts are checked against the cap
    before any data is read."""
    import pyarrow.parquet as papq

    files = _expand_parquet(paths)
    _check_cap(
        sum(papq.read_metadata(f).num_rows for f in files),
        f"panel_from_parquet {paths}",
    )
    cols = [id_col, vec_col] + ([group_col] if group_col else [])
    t = papq.ParquetDataset(files).read(columns=cols)
    return _sorted_panel(
        t[id_col].to_numpy(zero_copy_only=False),
        _list_to_mat(t[vec_col]),
        t[group_col].to_numpy(zero_copy_only=False) if group_col else None,
    )


def topn_centroids_arrow(
    df: DataFrame,
    centroids: tuple[np.ndarray, np.ndarray],
    id_col: str,
    vec_col: str,
    n: int,
    out: str,
    keep_rank: bool = False,
    emit_residual: bool = False,
) -> DataFrame:
    """Drop-in for the crossJoin + window form of
    ``operators.ann._nearest_centroids``: top-``n`` centroids per
    vector by cosine (descending, ties to the ascending centroid id),
    one Arrow kernel pass instead of a C-fan-out interpreted fold plus
    a row_number shuffle. ``emit_residual`` additionally outputs
    ``_rv`` = vector − assigned centroid per emitted (vector, cell)
    pair (elementwise double subtraction of exactly-widened values —
    the ``zip_with`` residual bit-for-bit), which lets the IVFPQ build
    skip re-joining the corpus and the centroids downstream.
    ``centroids`` is the (ids asc, matrix) centroid panel. A zero
    vector on either side raises ``ValueError`` naming this kernel and
    its ids (:func:`seq_norm`)."""
    _ensure_worker_imports(df)
    cids, C = centroids
    cn = seq_norm(C, "topn_centroids_arrow centroids", cids)
    n_eff = int(min(n, len(cids)))
    src = df.select(F.col(id_col).alias(out), F.col(vec_col).alias("_v"))
    schema = (
        f"{_spark_field(src, out)}, centroid_id bigint"
        + (", _rn int" if keep_rank else "")
        + (", _rv array<double>" if emit_residual else "")
    )
    names = (
        [out, "centroid_id"]
        + (["_rn"] if keep_rank else [])
        + (["_rv"] if emit_residual else [])
    )

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            ids = b.column(0)
            X = _list_to_mat(b.column(1))
            nb = X.shape[0]
            if nb == 0 or n_eff == 0:
                continue
            cos = seq_dot(X, C)
            xn = seq_norm(X, "topn_centroids_arrow", ids)
            denom = xn[:, None] * cn[None, :]
            np.divide(cos, denom, out=cos)
            # stable argsort of -cos with columns pre-sorted by cid
            # ascending == row_number ORDER BY cos DESC, cid ASC
            order = np.argsort(-cos, axis=1, kind="stable")[:, :n_eff]
            take = np.repeat(np.arange(nb), n_eff)
            arrays = [
                ids.take(pa.array(take)),
                pa.array(cids[order].ravel(), pa.int64()),
            ]
            if keep_rank:
                arrays.append(
                    pa.array(
                        np.tile(np.arange(1, n_eff + 1, dtype=np.int32), nb)
                    )
                )
            if emit_residual:
                d = X.shape[1]
                res = X[take] - C[order.ravel()]
                offsets = pa.array(
                    np.arange(0, (len(take) + 1) * d, d, dtype=np.int32)
                )
                arrays.append(
                    pa.ListArray.from_arrays(
                        offsets, pa.array(res.ravel(), pa.float64())
                    )
                )
            yield pa.RecordBatch.from_arrays(arrays, names)

    return src.mapInArrow(kernel, schema)


def argmin_centroids_arrow(
    emb: DataFrame,
    groups: dict[int, tuple[np.ndarray, np.ndarray]],
    id_col: str,
    vec_col: str,
    group_cols: tuple[str, ...] = (),
    carry_vec: bool = False,
) -> DataFrame:
    """Drop-in for ``operators.clustering._assign``: nearest centroid
    per vector by dim-sequential squared L2, ties to the lowest cid
    (numpy first-occurrence argmin over cid-ascending columns ==
    ``min(struct(dist, cid))``). With ``group_cols`` (the PQ subspace
    index) the centroid set and the argmin are scoped per group.
    ``groups`` is the {group: (cids asc, matrix)} centroid panel, all
    centroids under group 0 when ``group_cols`` is empty; ``carry_vec``
    passes the input vector through, which lets the Lloyd means
    consume the assignment without re-joining the corpus."""
    _ensure_worker_imports(emb)
    cols = [id_col, *group_cols, vec_col]
    src = emb.select(*cols)
    schema = ", ".join(
        [_spark_field(src, id_col)]
        + [_spark_field(src, g) for g in group_cols]
        + ["cid bigint", "dist double"]
        + ([_spark_field(src, vec_col)] if carry_vec else [])
    )
    names = [id_col, *group_cols, "cid", "dist"] + (
        [vec_col] if carry_vec else []
    )
    g_idx = 1 if group_cols else None
    v_idx = 2 if group_cols else 1

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            X = _list_to_mat(b.column(v_idx))
            nb = X.shape[0]
            if nb == 0:
                continue
            out_cid = np.empty(nb, dtype=np.int64)
            out_dist = np.empty(nb)
            valid = np.ones(nb, dtype=bool)
            if g_idx is None:
                if 0 not in groups or len(groups[0][0]) == 0:
                    continue  # no centroids: the old inner form emits 0 rows
                cids, C = groups[0]
                d = seq_l2(X, C)
                am = np.argmin(d, axis=1)
                out_cid[:] = cids[am]
                out_dist[:] = d[np.arange(nb), am]
            else:
                gv = b.column(g_idx).to_numpy(zero_copy_only=False)
                for g in np.unique(gv):
                    mask = gv == g
                    if int(g) not in groups or len(groups[int(g)][0]) == 0:
                        valid[mask] = False
                        continue
                    cids, C = groups[int(g)]
                    d = seq_l2(X[mask], C)
                    am = np.argmin(d, axis=1)
                    out_cid[mask] = cids[am]
                    out_dist[mask] = d[np.arange(d.shape[0]), am]
            sel = None if valid.all() else pa.array(np.flatnonzero(valid))
            arrays = [b.column(0)]
            if g_idx is not None:
                arrays.append(b.column(g_idx))
            arrays += [pa.array(out_cid, pa.int64()), pa.array(out_dist)]
            if carry_vec:
                arrays.append(b.column(v_idx))
            if sel is not None:
                arrays = [a.take(sel) for a in arrays]
            yield pa.RecordBatch.from_arrays(arrays, names)

    return src.mapInArrow(kernel, schema)


def encode_codebook_arrow(
    frame: DataFrame,
    by_s: dict[int, tuple[np.ndarray, np.ndarray]],
    m: int,
    dim: int,
    keys: list[str],
) -> DataFrame:
    """THE PQ encode, shared by every build and append path (so the
    build and append halves cannot diverge on a tie-break or cast):
    nearest codeword per (row, subspace) by dim-sequential L2, ties to
    the smallest code id, as one kernel pass emitting the (keys..., s,
    code) rows directly. ``frame`` carries ``keys`` + a ``_v`` vector
    column (raw vectors for plain PQ, residuals for IVFPQ); ``by_s`` is
    the per-subspace {s: (code ids asc, codeword matrix)} codebook
    panel. Replaces an explode + broadcast join + min(struct)
    aggregation (one shuffle of the largest relation's m-fan-out
    removed outright)."""
    _ensure_worker_imports(frame)
    sub = dim // m
    assert sub * m == dim
    src = frame.select(*keys, "_v")
    schema = ", ".join(
        [_spark_field(src, k) for k in keys] + ["s int", "code bigint"]
    )
    names = [*keys, "s", "code"]
    v_idx = len(keys)

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            X = _list_to_mat(b.column(v_idx))
            nb = X.shape[0]
            if nb == 0:
                continue
            codes = np.empty((nb, m), dtype=np.int64)
            for s in range(m):
                sids, C = by_s[s]
                d = seq_l2(X[:, s * sub : (s + 1) * sub], C)
                codes[:, s] = sids[np.argmin(d, axis=1)]
            take = pa.array(np.repeat(np.arange(nb), m))
            arrays = [b.column(i).take(take) for i in range(len(keys))]
            arrays.append(pa.array(np.tile(np.arange(m, dtype=np.int32), nb)))
            arrays.append(pa.array(codes.ravel(), pa.int64()))
            yield pa.RecordBatch.from_arrays(arrays, names)

    return src.mapInArrow(kernel, schema)


def norms_arrow(
    df: DataFrame, id_col: str, vec_col: str, out: str = "_cnorm"
) -> DataFrame:
    """(id, vec) -> (id, sqrt(sequential self-dot)) — the ``with_norm``
    fold as one vectorized pass. A zero vector raises ``ValueError``
    naming its id (:func:`seq_norm`)."""
    _ensure_worker_imports(df)
    src = df.select(id_col, vec_col)
    schema = f"{_spark_field(src, id_col)}, {out} double"

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            X = _list_to_mat(b.column(1))
            if X.shape[0] == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pa.array(seq_norm(X, "norms_arrow", b.column(0))),
                ],
                [id_col, out],
            )

    return src.mapInArrow(kernel, schema)


def adc_lookup_arrow(
    queries: DataFrame,
    by_s: dict[int, tuple[np.ndarray, np.ndarray]],
    m: int,
    dim: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The per-query ADC lookup table (query_id, s, code, _pq) —
    _pq = floor(seqdot(q_subspace, codeword) * scale) as int64 — one
    kernel pass over the bounded query panel with the codebook in the
    closure, replacing the subspace explode + broadcast join +
    interpreted fold. ``by_s`` is the per-subspace codebook panel."""
    _ensure_worker_imports(queries)
    sub = dim // m
    src = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    schema = "query_id bigint, s int, code bigint, _pq bigint"
    fscale = float(scale)

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            ids = b.column(0).to_numpy(zero_copy_only=False)
            X = _list_to_mat(b.column(1))
            nb = X.shape[0]
            if nb == 0:
                continue
            out_q, out_s, out_c, out_p = [], [], [], []
            for s in range(m):
                codes, C = by_s.get(s, (np.zeros(0, np.int64), np.zeros((0, 0))))
                nc = len(codes)
                if nc == 0:
                    continue
                d = seq_dot(X[:, s * sub : (s + 1) * sub], C)
                pq = np.floor(d * fscale).astype(np.int64)
                out_q.append(np.repeat(ids, nc))
                out_s.append(np.full(nb * nc, s, dtype=np.int32))
                out_c.append(np.tile(codes, nb))
                out_p.append(pq.ravel())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), pa.int64()),
                    pa.array(np.concatenate(out_s), pa.int32()),
                    pa.array(np.concatenate(out_c), pa.int64()),
                    pa.array(np.concatenate(out_p), pa.int64()),
                ],
                ["query_id", "s", "code", "_pq"],
            )

    return src.mapInArrow(kernel, schema)


def coarse_terms_arrow(
    probes: DataFrame,
    queries: tuple[np.ndarray, np.ndarray],
    centroids: tuple[np.ndarray, np.ndarray],
    scale: int,
) -> DataFrame:
    """The per-(query, probed cell) coarse ADC term (query_id,
    centroid_id, _qc = floor(seqdot(q, centroid) * scale) as int64):
    both the query panel and the centroid panel are bounded (they were
    broadcast in the join form), so the two lookups and the dot run in
    one kernel pass over the probe pairs. ``queries`` and
    ``centroids`` are (ids asc, matrix) panels."""
    _ensure_worker_imports(probes)
    qids, Q = queries
    cids, C = centroids
    src = probes.select("query_id", "centroid_id")
    schema = "query_id bigint, centroid_id bigint, _qc bigint"
    fscale = float(scale)

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            qv = b.column(0).to_numpy(zero_copy_only=False)
            cv = b.column(1).to_numpy(zero_copy_only=False)
            if len(qv) == 0:
                continue
            # exact-match check (ADVICE r14): a probe row whose id is
            # missing from the panel must fail loudly, not silently
            # read a neighboring vector — the join this kernel
            # replaced would have dropped such a row, and a dropped
            # row here means the caller's probe/panel frames diverged
            qi = np.clip(np.searchsorted(qids, qv), 0, max(len(qids) - 1, 0))
            ci = np.clip(np.searchsorted(cids, cv), 0, max(len(cids) - 1, 0))
            if len(qids) == 0 or len(cids) == 0 or not (
                np.array_equal(qids[qi], qv) and np.array_equal(cids[ci], cv)
            ):
                raise ValueError(
                    "coarse_terms_arrow: probe row references an id "
                    "absent from the query/centroid panel"
                )
            A = Q[qi]
            B = C[ci]
            acc = np.zeros(len(qv))
            tmp = np.empty_like(acc)
            for i in range(A.shape[1]):
                np.multiply(A[:, i], B[:, i], out=tmp)
                acc += tmp
            qc = np.floor(acc * fscale).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), pa.array(qc, pa.int64())],
                ["query_id", "centroid_id", "_qc"],
            )

    return src.mapInArrow(kernel, schema)


def minhash_arrow(
    d: DataFrame,
    id_col: str,
    n: int,
    num_hashes: int,
    mersenne: int,
    bands: int | None = None,
) -> DataFrame:
    """MinHash over char-``n``-gram shingles of a pre-normalized text
    column ``_t`` — the shingle slicing, distinct, portable md5 hash
    (``conv(substr(md5('0|'||shingle), 1, 15), 16, 10) % mersenne``)
    and the k affine mins all run in one kernel pass, replacing an
    interpreted per-doc transform/array_distinct HOF plus a k-column
    min aggregate (one shuffle of doc rows removed). Exactness:
    Python str slicing == Spark ``substring`` (both code-point
    indexed), ``hashlib.md5`` over UTF-8 == SQL ``md5``, and the
    affine arithmetic is the same int64 math.

    ``bands=None`` emits the long signature form (id, seed, minhash);
    with ``bands`` it emits (id, band, band_digest) where band_digest
    = md5 of the band's minhashes joined with "," in seed order — the
    exact ``concat_ws`` + ``collect_list`` aggregate it replaces."""
    import hashlib

    _ensure_worker_imports(d)
    src = d.select(id_col, "_t")
    if bands is None:
        schema = f"{_spark_field(src, id_col)}, seed int, minhash bigint"
        names = [id_col, "seed", "minhash"]
    else:
        schema = f"{_spark_field(src, id_col)}, band int, band_digest string"
        names = [id_col, "band", "band_digest"]
    rows_per_band = num_hashes // bands if bands else 0
    coef = np.arange(num_hashes, dtype=np.int64)
    mul = 2 * coef + 1
    add = coef * 12345 + 678

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            ids = b.column(0)
            texts = b.column(1).to_pylist()
            nb = len(texts)
            if nb == 0:
                continue
            keep, payload = [], []
            for r, t in enumerate(texts):
                if t is None or len(t) < n:
                    continue
                sh = {t[i : i + n] for i in range(len(t) - n + 1)}
                h31 = np.fromiter(
                    (
                        int(
                            hashlib.md5(("0|" + s).encode("utf-8"))
                            .hexdigest()[:15],
                            16,
                        )
                        % mersenne
                        for s in sh
                    ),
                    dtype=np.int64,
                    count=len(sh),
                )
                mins = (
                    (h31[:, None] * mul[None, :] + add[None, :]) % mersenne
                ).min(axis=0)
                keep.append(r)
                payload.append(mins)
            if not keep:
                continue
            if bands is None:
                take = pa.array(np.repeat(np.array(keep), num_hashes))
                arrays = [
                    ids.take(take),
                    pa.array(
                        np.tile(np.arange(num_hashes, dtype=np.int32), len(keep))
                    ),
                    pa.array(np.concatenate(payload), pa.int64()),
                ]
            else:
                digests = [
                    hashlib.md5(
                        ",".join(
                            str(int(m))
                            for m in mins[
                                bb * rows_per_band : (bb + 1) * rows_per_band
                            ]
                        ).encode("utf-8")
                    ).hexdigest()
                    for mins in payload
                    for bb in range(bands)
                ]
                take = pa.array(np.repeat(np.array(keep), bands))
                arrays = [
                    ids.take(take),
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), len(keep))),
                    pa.array(digests, pa.string()),
                ]
            yield pa.RecordBatch.from_arrays(arrays, names)

    return src.mapInArrow(kernel, schema)


def shingles_arrow(d: DataFrame, id_col: str, n: int) -> DataFrame:
    """Distinct char n-gram shingles of a pre-normalized text column
    ``_t`` — one kernel pass emitting (id, shingle) rows, replacing
    the interpreted per-doc transform + array_distinct HOF. Python
    slicing is code-point indexed like ``substring``, so the shingle
    SET is identical."""
    _ensure_worker_imports(d)
    src = d.select(id_col, "_t")
    schema = f"{_spark_field(src, id_col)}, shingle string"

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            ids = b.column(0)
            texts = b.column(1).to_pylist()
            if not texts:
                continue
            take, out = [], []
            for r, t in enumerate(texts):
                if t is None or len(t) < n:
                    continue
                sh = dict.fromkeys(t[i : i + n] for i in range(len(t) - n + 1))
                take.extend([r] * len(sh))
                out.extend(sh)
            if not take:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(np.array(take))),
                    pa.array(out, pa.string()),
                ],
                [id_col, "shingle"],
            )

    return src.mapInArrow(kernel, schema)


def simhash_arrow(d: DataFrame, id_col: str, bits: int) -> DataFrame:
    """SimHash signatures from a pre-normalized text column ``_t`` —
    token split, per-token counts, the portable md5 hash and the
    per-bit ±count sums all in one kernel pass, replacing the exploded
    (#token-pairs x bits)-row aggregation pipeline (7M generated rows
    per 5k docs at sf0.1). Arithmetic is the identical integer math:
    bit j of the signature is set iff sum(cnt * ((th >> j & 1) * 2 - 1))
    over the doc's distinct tokens is > 0. A null text produces no
    output row (explode-of-null semantics)."""
    import hashlib
    from collections import Counter

    _ensure_worker_imports(d)
    src = d.select(id_col, "_t")
    schema = f"{_spark_field(src, id_col)}, simhash bigint"
    shifts = np.arange(bits, dtype=np.uint64)
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            ids = b.column(0)
            texts = b.column(1).to_pylist()
            if not texts:
                continue
            keep, sigs = [], []
            for r, t in enumerate(texts):
                if t is None:
                    continue
                cnt = Counter(t.split(" "))
                toks = list(cnt)
                th = np.fromiter(
                    (
                        int(
                            hashlib.md5(("0|" + tok).encode("utf-8"))
                            .hexdigest()[:15],
                            16,
                        )
                        for tok in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                cnts = np.fromiter(
                    (cnt[tok] for tok in toks), dtype=np.int64, count=len(toks)
                )
                pm = (
                    ((th.astype(np.uint64)[:, None] >> shifts[None, :]) & 1)
                    .astype(np.int64)
                    * 2
                    - 1
                )
                bitsum = (pm * cnts[:, None]).sum(axis=0)
                keep.append(r)
                sigs.append(int(weights[bitsum > 0].sum()))
            if not keep:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(np.array(keep))),
                    pa.array(sigs, pa.int64()),
                ],
                [id_col, "simhash"],
            )

    return src.mapInArrow(kernel, schema)


def pair_cosine_arrow(
    df: DataFrame,
    keep: list[str],
    a_col: str,
    b_col: str,
    out: str = "cosine",
) -> DataFrame:
    """Per-row cosine between two vector columns of an already-joined
    frame: dim-sequential dot and self-norms, cosine =
    dot / (sqrt(selfdot(a)) * sqrt(selfdot(b))) — the same IEEE ops in
    the same order as ``_dot(a, b) / (_norm_a * _norm_b)`` over
    ``with_norm`` columns, so values are bit-identical. ``keep`` lists
    the pass-through columns; the vectors are dropped after scoring
    (they never cross another exchange). A zero vector raises
    ``ValueError`` naming it by the first ``keep`` column
    (:func:`seq_norm`)."""
    _ensure_worker_imports(df)
    src = df.select(*keep, a_col, b_col)
    schema = ", ".join(
        [_spark_field(src, c) for c in keep] + [f"{out} double"]
    )
    names = [*keep, out]
    na = len(keep)

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            A = _list_to_mat(b.column(na))
            B = _list_to_mat(b.column(na + 1))
            if A.shape[0] == 0:
                continue
            acc = np.zeros(A.shape[0])
            tmp = np.empty_like(acc)
            for i in range(A.shape[1]):
                np.multiply(A[:, i], B[:, i], out=tmp)
                acc += tmp
            ids = b.column(0) if na else None
            cos = acc / (
                seq_norm(A, f"pair_cosine_arrow {a_col}", ids)
                * seq_norm(B, f"pair_cosine_arrow {b_col}", ids)
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(na)] + [pa.array(cos)], names
            )

    return src.mapInArrow(kernel, schema)


# The most candidates one MMR query may hold: the walk keeps the
# query's (n, n) int64 similarity matrix in one Python worker, 8·n²
# bytes — 8 MB at 1,024, far above the registered n_candidates=12. A
# bigger group is a candidate tier that lost its per-query bound.
_MMR_GROUP_CAP = 1_024


def mmr_walk_arrow(
    df: DataFrame, k: int, lam_num: int, pen_num: int, scale: int
) -> DataFrame:
    """The MMR greedy walk (``operators.ann.mmr_from_candidates``) as
    one grouped kernel over (query_id, cid, rel_q, vector): each
    query's candidates arrive together and are sorted by cid. The pair
    cosines are ``seq_dot(V, V) / (n_a * n_b)`` over :func:`seq_norm`
    norms — the same IEEE ops in the same order as
    :func:`pair_cosine_arrow` — quantized to
    ``sim_q = floor(cos * scale)``. The walk is exact int64
    arithmetic: pick 1 is the max ``rel_q`` (``mmr_q = lam_num *
    rel_q``); each later pick maximizes ``lam_num * rel_q - pen_num *
    pen``, where ``pen`` is the candidate's max ``sim_q`` against the
    picks so far. Every tie goes to the lowest cid, and the walk stops
    at ``k`` picks or when the candidates run out.

    A ``ValueError`` naming the query id is raised for a group above
    ``_MMR_GROUP_CAP``, a duplicate cid, a candidate without a vector
    (naming the cid) and a zero vector (:func:`seq_norm`). Returns
    (query_id, pick, vec_id, rel_q, mmr_q)."""
    _ensure_worker_imports(df)
    cap = _MMR_GROUP_CAP

    def kernel(t: pa.Table) -> pa.Table:
        qid = t.column("query_id")[0].as_py()
        op = f"mmr_walk_arrow: query {qid}"
        if t.num_rows > cap:
            raise ValueError(f"{op} has {t.num_rows} candidates (cap {cap})")
        t = t.take(pc.sort_indices(t, [("cid", "ascending")]))
        cids = t.column("cid").to_numpy()
        dup = np.unique(cids[1:][cids[1:] == cids[:-1]]).tolist()
        if dup:
            raise ValueError(f"{op}: duplicate cid(s) {dup}")
        if t.column("vector").null_count:
            lost = cids[t.column("vector").is_null().to_numpy()].tolist()
            raise ValueError(f"{op}: cid(s) {lost} have no corpus vector")
        V = _list_to_mat(t.column("vector"))
        nrm = seq_norm(V, op, cids)
        cos = seq_dot(V, V) / (nrm[:, None] * nrm[None, :])
        sim = np.floor(cos * scale).astype(np.int64)
        rel = t.column("rel_q").to_numpy()
        gain = lam_num * rel
        j = int(np.argmax(rel))  # first max: the lowest cid
        picks, mmr, pen = [j], [gain[j]], sim[:, j].copy()
        free = np.ones(len(cids), dtype=bool)
        for _ in range(1, min(k, len(cids))):
            free[j] = False
            cand = np.flatnonzero(free)
            score = gain[cand] - pen_num * pen[cand]
            best = int(np.argmax(score))
            j = int(cand[best])
            picks.append(j)
            mmr.append(score[best])
            np.maximum(pen, sim[:, j], out=pen)
        n = len(picks)
        return pa.table([
            pa.array(np.full(n, qid)), pa.array(np.arange(1, n + 1, dtype=np.int32)),
            pa.array(cids[picks]), pa.array(rel[picks]), pa.array(np.array(mmr)),
        ], ["query_id", "pick", "vec_id", "rel_q", "mmr_q"])

    return (
        df.select("query_id", "cid", "rel_q", "vector")
        .groupBy("query_id")
        .applyInArrow(
            kernel,
            "query_id bigint, pick int, vec_id bigint, rel_q bigint, "
            "mmr_q bigint",
        )
    )


def _local_topn(
    src: DataFrame,
    qids: np.ndarray,
    scorer,
    n: int,
    score_col: str,
    rank_col: str,
) -> DataFrame:
    """The shared top-``n`` scan of a (neighbor_id, ...) frame against
    a bounded query panel with ids ``qids``. ``scorer(batch, nids)``
    returns the (rows, queries) score matrix of one Arrow batch. Each
    partition keeps its LOCAL top-n per query under (score DESC,
    neighbor_id ASC), self-pairs excluded — any global top-n row is in
    its partition's top-n under the same order — and a window over the
    partitions * |Q| * n survivors assigns the global rank
    ``rank_col``. Scores must hold no NaN, so numpy's lexsort order
    equals Spark's DESC NULLS LAST ordering."""
    from pyspark.sql import Window as W

    nq = len(qids)
    schema = f"query_id bigint, neighbor_id bigint, {score_col} double"

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            nids = b.column(0).to_numpy(zero_copy_only=False)
            nb = len(nids)
            if nb == 0 or nq == 0:
                continue
            scores = scorer(b, nids)
            kk = min(n, nb)
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                col = scores[:, j]
                sel = np.lexsort((nids, -col))
                sel = sel[nids[sel] != qids[j]][:kk]
                out_q.append(np.full(len(sel), qids[j], dtype=np.int64))
                out_n.append(nids[sel])
                out_c.append(col[sel])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), pa.int64()),
                    pa.array(np.concatenate(out_n), pa.int64()),
                    pa.array(np.concatenate(out_c), pa.float64()),
                ],
                ["query_id", "neighbor_id", score_col],
            )

    w = W.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        src.mapInArrow(kernel, schema)
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: tuple[np.ndarray, np.ndarray],
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact brute-force top-``k`` by cosine
    (``operators.ann.cosine_topk``): ``queries`` is the (ids asc,
    matrix) query panel — the side the old plan broadcast — and the
    corpus streams through :func:`_local_topn`, never collected and
    never crossJoin-fanned. Returns (query_id, neighbor_id, cosine,
    rank). A zero vector on either side raises ``ValueError`` naming
    this kernel and its ids (:func:`seq_norm`)."""
    _ensure_worker_imports(corpus)
    qids, Q = queries
    qn = seq_norm(Q, "cosine_topk_arrow queries", qids)
    src = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
    )

    def cosine(b: pa.RecordBatch, nids: np.ndarray) -> np.ndarray:
        X = _list_to_mat(b.column(1))
        cos = seq_dot(X, Q)
        xn = seq_norm(X, "cosine_topk_arrow", nids)
        np.divide(cos, xn[:, None] * qn[None, :], out=cos)
        return cos

    return _local_topn(src, qids, cosine, k, "cosine", "rank")


def _list_to_imat(arr) -> np.ndarray:
    """Arrow list<int> column -> (n, d) int64 matrix (exact)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    if n == 0:
        return np.zeros((0, 0), dtype=np.int64)
    d = len(flat) // n
    if d * n != len(flat):
        raise ValueError("ragged vector column in Arrow kernel")
    return flat.astype(np.int64, copy=False).reshape(n, d)


def quantized_scan_arrow(
    c: DataFrame,
    q: tuple[np.ndarray, np.ndarray],
    n: int,
) -> DataFrame:
    """Stage-1 int8 scan of ``operators.ann.quantized_topk`` (r15 —
    the last interpreted per-PAIR fold in the ANN family): ``q`` is
    the (query ids asc, int8 matrix) panel of the quantized queries —
    the side the old plan broadcast into the crossJoin — and the
    quantized corpus (neighbor_id, _cq, _cn2) streams through
    :func:`_local_topn`.

    Bit-exactness vs the expression form: the int8 dot is int64
    integer arithmetic (exact, order-free; |dot| <= d*127² << 2^53 so
    CAST AS DOUBLE is exact), and the cosine is one IEEE divide by the
    product sqrt(_qn2)·sqrt(_cn2) computed with one sqrt per operand —
    the same three double ops as
    ``CAST(dot AS DOUBLE) / (sqrt(_qn2) * sqrt(_cn2))``; _qn2 is the
    query's exact int64 self-dot, recomputed from the panel. n2 > 0 on
    both sides (the _with_int8 contract), so no NaN/±inf rows exist.
    Returns (query_id, neighbor_id) of the global top-n per query,
    self-pairs excluded."""
    _ensure_worker_imports(c)
    qids, QQ = q
    QQ = QQ.astype(np.int64)
    qden = np.sqrt((QQ * QQ).sum(axis=1).astype(np.float64))
    src = c.select("neighbor_id", "_cq", "_cn2")

    def qcos(b: pa.RecordBatch, nids: np.ndarray) -> np.ndarray:
        CQ = _list_to_imat(b.column(1))
        cn2 = b.column(2).to_numpy(zero_copy_only=False)
        dot = CQ @ QQ.T  # int64, exact
        cden = np.sqrt(cn2.astype(np.float64))
        return dot.astype(np.float64) / (qden[None, :] * cden[:, None])

    return _local_topn(src, qids, qcos, n, "_qcos", "_qrank").select(
        "query_id", "neighbor_id"
    )


def lsh_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: np.ndarray,
    bands: int,
) -> DataFrame:
    """Random-hyperplane LSH band signatures (``operators.ann.
    lsh_signatures``): the P plane dots against the (P, d) ``planes``
    matrix (dim-sequential, so each dot reproduces the SQL fold
    bit-for-bit), the sign bits and the per-band bit strings in one
    pass, emitting (id, band, band_sig) — ``bands`` rows per vector.
    Runs on batch and streaming frames alike (no collect)."""
    _ensure_worker_imports(df)
    rows = planes.shape[0] // bands
    src = df.select(F.col(id_col), F.col(vec_col).alias("_v"))
    schema = f"{_spark_field(src, id_col)}, band int, band_sig string"

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            X = _list_to_mat(b.column(1))
            nb = X.shape[0]
            if nb == 0:
                continue
            chars = np.where(seq_dot(X, planes) > 0, "1", "0")
            sigs = []
            for bb in range(bands):
                sig = chars[:, bb * rows]
                for j in range(1, rows):
                    sig = np.char.add(sig, chars[:, bb * rows + j])
                sigs.append(sig)
            take = pa.array(np.repeat(np.arange(nb), bands))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).take(take),
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), nb)),
                    pa.array(
                        np.stack(sigs, axis=1).ravel().tolist(), pa.string()
                    ),
                ],
                [id_col, "band", "band_sig"],
            )

    return src.mapInArrow(kernel, schema)
