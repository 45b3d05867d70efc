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

Driver-boundedness: each kernel collects only the side the old plan
already BROADCAST (a trained centroid/codebook frame of <= ~1k rows,
or the query panel of an exact-tier scan) — same memory class, same
rows, now materialized once instead of re-executed per plan reference.
``_COLLECT_CAP`` turns an accidental unbounded call into a loud error
instead of a silent driver OOM. The big side streams through
``mapInArrow`` partition by partition and is never collected.

Streaming frames cannot ``collect()`` mid-plan; every public entry
point takes ``df.isStreaming`` into account at the CALLER (the callers
fall back to the expression form there — today only lsh_signatures
runs on an unbatched streaming frame; the index-maintenance paths all
operate inside foreachBatch on batch frames).
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


def collect_matrix(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Bounded collect of a small (id, vector) frame -> (ids asc,
    matrix) — the rows the old plans broadcast, materialized once."""
    rows = df.select(id_col, vec_col).collect()
    if len(rows) > _COLLECT_CAP:
        raise ValueError(
            f"arrow kernel small side has {len(rows)} rows "
            f"(cap {_COLLECT_CAP}): refusing to collect a corpus"
        )
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = (
        np.array([r[1] for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    return ids, mat


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
    paths: list[str], id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side twin of :func:`collect_matrix` for a panel that
    lives in plain parquet (r15): read (id, vector) straight from the
    files with pyarrow instead of running a Spark collect job. The
    parquet bytes are the ground truth both paths decode — int64 ids
    and list<double> vectors come back bit-identical — so the (ids
    asc, float64 matrix) result equals collect_matrix's exactly. Used
    by the persisted-index append paths, where the per-micro-batch
    collect of a frozen ≤1k-row quantizer table was pure per-job
    scheduling overhead (profiled: ~8 small jobs per append)."""
    import pyarrow.parquet as papq

    t = papq.ParquetDataset(_expand_parquet(paths)).read(
        columns=[id_col, vec_col]
    )
    if t.num_rows > _COLLECT_CAP:
        raise ValueError(
            f"arrow kernel small side has {t.num_rows} rows "
            f"(cap {_COLLECT_CAP}): refusing to collect a corpus"
        )
    ids = t[id_col].to_numpy(zero_copy_only=False).astype(np.int64)
    mat = _list_to_mat(t[vec_col])
    if len(ids) == 0:
        return ids, np.zeros((0, 0))
    order = np.argsort(ids, kind="stable")
    return ids[order], mat[order]


def codebook_from_parquet(
    paths: list[str], m: int
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Driver-side twin of ``encode_codebook_arrow``'s bounded
    codebook collect (r15): the per-subspace (code ids asc, codeword
    matrix) dict read straight from the persisted codebook parquet."""
    import pyarrow.parquet as papq

    t = papq.ParquetDataset(_expand_parquet(paths)).read(
        columns=["s", "code", "_cw"]
    )
    if t.num_rows > _COLLECT_CAP:
        raise ValueError("arrow kernel codebook over cap")
    ss = t["s"].to_numpy(zero_copy_only=False).astype(np.int64)
    codes = t["code"].to_numpy(zero_copy_only=False).astype(np.int64)
    mat = _list_to_mat(t["_cw"])
    by_s: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for s in range(m):
        mask = ss == s
        sc = codes[mask]
        sm = mat[mask]
        order = np.argsort(sc, kind="stable")
        by_s[s] = (sc[order], sm[order])
    return by_s


def topn_centroids_arrow(
    df: DataFrame,
    centroids: DataFrame,
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
    ``centroids`` may also be an already-built (ids asc, matrix)
    panel tuple (r15 — see panel_from_parquet). A zero vector on
    either side raises ``ValueError`` naming this kernel and its ids
    (:func:`seq_norm`)."""
    _ensure_worker_imports(df)
    if isinstance(centroids, tuple):
        cids, C = centroids
    else:
        cids, C = collect_matrix(centroids, "centroid_id", "_cent")
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


def collect_grouped_centroids(
    cents: DataFrame, group_col: str | None = "s"
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Bounded collect of a (group?, cid, centroid) frame into
    {group: (cids asc, matrix)} — the driver-side form the argmin /
    encode kernels consume. Group 0 holds everything when
    ``group_col`` is None."""
    cols = ([group_col] if group_col else []) + ["cid", "centroid"]
    rows = cents.select(*cols).collect()
    if len(rows) > _COLLECT_CAP:
        raise ValueError("arrow kernel centroid frame over cap")
    groups: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    if group_col is None:
        rows.sort(key=lambda r: r[0])
        groups[0] = (
            np.array([r[0] for r in rows], dtype=np.int64),
            np.array([r[1] for r in rows], dtype=np.float64),
        )
        return groups
    for g in sorted({r[0] for r in rows}):
        grows = sorted((r for r in rows if r[0] == g), key=lambda r: r[1])
        groups[int(g)] = (
            np.array([r[1] for r in grows], dtype=np.int64),
            np.array([r[2] for r in grows], dtype=np.float64),
        )
    return groups


def argmin_centroids_arrow(
    emb: DataFrame,
    cents: DataFrame | dict[int, tuple[np.ndarray, np.ndarray]],
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
    ``cents`` may be the already-collected driver-side dict (the
    trainer's per-round form — no extra job); ``carry_vec`` passes the
    input vector through, which lets the Lloyd means consume the
    assignment without re-joining the corpus."""
    _ensure_worker_imports(emb)
    if isinstance(cents, dict):
        groups = cents
    elif group_cols:
        groups = collect_grouped_centroids(cents, group_cols[0])
    else:
        groups = collect_grouped_centroids(cents, None)

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
    frame: DataFrame, cb: DataFrame, m: int, dim: int, keys: list[str]
) -> DataFrame:
    """Drop-in for ``operators.ann.encode_against_codebook``: the PQ
    argmin encode as one kernel pass — subspace slicing, the
    dim-sequential L2 against each subspace's codewords, and the
    ties-to-lowest-code argmin all happen in numpy, emitting the
    (keys..., s, code) rows directly. Replaces an explode + broadcast
    join + min(struct) aggregation (one shuffle of the largest
    relation's m-fan-out removed outright). ``cb`` may also be an
    already-built per-subspace panel dict (r15 — see
    codebook_from_parquet)."""
    _ensure_worker_imports(frame)
    sub = dim // m
    assert sub * m == dim
    if isinstance(cb, dict):
        by_s = cb
    else:
        rows = cb.select("s", "code", "_cw").collect()
        if len(rows) > _COLLECT_CAP:
            raise ValueError("arrow kernel codebook over cap")
        by_s = {}
        for s in range(m):
            srows = sorted((r for r in rows if r[0] == s), key=lambda r: r[1])
            by_s[s] = (
                np.array([r[1] for r in srows], dtype=np.int64),
                np.array([r[2] for r in srows], dtype=np.float64),
            )

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
    cb: DataFrame,
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
    interpreted fold. ``cb`` may also be an already-built per-subspace
    panel dict (r15 — codebook_from_parquet)."""
    _ensure_worker_imports(queries)
    sub = dim // m
    if isinstance(cb, dict):
        by_s = cb
    else:
        by_s = collect_grouped_centroids(
            cb.select(
                "s", F.col("code").alias("cid"), F.col("_cw").alias("centroid")
            ),
            "s",
        )
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
    queries: DataFrame,
    centroids: DataFrame,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The per-(query, probed cell) coarse ADC term (query_id,
    centroid_id, _qc = floor(seqdot(q, centroid) * scale) as int64):
    both the query panel and the centroid frame are bounded (they were
    broadcast in the join form), so the two lookups and the dot run in
    one kernel pass over the probe pairs. ``centroids`` may also be an
    already-built (ids asc, matrix) panel tuple (r15)."""
    _ensure_worker_imports(probes)
    qids, Q = collect_matrix(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        "query_id",
        vec_col,
    )
    if isinstance(centroids, tuple):
        cids, C = centroids
    else:
        cids, C = collect_matrix(centroids, "centroid_id", "_cent")
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


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Drop-in for the exact brute-force tier
    (``operators.ann.cosine_topk``): the query panel — the side the
    old plan broadcast — is collected once; each corpus partition
    computes its LOCAL top-k per query in the kernel (any global
    top-k row is in its partition's top-k under the same (cosine
    DESC, neighbor ASC) order), and a final window over the
    partitions * |Q| * k survivors assigns the global rank. The
    corpus is never collected and never crossJoin-fanned. A zero
    vector on either side raises ``ValueError`` naming this kernel
    and its ids (:func:`seq_norm`)."""
    from pyspark.sql import Window as W

    _ensure_worker_imports(corpus)
    qids, Q = collect_matrix(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        ),
        "query_id",
        "_qv",
    )
    qn = seq_norm(Q, "cosine_topk_arrow queries", qids)
    nq = len(qids)
    src = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
    )
    schema = "query_id bigint, neighbor_id bigint, cosine double"

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            nids_a = b.column(0)
            nids = nids_a.to_numpy(zero_copy_only=False)
            X = _list_to_mat(b.column(1))
            nb = X.shape[0]
            if nb == 0 or nq == 0:
                continue
            cos = seq_dot(X, Q)
            xn = seq_norm(X, "cosine_topk_arrow", nids)
            denom = xn[:, None] * qn[None, :]
            np.divide(cos, denom, out=cos)
            kk = min(k, nb)
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                col = cos[:, j]
                # exclude the self-pair, preserve (cos DESC, id ASC)
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
                ["query_id", "neighbor_id", "cosine"],
            )

    local = src.mapInArrow(kernel, schema)
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


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
    q: DataFrame,
    n: int,
) -> DataFrame:
    """Stage-1 int8 scan of ``operators.ann.quantized_topk`` (r15 —
    the last interpreted per-PAIR fold in the ANN family): the
    quantized query panel (query_id, _qq array<int>, _qn2 bigint) is
    bounded — collected once, the side the old plan broadcast into the
    crossJoin — and each corpus partition computes its LOCAL top-n per
    query in the kernel; a final window over the partitions * |Q| * n
    survivors assigns the global rank (any global top-n row is in its
    partition's top-n under the same (_qcos DESC, neighbor ASC)
    order — the cosine_topk_arrow recipe).

    Bit-exactness vs the expression form: the int8 dot is int64
    integer arithmetic (exact, order-free; |dot| <= d*127² << 2^53 so
    CAST AS DOUBLE is exact), and the cosine is one IEEE divide by the
    product sqrt(_qn2)·sqrt(_cn2) computed with one sqrt per operand —
    the same three double ops as
    ``CAST(dot AS DOUBLE) / (sqrt(_qn2) * sqrt(_cn2))``. n2 > 0 on
    both sides (the _with_int8 contract), so no NaN/±inf rows exist
    and numpy's lexsort order equals Spark's DESC NULLS LAST ordering.
    Returns (query_id, neighbor_id) of the global top-n per query,
    self-pairs excluded."""
    from pyspark.sql import Window as W

    _ensure_worker_imports(c)
    rows = q.select("query_id", "_qq", "_qn2").collect()
    if len(rows) > _COLLECT_CAP:
        raise ValueError(
            f"arrow kernel small side has {len(rows)} rows "
            f"(cap {_COLLECT_CAP}): refusing to collect a corpus"
        )
    rows.sort(key=lambda r: r[0])
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    QQ = (
        np.array([r[1] for r in rows], dtype=np.int64)
        if rows
        else np.zeros((0, 0), dtype=np.int64)
    )
    qden = np.sqrt(
        np.array([r[2] for r in rows], dtype=np.int64).astype(np.float64)
    )
    nq = len(qids)
    src = c.select("neighbor_id", "_cq", "_cn2")
    schema = "query_id bigint, neighbor_id bigint, _qcos double"

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            nids = b.column(0).to_numpy(zero_copy_only=False)
            CQ = _list_to_imat(b.column(1))
            cn2 = b.column(2).to_numpy(zero_copy_only=False)
            nb = len(nids)
            if nb == 0 or nq == 0:
                continue
            dot = CQ @ QQ.T  # int64, exact
            cden = np.sqrt(cn2.astype(np.float64))
            cos = dot.astype(np.float64) / (qden[None, :] * cden[:, None])
            kk = min(n, nb)
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                col = cos[:, j]
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
                ["query_id", "neighbor_id", "_qcos"],
            )

    local = src.mapInArrow(kernel, schema)
    w = W.partitionBy("query_id").orderBy(
        F.col("_qcos").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("_qrank", F.row_number().over(w))
        .filter(F.col("_qrank") <= n)
        .select("query_id", "neighbor_id")
    )
