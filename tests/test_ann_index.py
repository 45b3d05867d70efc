"""Persisted ANN index (operators/ann_index.py): build-once semantics,
fingerprint invalidation, and the persistence theorem (served results
== end-to-end results, which the shared oracles also check)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdatafinalproject_spark.catalog import load_table, table_path
from bigdatafinalproject_spark.operators.ann import ivf_topk
from bigdatafinalproject_spark.operators.ann_index import (
    corpus_fingerprint,
    ensure_ivf_index,
    index_is_current,
    ivf_index_search,
)
from tests.conftest import SF_DIR

_PARAMS = dict(
    centroid_mod=37, max_centroids=64, train_rounds=2, multi_assign=3
)


def _tbl(spark, index_dir, table):
    """Read an index table the way serves do (v6): unit dirs resolved
    from the manifest — tests must never assume the flat layout."""
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        _read_table,
    )

    return _read_table(spark, index_dir, _manifest(index_dir), table)


def _tbl_files(index_dir, table):
    """Parquet file count across a table's manifest-referenced unit
    dirs (v6) — the physical-layout assertion surface."""
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        _unit_paths,
    )

    n = 0
    for p in _unit_paths(index_dir, _manifest(index_dir), table):
        if os.path.isdir(p):
            n += sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    return n


def _read_sizes(spark, cpaths):
    """Reference fold of a cell_sizes partial-count log: each batch
    adds a <=C-row file of (centroid_id, _csz) partials, so the table
    is their per-cell sum — what the manifest's folded snapshot (the
    only form serves read) must always equal."""
    return (
        spark.read.parquet(*cpaths)
        .groupBy("centroid_id")
        .agg(F.sum("_csz").alias("_csz"))
    )


def _writer_state(idx):
    """The manifest bytes and the writer-log, fence and stage listings
    of ``idx`` — what a refused writer verb must leave unchanged."""

    def listing(*parts):
        d = os.path.join(idx, *parts)
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    return (
        open(os.path.join(idx, "_meta.json")).read(),
        listing("_applog"),
        listing("_fence"),
        [n for n in os.listdir(idx) if ".tmp." in n],
    )


def _assert_manifest_refused(spark, idx, serve, append, match):
    """A manifest that breaks the schema is refused LOUDLY by the serve
    (``serve()``) and by every writer verb — append (``append()``),
    compact_index, minor_compact_index and retract_batch — each error
    naming ``_meta.json`` and the key (``match``); no verb leaves a
    claim, a fence marker or a stage behind, and the manifest bytes
    stay as forged."""
    import bigdatafinalproject_spark.operators.ann_index as annidx

    before = _writer_state(idx)
    verbs = (
        serve,
        append,
        lambda: annidx.compact_index(spark, idx),
        lambda: annidx.minor_compact_index(spark, idx, keep_recent=0),
        lambda: annidx.retract_batch(idx, 0),
    )
    for verb in verbs:
        with pytest.raises(ValueError, match=rf"_meta\.json: {match}"):
            verb()
    assert _writer_state(idx) == before and not before[3]


def test_index_build_once_serve_identical_and_invalidate(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    idx = str(tmp_path / "ivf_idx")
    fp = corpus_fingerprint(table_path(SF_DIR, "embeddings"), **_PARAMS)

    ensure_ivf_index(spark, emb, idx, fp, **_PARAMS)
    meta = os.path.join(idx, "_meta.json")
    mtime = os.path.getmtime(meta)

    # persistence theorem: served results == end-to-end results
    served = {
        tuple(r)
        for r in ivf_index_search(
            spark, idx, emb, queries, k=10, nprobe=8
        ).collect()
    }
    direct = {
        tuple(r)
        for r in ivf_topk(emb, queries, k=10, nprobe=8, **{
            k: v for k, v in _PARAMS.items()
        }).collect()
    }
    assert served == direct and len(served) > 0

    # build-once: an unchanged fingerprint does not rebuild
    ensure_ivf_index(spark, emb, idx, fp, **_PARAMS)
    assert os.path.getmtime(meta) == mtime
    assert index_is_current(idx, "ivf", fp)

    # changed hyperparameters -> different fingerprint -> rebuild
    fp2 = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), **{**_PARAMS, "multi_assign": 2}
    )
    assert fp2 != fp
    assert not index_is_current(idx, "ivf", fp2)
    ensure_ivf_index(
        spark, emb, idx, fp2, **{**_PARAMS, "multi_assign": 2}
    )
    assert index_is_current(idx, "pq", fp2) is False  # kind-checked too
    assert index_is_current(idx, "ivf", fp2)
    assert os.path.getmtime(meta) > mtime


def test_crashed_build_leaves_no_manifest_and_rebuilds(spark, tmp_path):
    """The manifest is the commit record: a build interrupted before
    _commit leaves tables without _meta.json, which ensure_* treats as
    absent (no partial index ever serves)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf_crash")
    fp = corpus_fingerprint(table_path(SF_DIR, "embeddings"), **_PARAMS)
    ensure_ivf_index(spark, emb, idx, fp, **_PARAMS)
    os.remove(os.path.join(idx, "_meta.json"))  # simulate pre-commit crash
    assert not index_is_current(idx, "ivf", fp)
    ensure_ivf_index(spark, emb, idx, fp, **_PARAMS)
    assert index_is_current(idx, "ivf", fp)


def test_append_batch_ids_make_redelivery_idempotent(spark, tmp_path):
    """The index manifest records applied batch ids: a redelivered
    batch (same id) is skipped, so checkpoint-replayed micro-batches
    cannot double-append codes/norms (a double-append would double ADC
    scores — the streaming maintenance oracle would catch it)."""
    import json
    import os

    from pyspark.sql import functions as F

    from bigdatafinalproject_spark.catalog import load_table, table_path
    from bigdatafinalproject_spark.operators.ann_index import (
        corpus_fingerprint,
        ensure_pq_index,
        pq_index_append,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    params = dict(
        m=16, dim=64, codeword_mod=13, max_codewords=64, train_rounds=1
    )
    idx = str(tmp_path / "pq_redeliver")
    fp = corpus_fingerprint(table_path(SF_DIR, "embeddings"), **params)
    ensure_pq_index(spark, base, idx, fp, **params)

    pq_index_append(spark, idx, delta, batch_id=0)
    n_codes = _tbl(spark, idx, "codes").count()
    n_norms = _tbl(spark, idx, "norms").count()

    # redelivery: same batch id -> idempotent skip, nothing grows
    pq_index_append(spark, idx, delta, batch_id=0)
    assert _tbl(spark, idx, "codes").count() == n_codes
    assert _tbl(spark, idx, "norms").count() == n_norms
    meta = json.load(open(os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [0]

    # a NEW batch id applies (empty delta is fine for the protocol)
    pq_index_append(spark, idx, delta.limit(0), batch_id=1)
    meta = json.load(open(os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [0, 1]


def test_threaded_double_build_installs_one_current_index(spark, tmp_path):
    """Two builders racing for the SAME fingerprint: whatever the
    interleaving, both calls return, the index ends current, serves
    correct results, and no writer-unique tmp dirs are left behind
    (deterministic builds mean either winner's bytes are right)."""
    import glob
    import threading

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf_race")
    fp = corpus_fingerprint(table_path(SF_DIR, "embeddings"), **_PARAMS)
    errors = []
    barrier = threading.Barrier(2)

    def build():
        try:
            barrier.wait()
            ensure_ivf_index(spark, emb, idx, fp, **_PARAMS)
        except Exception as e:  # noqa: BLE001 - recorded for the assert
            errors.append(e)

    ts = [threading.Thread(target=build) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    assert index_is_current(idx, "ivf", fp)
    assert not glob.glob(f"{idx}.build.*"), "abandoned build tmp dirs"
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    assert ivf_index_search(spark, idx, emb, queries, k=10).count() > 0


def _pq_params():
    return dict(
        m=16, dim=64, codeword_mod=13, max_codewords=64, train_rounds=1
    )


def _build_pq_base(spark, tmp_path, name):
    from bigdatafinalproject_spark.operators.ann_index import ensure_pq_index

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    params = _pq_params()
    idx = str(tmp_path / name)
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **params
    )
    ensure_pq_index(spark, base, idx, fp, **params)
    return emb, base, delta, idx


@pytest.mark.parametrize("mode", ["lease", "pid"])
def test_threaded_two_appender_race_both_batches_land_exactly_once(
    spark, tmp_path, monkeypatch, mode
):
    """VERDICT r8 #1: two CONCURRENT appenders of different batches.
    The _applog CAS serializes them — the loser waits for the winner's
    recommit and re-reads, so whatever the interleaving both batches
    land exactly once (applied_batches = both ids, codes/norms counts
    = base + each delta once, manifest never loses an entry). Raced
    in BOTH claim modes (r11: lease became the default, pid the
    opt-in) so neither liveness rule can silently rot."""
    import json
    import threading

    from bigdatafinalproject_spark.operators.ann_index import (
        pq_index_append,
    )

    monkeypatch.setenv("BDFP_ANN_CLAIM_MODE", mode)
    emb, base, delta, idx = _build_pq_base(spark, tmp_path, f"pq_race_{mode}")
    d0 = delta.filter(F.col("vec_id") % 2 == 0)
    d1 = delta.filter(F.col("vec_id") % 2 != 0)
    n_base = base.count()
    n0, n1 = d0.count(), d1.count()
    errors = []
    barrier = threading.Barrier(2)

    def appender(bdf, bid):
        try:
            barrier.wait()
            pq_index_append(spark, idx, bdf, batch_id=bid)
        except Exception as e:  # noqa: BLE001 - recorded for the assert
            errors.append(e)

    ts = [
        threading.Thread(target=appender, args=(d0, 10)),
        threading.Thread(target=appender, args=(d1, 11)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    meta = json.load(open(os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [10, 11]
    assert meta["appended_rows"] == n0 + n1
    # exactly-once content: every vector encoded exactly once
    assert _tbl(spark, idx, "norms").count() == n_base + n0 + n1
    codes = _tbl(spark, idx, "codes")
    assert codes.count() == (n_base + n0 + n1) * 16
    assert (
        codes.groupBy("neighbor_id").count().filter(F.col("count") != 16)
    ).count() == 0


def test_threaded_same_batch_race_lands_exactly_once(spark, tmp_path):
    """Two concurrent deliveries of the SAME batch id (zombie retry):
    the CAS winner appends; the loser re-reads after the recommit and
    idempotently skips — never a double-append."""
    import json
    import threading

    from bigdatafinalproject_spark.operators.ann_index import (
        pq_index_append,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_zombie")
    n_base, n_delta = base.count(), delta.count()
    errors = []
    barrier = threading.Barrier(2)

    def appender():
        try:
            barrier.wait()
            pq_index_append(spark, idx, delta, batch_id=7)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=appender) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    meta = json.load(open(os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [7]
    assert meta["appended_rows"] == n_delta
    assert _tbl(spark, idx, "norms").count() == n_base + n_delta


def test_serve_params_come_from_manifest(spark, tmp_path):
    """VERDICT r8 'what's wrong' #2: pq_index_search reads the
    subspace layout from the MANIFEST; a caller-supplied mismatched m
    or dim raises instead of silently joining wrong subspaces, and the
    no-args call serves with the built layout."""
    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        pq_index_search,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_params")
    queries = emb.filter(F.col("vec_id") % 500 == 0)
    # manifest layout (m=16) serves without the caller naming it
    assert pq_index_search(spark, idx, emb, queries, k=5).count() > 0
    # matching explicit values are accepted
    assert (
        pq_index_search(spark, idx, emb, queries, k=5, m=16, dim=64).count()
        > 0
    )
    with pytest.raises(ValueError, match="manifest wins"):
        pq_index_search(spark, idx, emb, queries, k=5, m=8)
    with pytest.raises(ValueError, match="manifest wins"):
        pq_index_search(spark, idx, emb, queries, k=5, dim=32)


def test_compact_preserves_content_batches_and_counters(spark, tmp_path):
    """compact_index rewrites the appended codes/norms file sets:
    fewer files, BIT-IDENTICAL serve results, applied_batches and the
    retrain counters preserved (so redelivery idempotence and the
    drift budget survive OPTIMIZE)."""
    import json

    from bigdatafinalproject_spark.operators.ann_index import (
        compact_index,
        pq_index_append,
        pq_index_search,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_compact")
    pq_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 == 0),
                    batch_id=0)
    pq_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 != 0),
                    batch_id=1)
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    pre = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=10).collect()
    }
    meta_pre = json.load(open(os.path.join(idx, "_meta.json")))

    stats = compact_index(spark, idx)
    assert set(stats) == {"codes", "norms"}
    for t, (before, after) in stats.items():
        assert after < before, (t, before, after)

    post = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=10).collect()
    }
    assert post == pre and len(post) > 0
    meta_post = json.load(open(os.path.join(idx, "_meta.json")))
    assert meta_post["applied_batches"] == meta_pre["applied_batches"]
    assert meta_post["appended_rows"] == meta_pre["appended_rows"]
    assert meta_post["base_rows"] == meta_pre["base_rows"]
    assert meta_post["mver"] == meta_pre["mver"] + 1
    # redelivery of an already-applied batch is still a skip
    pq_index_append(spark, idx, delta, batch_id=1)
    assert _tbl(spark, idx, "norms").count() == (
        base.count() + delta.count()
    )


def test_crash_mid_compact_never_serves_half_compacted(spark, tmp_path):
    """A compaction that dies after invalidating the manifest (mid
    table swap) leaves a NON-CURRENT index: search refuses, ensure_*
    rebuilds — a half-compacted index never serves silently."""
    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        ensure_pq_index,
        pq_index_search,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_crash")
    params = _pq_params()
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **params
    )
    # simulate the crash window: manifest invalidated, one table
    # renamed aside, death before the swap completes
    os.remove(os.path.join(idx, "_meta.json"))
    os.rename(os.path.join(idx, "codes"), os.path.join(idx, "codes.gone"))
    assert not index_is_current(idx, "pq", fp)
    queries = emb.filter(F.col("vec_id") % 500 == 0)
    with pytest.raises(ValueError, match="no committed pq index"):
        pq_index_search(spark, idx, emb, queries, k=5)
    ensure_pq_index(spark, base, idx, fp, **params)
    assert index_is_current(idx, "pq", fp)
    assert pq_index_search(spark, idx, emb, queries, k=5).count() > 0


def test_needs_retrain_flips_past_budget_and_rebuild_resets(
    spark, tmp_path
):
    """The retrain trigger: appended_rows/base_rows crossing the
    budget flips the flag; a rebuild (retrain) records fresh base_rows
    and zero appended_rows, resetting it."""
    import shutil as _shutil

    from bigdatafinalproject_spark.operators.ann_index import (
        ensure_pq_index,
        needs_retrain,
        pq_index_append,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_retrain")
    # fresh index: nothing appended, never due
    assert needs_retrain(idx, max_appended_frac=0.0) is False
    pq_index_append(spark, idx, delta, batch_id=0)
    # delta is ~1/2 of base here (1/3 vs 2/3 of the corpus)
    assert needs_retrain(idx, max_appended_frac=0.4) is True
    assert needs_retrain(idx, max_appended_frac=0.6) is False
    # retrain = rebuild on the full corpus under its own fingerprint
    params = _pq_params()
    fp_full = corpus_fingerprint(table_path(SF_DIR, "embeddings"), **params)
    _shutil.rmtree(idx)
    ensure_pq_index(spark, emb, idx, fp_full, **params)
    assert needs_retrain(idx, max_appended_frac=0.0) is False


def test_search_refuses_mid_append_invalidated_index(spark, tmp_path):
    """The manifest-removed state (a writer mid-append, or a crash)
    must refuse to serve: reading the tables then could observe a
    partially-appended batch."""
    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        ivf_index_search,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf_midmaint")
    fp = corpus_fingerprint(table_path(SF_DIR, "embeddings"), **_PARAMS)
    ensure_ivf_index(spark, emb, idx, fp, **_PARAMS)
    os.remove(os.path.join(idx, "_meta.json"))
    with pytest.raises(ValueError, match="no committed ivf index"):
        ivf_index_search(spark, idx, emb, emb.limit(5), k=5)


def test_compact_ivf_postings_content_neutral(spark, tmp_path):
    """compact_index on the IVF kind: the appended postings file sets
    rewrite to fewer files with bit-identical serve results."""
    from bigdatafinalproject_spark.operators.ann_index import (
        compact_index,
        ivf_index_append,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_compact")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    ivf_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 == 0),
                     batch_id=0)
    ivf_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 != 0),
                     batch_id=1)
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    pre = {
        tuple(r)
        for r in ivf_index_search(spark, idx, emb, queries, k=10).collect()
    }
    stats = compact_index(spark, idx)
    # v5: the cell_sizes partial-count log is an append target too —
    # compaction collapses its per-batch files alongside the postings
    assert set(stats) == {"postings", "cell_sizes"}
    before, after = stats["postings"]
    assert after < before, (before, after)
    cs_before, cs_after = stats["cell_sizes"]
    assert cs_after < cs_before, (cs_before, cs_after)
    post = {
        tuple(r)
        for r in ivf_index_search(spark, idx, emb, queries, k=10).collect()
    }
    assert post == pre and len(post) > 0


def test_dead_claimant_slot_is_skipped_and_log_pruned(spark, tmp_path):
    """A writer that died between its CAS claim and the manifest
    invalidate leaves a claim from a DEAD pid: the next appender skips
    the dead slot (pid-probed, never a time heuristic) and proceeds;
    after its recommit the spent log entries are pruned."""
    import json
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        pq_index_append,
    )
    from bigdatafinalproject_spark.operators.txlog import commit_exclusive

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_deadpid")
    # dead claimant at slot 1 (pid 2^22+7 is far above pid_max here)
    commit_exclusive(
        _os.path.join(idx, "_applog"), 1,
        {"op": "append", "batch_id": 99, "pid": 4194311},
    )
    pq_index_append(spark, idx, delta, batch_id=0)
    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [0]
    assert meta["mver"] == 2  # slot 1 skipped, never reused
    # spent entries below mver are pruned; the winning claim remains
    entries = sorted(_os.listdir(_os.path.join(idx, "_applog")))
    assert entries == ["v000000000002.json"]


def test_live_foreign_claim_times_out_without_rebuild_advice(
    spark, tmp_path
):
    """A claim held by a LIVE pid (here: our own, simulating a writer
    whose Spark job outlasts the wait) makes a contending appender
    time out with a retry-later error naming the live claim — never
    the no-index ValueError. With the manifest gone (maintenance only
    ever REPLACES it, so this is an index that was never built) the
    writer refuses at once, naming ``_meta.json``, instead of waiting
    on the live claim."""
    import os as _os
    import time as _time

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        _writer_txn,
    )
    from bigdatafinalproject_spark.operators.txlog import (
        ConcurrentWriteError,
        commit_exclusive,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_livepid")
    commit_exclusive(
        _os.path.join(idx, "_applog"), 1,
        {"op": "append", "batch_id": 99, "pid": _os.getpid()},
    )
    with pytest.raises(ConcurrentWriteError, match="live claim"):
        _writer_txn(idx, 0, "append", wait_s=0.3)
    _os.remove(_os.path.join(idx, "_meta.json"))
    t0 = _time.monotonic()
    with pytest.raises(ValueError, match=r"no committed index.*_meta\.json"):
        _writer_txn(idx, 0, "append", wait_s=60.0)
    assert _time.monotonic() - t0 < 10, "waited on the live claim"


def test_base_rows_recorded_without_extra_corpus_scan(spark, tmp_path):
    """base_rows must equal the corpus cardinality for both kinds
    (derived from the written index tables' parquet footers)."""
    import json
    import os as _os

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    idx = str(tmp_path / "ivf_baserows")
    fp = corpus_fingerprint(table_path(SF_DIR, "embeddings"), **_PARAMS)
    ensure_ivf_index(spark, emb, idx, fp, **_PARAMS)
    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta["base_rows"] == n


def test_clone_index_is_writer_private_and_refuses_uncommitted(
    spark, tmp_path
):
    """clone_index forks a committed index for mutation: appends to
    the clone never touch the source (the cached base build stays
    pristine for the next clone), the clone starts its own writer
    history, and an uncommitted (mid-maintenance) source refuses to
    fork."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        clone_index,
        pq_index_append,
    )

    emb, base, delta, src = _build_pq_base(spark, tmp_path, "pq_clonesrc")
    n_base = base.count()
    dst = str(tmp_path / "pq_clonedst")
    clone_index(src, dst)
    pq_index_append(spark, dst, delta, batch_id=0)
    # source untouched: no appended rows, no writer log, manifest clean
    assert _tbl(spark, src, "norms").count() == n_base
    src_meta = json.load(open(_os.path.join(src, "_meta.json")))
    assert src_meta["applied_batches"] == []
    assert src_meta["appended_rows"] == 0
    assert not _os.path.exists(_os.path.join(src, "_applog"))
    # clone carries the append
    dst_meta = json.load(open(_os.path.join(dst, "_meta.json")))
    assert dst_meta["applied_batches"] == [0]
    # an invalidated source cannot be forked
    _os.remove(_os.path.join(src, "_meta.json"))
    with pytest.raises(ValueError, match="no committed index"):
        clone_index(src, str(tmp_path / "pq_clonedst2"))


def test_gc_spares_other_training_subset_same_source(spark, tmp_path):
    """The shared-cache GC keys on (kind, src, TRAINING SUBSET): a
    base-trained maintenance snapshot and the full-corpus serving
    index of the same source must coexist — keying on (kind, src)
    alone made them evict each other on every alternate install (r9
    follow-up). A superseded entry of the SAME subset is still GC'd."""
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        _gc_superseded,
        ensure_pq_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    params = _pq_params()
    src = table_path(SF_DIR, "embeddings")
    root = tmp_path / "cache"
    root.mkdir()
    full_dir = str(root / "pq_full")
    base_dir = str(root / "pq_base")
    ensure_pq_index(spark, emb, full_dir, "fp_full", src=src, **params)
    ensure_pq_index(
        spark, base, base_dir, "fp_base", src=src, subset="b", **params
    )
    # installing the base entry must NOT have evicted the full entry
    assert _os.path.isdir(full_dir)
    assert _os.path.isdir(base_dir)
    # a SECOND full-corpus entry (new fingerprint: corpus version bump)
    # evicts the old full entry but spares the base snapshot
    full2 = str(root / "pq_full2")
    ensure_pq_index(spark, emb, full2, "fp_full2", src=src, **params)
    _gc_superseded(full2, "pq", src)
    assert not _os.path.isdir(full_dir)
    assert _os.path.isdir(base_dir)
    assert _os.path.isdir(full2)


def test_claim_released_on_pre_invalidate_failure_unwedges(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: a writer failing between its CAS claim and the
    manifest invalidate must RELEASE the claim — the slot was never
    consumed (manifest untouched), and an abandoned live-pid claim
    would make every later writer in this process wait out the full
    writer timeout. After the failed attempt, a normal append with a
    SHORT wait must succeed immediately and the log must hold only the
    winning claim."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators import ann_index as ai

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_release")

    def boom(path):
        raise RuntimeError("transient footer read failure")

    monkeypatch.setattr(ai, "_footer_rows", boom)
    with pytest.raises(RuntimeError, match="transient footer"):
        ai.pq_index_append(spark, idx, delta, batch_id=0)
    monkeypatch.undo()
    # the failed attempt released its claim: no entries in the log,
    # manifest still committed (the index was never invalidated)
    assert sorted(_os.listdir(_os.path.join(idx, "_applog"))) == []
    assert _os.path.exists(_os.path.join(idx, "_meta.json"))
    # a retry in the SAME process proceeds immediately (a leaked claim
    # would make it wait out the full 300 s writer timeout and raise)
    ai.pq_index_append(spark, idx, delta, batch_id=0)
    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [0]


def test_compact_unknown_kind_rejected_before_claiming(spark, tmp_path):
    """ADVICE r9: compact_index validates the index kind BEFORE
    claiming a writer slot — an unknown-kind error must not consume
    (or abandon) a slot."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import compact_index

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_badkind")
    meta_path = _os.path.join(idx, "_meta.json")
    meta = json.load(open(meta_path))
    meta["kind"] = "mystery"
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(ValueError, match="unknown index kind"):
        compact_index(spark, idx)
    # no writer slot was claimed or abandoned
    log = _os.path.join(idx, "_applog")
    assert not _os.path.exists(log) or _os.listdir(log) == []


def test_spent_slot_claim_is_rejected_after_cas(spark, tmp_path):
    """Post-claim validation: a writer whose manifest snapshot went
    stale between read and CAS — and whose target slot was already
    filled AND pruned by faster writers — must not proceed with the
    stale slot; the claim is released and contention surfaced."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        _claim_writer,
        _read_knobs,
        pq_index_append,
    )
    from bigdatafinalproject_spark.operators.txlog import (
        ConcurrentWriteError,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_spent")
    stale = json.load(open(_os.path.join(idx, "_meta.json")))  # mver 0
    pq_index_append(spark, idx, delta, batch_id=0)  # advances mver to 1
    # simulate the winner's claim entry being pruned by later activity
    log = _os.path.join(idx, "_applog")
    for n in _os.listdir(log):
        _os.remove(_os.path.join(log, n))
    with pytest.raises(ConcurrentWriteError, match="already spent"):
        _claim_writer(
            idx, stale, {"op": "append", "batch_id": 9}, _read_knobs()
        )
    assert _os.listdir(log) == []  # the doomed claim was released


def test_lease_mode_two_appender_race_lands_exactly_once(
    spark, tmp_path, monkeypatch
):
    """VERDICT r9 #2: the lease-based claim mode (the object-store-
    portable protocol) must pass the same two-appender race as pid
    mode — a short lease with background renewal outlives the Spark
    work, both batches land exactly once, and no renewer survives the
    recommit."""
    import json
    import threading

    from bigdatafinalproject_spark.operators import ann_index as ai

    monkeypatch.setenv("BDFP_ANN_CLAIM_MODE", "lease")
    monkeypatch.setenv("BDFP_ANN_LEASE_S", "2.0")
    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_lease")
    d0 = delta.filter(F.col("vec_id") % 2 == 0)
    d1 = delta.filter(F.col("vec_id") % 2 != 0)
    n_base = base.count()
    n0, n1 = d0.count(), d1.count()
    errors = []
    barrier = threading.Barrier(2)

    def appender(bdf, bid):
        try:
            barrier.wait()
            ai.pq_index_append(spark, idx, bdf, batch_id=bid)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [
        threading.Thread(target=appender, args=(d0, 10)),
        threading.Thread(target=appender, args=(d1, 11)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    meta = json.load(open(os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [10, 11]
    assert meta["appended_rows"] == n0 + n1
    assert _tbl(spark, idx, "norms").count() == n_base + n0 + n1
    assert not ai._RENEWERS, "renewers must stop at recommit"


def test_lease_expired_claim_is_skipped_live_lease_blocks(
    spark, tmp_path, monkeypatch
):
    """Lease-mode liveness: an EXPIRED lease claim is a crashed
    claimant (slot skipped, never reused); an unexpired one blocks a
    contender exactly as a live pid does. Claims are self-describing —
    this holds regardless of the contender's own mode."""
    import json
    import os as _os
    import time as _time

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        _writer_txn,
        pq_index_append,
    )
    from bigdatafinalproject_spark.operators.txlog import (
        ConcurrentWriteError,
        commit_exclusive,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_leaseexp")
    log = _os.path.join(idx, "_applog")
    # expired lease at slot 1 (even from a LIVE pid: in lease mode the
    # lease, not the pid, carries liveness — the cross-host semantics)
    commit_exclusive(
        log, 1,
        {"op": "append", "batch_id": 99, "pid": _os.getpid(),
         "mode": "lease", "lease_expiry": _time.time() - 10.0},
    )
    pq_index_append(spark, idx, delta, batch_id=0)
    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [0]
    assert meta["mver"] == 2  # dead slot skipped, never reused
    # a LIVE lease blocks the contender until timeout
    commit_exclusive(
        log, 3,
        {"op": "append", "batch_id": 98, "pid": 4194311,
         "mode": "lease", "lease_expiry": _time.time() + 3600.0},
    )
    with pytest.raises(ConcurrentWriteError, match="live claim"):
        _writer_txn(idx, 1, "append", wait_s=0.3)


def test_commit_exclusive_payload_is_atomic(tmp_path):
    """txlog claims are payload-atomic (ADVICE r9): a visible entry
    always parses with its full payload — committed by os.link of a
    fully-written temp file — and no temp files survive either the win
    or the loss."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.txlog import (
        ConcurrentWriteError,
        commit_exclusive,
        entry_path,
    )

    log = str(tmp_path / "log")
    commit_exclusive(log, 1, {"pid": 123, "op": "append"})
    assert json.load(open(entry_path(log, 1))) == {
        "pid": 123, "op": "append"
    }
    with pytest.raises(ConcurrentWriteError):
        commit_exclusive(log, 1, {"pid": 456})
    # the loser's payload never replaced the winner's
    assert json.load(open(entry_path(log, 1)))["pid"] == 123
    assert [n for n in _os.listdir(log) if n.startswith(".claim.")] == []


def test_ivf_base_rows_exact_with_fewer_centroids_than_multi(
    spark, tmp_path
):
    """ADVICE r9: ensure_ivf_index divides the postings row count by
    min(multi_assign, |centroids|) — the exact per-vector posting count
    — so an index with fewer cells than multi_assign records the true
    base cardinality (bare multi would undercount it and fire
    needs_retrain early)."""
    import json
    import os as _os

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    params = dict(
        centroid_mod=37, max_centroids=2, train_rounds=0, multi_assign=3
    )
    idx = str(tmp_path / "ivf_fewcells")
    fp = corpus_fingerprint(table_path(SF_DIR, "embeddings"), **params)
    ensure_ivf_index(spark, emb, idx, fp, **params)
    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta["base_rows"] == n


def test_ivfpq_cell_sizes_maintained_not_rescanned(spark, tmp_path):
    """r10 review #2 / v5: the ivfpq index persists a cell-size table
    at build and MAINTAINS it through appends. v5 appends PARTIAL
    per-batch counts (derived from the just-appended codes files —
    one pass over the delta, no staged merge), so the reader-side
    SUM of the table must equal the aggregate derived from codes
    after any append — and the serve path must actually read it
    (manifest lists it)."""
    import json
    import os as _os

    from pyspark.sql import functions as F

    from bigdatafinalproject_spark.operators.ann_index import (
        corpus_fingerprint,
        ensure_ivfpq_index,
        ivfpq_index_append,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    params = dict(
        centroid_mod=37, max_centroids=64, train_rounds=1,
        multi_assign=3, m=16, dim=64, codeword_mod=13, max_codewords=64,
    )
    idx = str(tmp_path / "ivfpq_sizes")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **params
    )
    ensure_ivfpq_index(spark, base, idx, fp, **params)
    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert "cell_sizes" in meta["tables"]

    def maintained():
        # the reader-side view: sum of the v5 partial-count log
        agg: dict = {}
        for r in _tbl(spark, idx, "cell_sizes").collect():
            agg[r.centroid_id] = agg.get(r.centroid_id, 0) + r._csz
        return set(agg.items())

    def derived():
        return {
            (r.centroid_id, r.cnt)
            for r in _tbl(spark, idx, "codes")
            .filter(F.col("s") == 0)
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    assert maintained() == derived()
    ivfpq_index_append(spark, idx, delta, batch_id=0)
    assert maintained() == derived()  # partial counts sum exact


def test_ivf_cell_sizes_maintained_not_rescanned(spark, tmp_path):
    """v4/v5 (IVF half of the mass-probe retune): the ivf index
    persists a cell-size table at build and MAINTAINS it through
    appends — v5 as PARTIAL per-batch counts appended in one pass
    over the delta — so the mass-budgeted probe never re-scans the
    postings relation at serve time. The reader-side SUM must equal
    the aggregate derived from postings after any append — and
    mass-probed serves over the maintained index must match a legacy
    serve that derives sizes from postings directly (same probe
    rule, two size sources)."""
    import json
    import os as _os

    from bigdatafinalproject_spark.operators.ann import (
        IVF_PROBE_MASS,
        centroid_panel,
        ivf_search_frames,
    )
    from bigdatafinalproject_spark.operators.ann_index import (
        ivf_index_append,
        ivf_index_search,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_sizes")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert "cell_sizes" in meta["tables"]

    def maintained():
        # the reader-side view: sum of the v5 partial-count log
        agg: dict = {}
        for r in _tbl(spark, idx, "cell_sizes").collect():
            agg[r.centroid_id] = agg.get(r.centroid_id, 0) + r._csz
        return set(agg.items())

    def derived():
        return {
            (r.centroid_id, r.cnt)
            for r in _tbl(spark, idx, "postings")
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    assert maintained() == derived()
    n_files_before = _tbl_files(idx, "cell_sizes")
    ivf_index_append(spark, idx, delta, batch_id=0)
    assert maintained() == derived()  # partial counts sum exact
    # v5 contract: the append ADDED a partial-count file — it did not
    # rewrite the table (the rewrite was the 1.5× append regression)
    n_files_after = _tbl_files(idx, "cell_sizes")
    assert n_files_after == n_files_before + 1

    # served results from the maintained table == a derived-size serve
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    served = {
        tuple(r)
        for r in ivf_index_search(
            spark, idx, emb, queries, k=10, probe_mass=IVF_PROBE_MASS
        ).collect()
    }
    centroids = _tbl(spark, idx, "centroids")
    postings = _tbl(spark, idx, "postings")
    legacy = {
        tuple(r)
        for r in ivf_search_frames(
            centroid_panel(centroids, "test"), postings, emb, queries, k=10,
            probe_mass=IVF_PROBE_MASS,
            mass_multi=_PARAMS["multi_assign"],
        ).collect()
    }
    assert served == legacy and len(served) > 0


def test_dedup_index_lifecycle_idempotence_and_refusal(spark, tmp_path):
    """The dedup kind under the shared index machinery: (a) a
    redelivered batch id is an idempotent SKIP (footer counts and
    applied_batches unchanged); (b) the maintained base+delta index
    answers exactly like one built on the full corpus (row-local
    extraction + left_semi checks — the maintenance theorem the
    driver oracle also proves); (c) a manifest-less (mid-maintenance)
    index refuses to serve."""
    import json
    import os as _os

    import pytest as _pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        dedup_index_append,
        dedup_index_check,
        ensure_dedup_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    base = corpus.filter(F.col("doc_id") % 3 != 0)
    delta = corpus.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    params = dict(text_col="text", id_col="doc_id", n=8,
                  num_hashes=16, bands=4)

    idx = str(tmp_path / "dedup_idx")
    ensure_dedup_index(spark, base, idx, "fp_base", **params)
    dedup_index_append(spark, idx, delta, batch_id=7)
    meta1 = json.load(open(_os.path.join(idx, "_meta.json")))
    rows1 = _tbl(spark, idx, "digests").count()
    # redelivery: same batch id must be a no-op
    dedup_index_append(spark, idx, delta, batch_id=7)
    meta2 = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta2["applied_batches"] == meta1["applied_batches"] == [7]
    assert _tbl(spark, idx, "digests").count() == rows1

    maintained = {
        (r.doc_id, r.status)
        for r in dedup_index_check(spark, idx, batch).collect()
    }
    full = str(tmp_path / "dedup_full")
    ensure_dedup_index(spark, corpus, full, "fp_full", **params)
    fresh = {
        (r.doc_id, r.status)
        for r in dedup_index_check(spark, full, batch).collect()
    }
    assert maintained == fresh and len(maintained) > 0

    _os.remove(_os.path.join(idx, "_meta.json"))
    with _pytest.raises(ValueError, match="no committed dedup index"):
        dedup_index_check(spark, idx, batch)


def test_legacy_index_missing_newer_table_refused_then_rebuilt(
    spark, tmp_path
):
    """A manifest that predates a newer kind table (a pre-r11 dedup
    index without winnow_fps) fails the schema check: the serves and
    every writer verb refuse it loudly, naming ``_meta.json`` and
    ``tables``, instead of compacting or serving around the missing
    table; ensure_* rebuilds over it."""
    import json
    import os as _os
    import shutil as _shutil

    from bigdatafinalproject_spark.operators.ann_index import (
        DEDUP_INDEX_PARAMS,
        dedup_index_append,
        dedup_index_check,
        dedup_index_contamination,
        ensure_dedup_index,
        index_is_current,
    )

    docs = load_table(spark, SF_DIR, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    params = dict(DEDUP_INDEX_PARAMS)
    idx = str(tmp_path / "dedup_legacy")
    ensure_dedup_index(spark, base, idx, "fp_leg", **params)
    dedup_index_append(spark, idx, delta, batch_id=0)
    # forge the pre-r11 shape: drop the table AND its manifest entry
    _shutil.rmtree(_os.path.join(idx, "winnow_fps"))
    mpath = _os.path.join(idx, "_meta.json")
    meta = json.load(open(mpath))
    meta["tables"] = ["digests", "bands"]
    del meta["units"]["winnow_fps"]
    json.dump(meta, open(mpath, "w"))

    _assert_manifest_refused(
        spark, idx,
        serve=lambda: dedup_index_check(spark, idx, batch),
        append=lambda: dedup_index_append(spark, idx, delta, batch_id=1),
        match="bad key 'tables'",
    )
    with pytest.raises(ValueError, match=r"_meta\.json: bad key 'tables'"):
        dedup_index_contamination(spark, idx, batch)
    assert not index_is_current(idx, "dedup", "fp_leg")
    ensure_dedup_index(spark, base, idx, "fp_leg", **params)
    assert index_is_current(idx, "dedup", "fp_leg")
    assert dedup_index_check(spark, idx, batch).count() > 0


def test_recommit_fence_refuses_stale_writer(tmp_path):
    """r11 review #2: a maintenance recommit that finds a manifest
    already at mver >= its claimed slot lost an arbitration it never
    saw (a lease-mode writer paused past its lease whose slot a
    contender advanced past) — it must RAISE, never overwrite the
    contender's recommit with stale applied_batches; a recommit into
    the normal invalidated (manifest-absent) state still lands."""
    import pytest as _pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        _commit,
        _manifest,
    )
    from bigdatafinalproject_spark.operators.txlog import (
        ConcurrentWriteError,
    )

    idx = str(tmp_path / "fenced")
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        _BUILD_DEFAULTS,
    )

    # every claimant creates the fence dir; _commit fails closed
    # without one
    _os.makedirs(_os.path.join(idx, "_fence"))
    tables = ["codebook", "codes", "norms"]
    pq = dict(kind="pq", fingerprint="fp", tables=tables,
              params=dict(_BUILD_DEFAULTS["pq"]), base_rows=0,
              units={t: [] for t in tables})
    # the contender recommitted slot 2 while we were stalled at slot 1
    _commit(idx, dict(pq, mver=2, applied_batches=[0, 1]))
    with _pytest.raises(ConcurrentWriteError, match="fenced"):
        _commit(idx, dict(pq, mver=1, applied_batches=[0]))
    assert _manifest(idx)["applied_batches"] == [0, 1]  # untouched
    # a dir with no manifest yet (a build's tmp dir) takes any commit
    _os.remove(_os.path.join(idx, "_meta.json"))
    _commit(idx, dict(pq, mver=3, applied_batches=[0, 1, 2]))
    assert _manifest(idx)["mver"] == 3


def test_dedup_index_winnow_fps_lifecycle(spark, tmp_path):
    """The r11 winnow_fps table through the index lifecycle: (a) the
    maintained base+appends table serves contamination stats exactly
    like an index built on the full corpus AND like the in-query
    operator (per-doc extraction + distinct-reduced check =>
    persisted ≡ maintained ≡ in-query); (b) a manifest that predates
    the table fails the schema check: the contamination serve refuses
    it, naming ``_meta.json`` and ``tables``, instead of serving
    around the missing table."""
    import json
    import os as _os

    import pytest as _pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        DEDUP_INDEX_PARAMS,
        dedup_index_append,
        dedup_index_contamination,
        ensure_dedup_index,
    )
    from bigdatafinalproject_spark.operators.dedup import (
        winnow_contamination,
    )

    docs = load_table(spark, SF_DIR, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    train = docs.filter(F.col("source") != "src0")
    params = dict(DEDUP_INDEX_PARAMS)

    idx = str(tmp_path / "dedup_win_idx")
    ensure_dedup_index(spark, base, idx, "fp_base", **params)
    dedup_index_append(spark, idx, delta, batch_id=0)
    maintained = {
        tuple(r)
        for r in dedup_index_contamination(spark, idx, train).collect()
    }
    full = str(tmp_path / "dedup_win_full")
    ensure_dedup_index(spark, docs, full, "fp_full", **params)
    fresh = {
        tuple(r)
        for r in dedup_index_contamination(spark, full, train).collect()
    }
    in_query = {
        tuple(r)
        for r in winnow_contamination(
            docs, "text", "doc_id", F.col("source") == "src0",
            k=int(params["win_k"]), w=int(params["win_w"]),
        ).collect()
    }
    assert maintained == fresh == in_query and len(maintained) > 0

    # legacy-index refusal: strip the table from the manifest
    mpath = _os.path.join(full, "_meta.json")
    meta = json.load(open(mpath))
    meta["tables"] = ["digests", "bands"]
    json.dump(meta, open(mpath, "w"))
    with _pytest.raises(ValueError, match=r"_meta\.json: bad key 'tables'"):
        dedup_index_contamination(spark, full, train)


def test_swept_stage_raises_instead_of_empty_commit(spark, tmp_path):
    """r11 review #1 (zombie-writer guard): a writer whose lease
    lapsed while paused between staging and adopt has had its stage
    swept by the contender that judged it dead. Recommitting anyway
    would record the batch as applied with ZERO data files adopted —
    silent, unrecoverable loss (redelivery skipped forever). The
    _finish_append guard must raise BEFORE touching the live
    manifest, leaving the serving index current and the batch
    retryable."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        ConcurrentWriteError,
        _finish_append,
        _writer_txn,
        ivf_index_append,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    idx = str(tmp_path / "ivf_zombie")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    meta_before = json.load(open(_os.path.join(idx, "_meta.json")))

    # simulate the zombie: claim a slot, point at a stage dir the
    # contender's sweep already removed
    meta, mver, knobs = _writer_txn(idx, 0, "append")
    with pytest.raises(ConcurrentWriteError, match="swept"):
        _finish_append(
            idx, _os.path.join(idx, f"_stage.tmp.{_os.getpid()}.{mver}"),
            ["postings", "cell_sizes"], meta, mver, 0, 1, knobs,
        )
    # the live manifest was never touched: the index still serves
    meta_after = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta_after == meta_before
    # and the slot was released: a real append on the same index
    # proceeds without waiting out a dead claim
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    ivf_index_append(spark, idx, delta, batch_id=0)
    meta_final = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta_final["applied_batches"] == [0]


def test_fence_blocks_both_alive_zombie_before_invalidate(spark, tmp_path):
    """r12 (VERDICT r11 #4): the BOTH-ALIVE interleaving the r11 swept-
    stage guard could not see — a paused-past-lease writer resumes
    while the contender that took over is mid-append and has NOT yet
    swept the zombie's stage. The fence epoch (advanced by every
    claimant) must make the zombie raise BEFORE it invalidates the
    manifest or adopts files over the contender's work; the zombie's
    claim is released and its stage removed."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        ConcurrentWriteError,
        _append_stage,
        _finish_append,
        _write_fence,
        _writer_txn,
        ivf_index_append,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    idx = str(tmp_path / "ivf_fence")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    meta_before = json.load(open(_os.path.join(idx, "_meta.json")))

    # the zombie: claims slot mver, stages real data, then stalls
    meta, mver, knobs = _writer_txn(idx, 0, "append")
    stage = _append_stage(idx, mver)
    _os.makedirs(_os.path.join(stage, "postings"))
    open(_os.path.join(stage, "postings", "part-0.parquet"), "w").close()
    # the contender: judged the zombie dead and advanced the fence to
    # its own slot (what _claim_writer does at claim time); the
    # zombie's stage is still intact — the r11 residual window
    _write_fence(idx, mver + 1)

    with pytest.raises(ConcurrentWriteError, match="fence"):
        _finish_append(
            idx, stage, ["postings"], meta, mver, 0, 1, knobs,
        )
    # the live manifest was never touched and the stage is gone
    meta_after = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta_after == meta_before
    assert not _os.path.isdir(stage)
    # complete the simulated contender: it recommits at its slot (a
    # real writer that fenced the zombie out either finishes — this —
    # or releases, which removes its marker; a marker without either
    # cannot exist). Later writers then claim PAST its slot and
    # advance the fence themselves.
    from bigdatafinalproject_spark.operators.ann_index import _commit

    _commit(idx, dict(
        kind=meta["kind"], fingerprint=meta["fingerprint"],
        tables=meta["tables"],
        src=meta.get("src"), params=meta.get("params", {}),
        applied_batches=meta.get("applied_batches", []),
        mver=mver + 1, base_rows=meta.get("base_rows"),
        appended_rows=int(meta.get("appended_rows", 0)),
        cell_sizes=meta.get("cell_sizes"),
        units=meta.get("units"),
    ))
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    ivf_index_append(spark, idx, delta, batch_id=0)
    assert json.load(
        open(_os.path.join(idx, "_meta.json"))
    )["applied_batches"] == [0]


def test_sweep_mid_adopt_aborts_precommit_index_serves(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 / v6 (r13): a contender's sweep landing BETWEEN
    _finish_append's existence/fence checks and the adopt renames must
    never record the batch as applied with missing files. Sweeps are
    rename-then-delete (_sweep_stage), so the race is a pair of atomic
    renames: when the sweeper wins, the owner's adopt fails ENOENT and
    aborts PRE-COMMIT — the serving manifest is untouched (pre-v6 this
    degraded to a loud non-current rebuild), the batch stays
    unrecorded, and a plain retry lands it."""
    import json
    import os as _os

    import pytest

    import bigdatafinalproject_spark.operators.ann_index as annidx

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_midadopt")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    meta_before = json.load(open(_os.path.join(idx, "_meta.json")))

    real_adopt = annidx._adopt_staged

    def sweep_then_adopt(stage, index_dir, tables, mver):
        # the contender's rename-aside sweep wins the race just before
        # the owner's adopt renames run
        annidx._sweep_stage(index_dir, _os.path.basename(stage))
        return real_adopt(stage, index_dir, tables, mver)

    monkeypatch.setattr(annidx, "_adopt_staged", sweep_then_adopt)
    with pytest.raises(annidx.ConcurrentWriteError, match="retry"):
        annidx.ivf_index_append(spark, idx, delta, batch_id=0)
    # pre-commit abort: the serving manifest is UNTOUCHED (v6 — no
    # invalidate window), the batch is not recorded, no unit leaked
    meta_after = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta_after == meta_before
    for t in ("postings", "cell_sizes"):
        units = meta_after["units"][t]
        assert sorted(
            n for n in _os.listdir(_os.path.join(idx, t))
            if not n.startswith("_")
        ) == sorted(units)
    # retry lands the batch exactly once
    monkeypatch.setattr(annidx, "_adopt_staged", real_adopt)
    annidx.ivf_index_append(spark, idx, delta, batch_id=0)
    assert json.load(
        open(_os.path.join(idx, "_meta.json"))
    )["applied_batches"] == [0]


def test_manifest_cell_sizes_snapshot_tracks_log(spark, tmp_path):
    """r12 (VERDICT r11 #1): the manifest carries the FOLDED cell-size
    snapshot so serves read <=C manifest rows instead of folding the
    v5 parquet log per search. The snapshot must equal the folded log
    after build, after an append, and after compaction (rewrite-only),
    and the serve path must produce identical results from either
    source."""
    import json
    import os as _os

    from bigdatafinalproject_spark.operators.ann import (
        IVF_PROBE_MASS,
        centroid_panel,
        ivf_search_frames,
        mass_schedule_for_n,
    )
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        _unit_paths,
        compact_index,
        ivf_index_append,
        ivf_index_search,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_snap")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)

    def snap():
        m = json.load(open(_os.path.join(idx, "_meta.json")))
        return {int(c): int(n) for c, n in m["cell_sizes"]}

    def folded():
        return {
            int(r["centroid_id"]): int(r["_csz"])
            for r in _read_sizes(
                spark, _unit_paths(idx, _manifest(idx), "cell_sizes")
            ).collect()
        }

    assert snap() == folded() and len(snap()) > 0
    ivf_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 == 0),
                     batch_id=0)
    ivf_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 != 0),
                     batch_id=1)
    assert snap() == folded()
    compact_index(spark, idx)
    assert snap() == folded()

    # serve equivalence: snapshot-fed serve == serve fed the log fold
    # (same clamped budget — the index was built without scale_ref, so
    # the manifest carries none and "auto" holds the base row)
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    served = {
        tuple(r)
        for r in ivf_index_search(
            spark, idx, emb, queries, k=10, probe_mass=IVF_PROBE_MASS
        ).collect()
    }
    centroids = _tbl(spark, idx, "centroids")
    postings = _tbl(spark, idx, "postings")
    legacy = {
        tuple(r)
        for r in ivf_search_frames(
            centroid_panel(centroids, "test"), postings, emb, queries, k=10,
            probe_mass=IVF_PROBE_MASS,
            cell_sizes=_read_sizes(
                spark, _unit_paths(idx, _manifest(idx), "cell_sizes")
            ),
            mass_multi=_PARAMS["multi_assign"],
        ).collect()
    }
    assert served == legacy and len(served) > 0
    # the clamp helper pins the calibrated steps (ADVICE r11: serve
    # schedule resolves at the BUILD step, from base_rows)
    assert mass_schedule_for_n(1333, 2000) == (3, 10)   # sf0.1 base
    assert mass_schedule_for_n(13334, 2000) == (3, 10)  # sf1 base
    assert mass_schedule_for_n(40000, 2000) == (1, 5)   # sf3 base
    assert mass_schedule_for_n(133334, 2000) == (3, 20)  # sf10 base


def test_appended_drift_floor_pinned_in_artifact():
    """VERDICT r11 #3: the appended-drift tier must hold recall@10
    >= 0.90 at every measured scale point (RECALL_SCALE.json is the
    shipped evidence; this pin makes a regression in a future retune
    a test failure, not a silent artifact drift). The retrained tier
    must match the full-trained tier exactly (retrain == full train)."""
    import json
    from pathlib import Path

    art = json.loads(
        (Path(__file__).resolve().parents[1] / "RECALL_SCALE.json")
        .read_text()
    )
    # r14 (VERDICT r13 #4): the floor also covers the hard clustered
    # fixtures (Zipf masses + overlapping clusters) — the isotropic
    # corpus proved too easy to discriminate, so the appended tier is
    # measured where the fixture can actually say no
    hard = {
        sf: rows
        for sf, rows in art["clustered"]["tiers"].items()
        if sf.endswith("_hard")
    }
    assert hard, "hard clustered fixtures missing from RECALL_SCALE"
    for sf, rows in {**art["recall_at_10"], **hard}.items():
        for tier in ("ivf_appended", "pq_appended", "ivfpq_appended"):
            assert rows[tier] >= 0.90, (sf, tier, rows[tier])
        assert rows["ivf_retrained"] == rows["ivf_trained"], sf
        assert rows["pq_retrained"] == rows["pq_trained"], sf
        assert rows["ivfpq_retrained"] == rows["ivfpq"], sf


def test_lease_paused_writer_race_lands_batches_exactly_once(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 #8: the two-writer race re-run under the lease
    DEFAULT with an injected whole-process pause — the interleaving
    that produced the original zombie hole. Writer A claims, stages,
    then 'pauses' mid-txn (its renewer is halted, so the lease lapses
    exactly as under SIGSTOP/VM freeze); contender B judges the slot
    dead, takes over, sweeps A's stage and lands its batch; A resumes
    and MUST abort loudly (swept-stage/fence guard), after which A's
    batch retries cleanly — both batches land exactly once, no silent
    loss, no double-append."""
    import json
    import os as _os
    import threading
    import time as _time

    import bigdatafinalproject_spark.operators.ann_index as annidx
    from bigdatafinalproject_spark.operators import txlog

    monkeypatch.setenv(txlog.CLAIM_MODE_ENV, "lease")
    monkeypatch.setenv(txlog.LEASE_S_ENV, "0.6")

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_pause")
    d0 = delta.filter(F.col("vec_id") % 2 == 0)
    d1 = delta.filter(F.col("vec_id") % 2 != 0)

    real_finish = annidx._finish_append
    paused = threading.Event()
    resume = threading.Event()
    state = {"armed": True}

    def pausing_finish(index_dir, stage, tables, meta, mver, batch_id,
                       n_delta, knobs, sizes_delta=None):
        if state["armed"]:
            state["armed"] = False
            # SIGSTOP analogue: the WHOLE process stalls, so renewal
            # ticks stop too — halt this claim's renewer and sleep
            # past the lease while the contender runs
            r = annidx._RENEWERS.get(
                txlog.entry_path(
                    _os.path.join(index_dir, annidx._APPLOG), mver
                )
            )
            if r is not None:
                r._stop.set()
                r._thread.join(timeout=10)
            paused.set()
            assert resume.wait(timeout=120)
        return real_finish(index_dir, stage, tables, meta, mver,
                           batch_id, n_delta, knobs, sizes_delta=sizes_delta)

    monkeypatch.setattr(annidx, "_finish_append", pausing_finish)

    errors: list = []

    def zombie():
        try:
            annidx.pq_index_append(spark, idx, d0, batch_id=0)
            errors.append("paused writer committed over the contender")
        except annidx.ConcurrentWriteError:
            pass  # the guard: loud abort, batch retryable
        except Exception as e:  # noqa: BLE001 - recorded for the assert
            errors.append(e)

    t = threading.Thread(target=zombie)
    t.start()
    assert paused.wait(timeout=300), "zombie never reached its txn tail"
    _time.sleep(1.2)  # un-renewed 0.6 s lease lapses

    # contender: judges the dead slot, takes over, lands batch 1
    annidx.pq_index_append(spark, idx, d1, batch_id=1)
    resume.set()
    t.join(timeout=300)
    assert not errors, errors

    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [1]
    # the zombie's batch was NOT silently recorded: redelivery lands it
    annidx.pq_index_append(spark, idx, d0, batch_id=0)
    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [0, 1]
    # exactly-once content: one norms row per corpus vector
    assert (
        _tbl(spark, idx, "norms").count() == emb.count()
    )


def test_released_claim_removes_fence_marker_slot_reusable(
    spark, tmp_path
):
    """r12 review follow-up: slot numbers are REUSED after a
    failure-release (the manifest never advanced), so a released
    writer must remove its fence marker — a stale marker from a
    failed contender would otherwise fence every later claimant of
    the same slot forever (a permanent maintenance livelock)."""
    import json
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        _end_claim,
        _fence_epoch,
        _writer_txn,
        ivf_index_append,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    idx = str(tmp_path / "ivf_release_fence")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)

    # a writer claims the slot (fence epoch advances), then fails
    # pre-invalidate and releases
    meta, mver, _ = _writer_txn(idx, None, "append")
    assert _fence_epoch(idx) == mver
    _end_claim(idx, mver, release=True)
    # marker gone with the claim; the permanent e0 FLOOR remains, so
    # the epoch drops to 0 instead of reading unfenced (r13, ADVICE
    # r12 #2: a present fence dir must always enforce)
    assert _fence_epoch(idx) == 0

    # the SAME slot is claimable again and a healthy append completes
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    ivf_index_append(spark, idx, delta, batch_id=0)
    m = json.load(open(_os.path.join(idx, "_meta.json")))
    assert m["applied_batches"] == [0] and m["mver"] == mver


def test_orphaned_fence_marker_swept_by_next_claimant(spark, tmp_path):
    """r12 review pass 2 #1: a contender SIGKILLed after its fence
    write (claim entry present but dead, marker present, nothing
    committed) must not wedge the index — the next claimant of the
    reusable lower slot sweeps the orphan at fence-write time and
    proceeds. A LIVE higher claim's marker is never swept."""
    import json
    import os as _os
    import time as _time

    from bigdatafinalproject_spark.operators.ann_index import (
        _APPLOG,
        _FENCE,
        _fence_epoch,
        commit_exclusive,
        ivf_index_append,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_orphan")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)

    # forge the SIGKILLed contender: a DEAD claim at slot 2 (expired
    # lease) plus its fence marker; manifest still at mver 0
    commit_exclusive(
        _os.path.join(idx, _APPLOG), 2,
        {"op": "append", "pid": 999999999, "mode": "lease",
         "lease_expiry": _time.time() - 10.0},
    )
    fdir = _os.path.join(idx, _FENCE)
    _os.makedirs(fdir, exist_ok=True)
    open(_os.path.join(fdir, "e000000000002"), "x").close()
    assert _fence_epoch(idx) == 2

    # a healthy append targets slot 1 (manifest mver 0), sweeps the
    # orphan, and completes — no permanent fence wedge
    ivf_index_append(spark, idx, delta, batch_id=0)
    meta = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta["applied_batches"] == [0] and meta["mver"] == 1
    assert _fence_epoch(idx) == 1


def test_live_higher_fence_marker_is_not_swept(spark, tmp_path):
    """The dual of the orphan sweep: a marker whose claim is LIVE
    belongs to a real contender — a lower-slot claimant must leave it
    and get fenced out by its own check."""
    import os as _os
    import time as _time

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        _APPLOG,
        _FENCE,
        ConcurrentWriteError,
        _end_claim,
        _fence_epoch,
        _writer_txn,
        commit_exclusive,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    idx = str(tmp_path / "ivf_livemark")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)

    # a LIVE contender holds slot 2 (renewed-lease shape: far-future
    # expiry) with its marker in place
    commit_exclusive(
        _os.path.join(idx, _APPLOG), 2,
        {"op": "append", "pid": _os.getpid(), "mode": "lease",
         "lease_expiry": _time.time() + 3600.0},
    )
    fdir = _os.path.join(idx, _FENCE)
    _os.makedirs(fdir, exist_ok=True)
    open(_os.path.join(fdir, "e000000000002"), "x").close()

    # the lower-slot claimant keeps the live marker and is fenced out
    # at its own check (simulated via _writer_txn + _check_fence path)
    meta, mver, _ = _writer_txn(idx, None, "append")
    assert mver == 1
    assert _fence_epoch(idx) == 2  # live marker survived _write_fence
    from bigdatafinalproject_spark.operators.ann_index import _check_fence

    with pytest.raises(ConcurrentWriteError, match="fence"):
        _check_fence(idx, mver)
    _end_claim(idx, mver, release=True)


def test_snapshot_recheck_aborts_on_interleaved_commit(spark, tmp_path):
    """r12 review pass 2 #2: a writer whose claim-time manifest
    snapshot is stale (an interleaved lapsed-lease writer committed in
    between) must abort PRE-invalidate instead of recommitting over
    the newer state — the >= recommit fence cannot see this because
    the stale writer's slot number is higher."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        ConcurrentWriteError,
        _append_stage,
        _commit,
        _finish_append,
        _writer_txn,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    idx = str(tmp_path / "ivf_stalesnap")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)

    meta, mver, knobs = _writer_txn(idx, 7, "append")
    stage = _append_stage(idx, mver)
    _os.makedirs(_os.path.join(stage, "postings"))
    open(_os.path.join(stage, "postings", "part-0.parquet"), "w").close()

    # interleaved commit: another writer (zombie that this one judged
    # dead but was alive) recommits the manifest at ITS slot with ITS
    # batch recorded, while OUR snapshot still reads mver 0
    _commit(idx, dict(
        kind=meta["kind"], fingerprint=meta["fingerprint"],
        tables=meta["tables"],
        src=meta.get("src"), params=meta.get("params", {}),
        applied_batches=[99], mver=mver,  # same slot: the zombie's
        base_rows=meta.get("base_rows"),
        appended_rows=int(meta.get("appended_rows", 0)) + 5,
        cell_sizes=meta.get("cell_sizes"),
        units=meta.get("units"),
    ))

    with pytest.raises(ConcurrentWriteError, match="advanced"):
        _finish_append(idx, stage, ["postings"], meta, mver, 7, 1, knobs)
    # the interleaved commit SURVIVES untouched (batch 99 + counters)
    m = json.load(open(_os.path.join(idx, "_meta.json")))
    assert m["applied_batches"] == [99]
    assert m["appended_rows"] == int(meta.get("appended_rows", 0)) + 5


def test_sweep_dead_stages_spares_live_writer(spark, tmp_path):
    """ADVICE r11 low #3: the ensure-path stage sweep removes a
    hard-killed writer's stage litter but must spare a LIVE claimant's
    in-flight stage (judged per stage by its embedded pid+mver against
    the applog claim)."""
    import os as _os
    import time as _time

    from bigdatafinalproject_spark.operators.ann_index import (
        _APPLOG,
        commit_exclusive,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    idx = str(tmp_path / "ivf_stagesweep")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)

    # dead writer's stage: pid 999999999, slot 3, no live claim
    dead = _os.path.join(idx, "_stage.tmp.999999999.3")
    _os.makedirs(dead)
    # live writer's stage: our pid, slot 4, LIVE lease claim
    live = _os.path.join(idx, f"_stage.tmp.{_os.getpid()}.4")
    _os.makedirs(live)
    commit_exclusive(
        _os.path.join(idx, _APPLOG), 4,
        {"op": "append", "pid": _os.getpid(), "mode": "lease",
         "lease_expiry": _time.time() + 3600.0},
    )

    # the ensure early-return path sweeps dead litter only
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    assert not _os.path.isdir(dead)
    assert _os.path.isdir(live)


def _verb_call(verb, spark, idx):
    """Run one maintenance verb on the shared-guard tests' index:
    compact_index, minor_compact_index (keep_recent=0, so the two
    appended batches merge) or retract_batch of batch 0."""
    import bigdatafinalproject_spark.operators.ann_index as annidx

    if verb == "compact_index":
        return annidx.compact_index(spark, idx)
    if verb == "minor_compact_index":
        return annidx.minor_compact_index(spark, idx, keep_recent=0)
    return annidx.retract_batch(idx, 0)


@pytest.mark.parametrize(
    "verb", ["compact_index", "minor_compact_index", "retract_batch"]
)
def test_compact_aborts_preinvalidate_on_fence_or_stale_snapshot(
    spark, tmp_path, verb
):
    """Every non-append writer verb runs the shared pre-commit guard: a
    writer whose fence moved (a contender took over) or whose manifest
    snapshot is stale (an interleaved writer committed) must abort
    BEFORE it adopts or commits anything — serving index untouched,
    claim released, stage swept — in both interleavings."""
    import json
    import os as _os

    import pytest

    import bigdatafinalproject_spark.operators.ann_index as annidx

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_compactfence")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    annidx.ivf_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 == 0),
                            batch_id=0)
    annidx.ivf_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 != 0),
                            batch_id=1)
    meta_before = json.load(open(_os.path.join(idx, "_meta.json")))

    # (a) fence moved mid-transaction: forge the contender's epoch via
    # a monkeypatched check hook so the move lands AFTER the claim
    real_check = annidx._check_fence
    state = {"armed": True}

    def forge_then_check(index_dir, mver):
        if state["armed"]:
            state["armed"] = False
            annidx._write_fence(index_dir, mver + 1)
        return real_check(index_dir, mver)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(annidx, "_check_fence", forge_then_check)
        with pytest.raises(annidx.ConcurrentWriteError, match="fence"):
            _verb_call(verb, spark, idx)
    meta_after = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta_after == meta_before  # serving index untouched
    assert not [
        n for n in _os.listdir(idx)
        if ".compact." in n or n.startswith("_stage.tmp.")
    ]

    # simulate the forged contender completing (its marker must be
    # owned by a commit or a release — see the append twin's test)
    annidx._commit(idx, dict(meta_after, mver=meta_after["mver"] + 2))

    # (b) stale snapshot: the manifest advances between the claim and
    # the publish — forge by committing inside the hook
    meta_now = json.load(open(_os.path.join(idx, "_meta.json")))
    state2 = {"armed": True}

    def bump_then_check(index_dir, mver):
        if state2["armed"]:
            state2["armed"] = False
            # the interleaved lapsed-lease writer committed at the
            # slot this writer also holds (the both-alive shape)
            annidx._commit(index_dir, dict(meta_now, mver=mver))
        return real_check(index_dir, mver)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(annidx, "_check_fence", bump_then_check)
        with pytest.raises(
            annidx.ConcurrentWriteError, match="advanced"
        ):
            _verb_call(verb, spark, idx)
    assert not [n for n in _os.listdir(idx) if n.startswith("_stage.tmp.")]
    # the interleaved commit survives; a plain run of the verb then works
    out = _verb_call(verb, spark, idx)
    if verb == "compact_index":
        assert out and all(a <= b for _, (b, a) in out.items())
    elif verb == "minor_compact_index":
        assert out["tables"] and out["folded"] == [0, 1]
        assert all(a <= b for _, (b, a) in out["tables"].items())
    else:
        m = annidx._manifest(idx)
        assert m["retracted"] == ["0"] and "0" not in m["batches"]


def test_append_commit_failure_serves_throughout_and_retries(
    spark, tmp_path, monkeypatch
):
    """v6 (r13, VERDICT r12 #4): the manifest-invalidate window is
    GONE — a writer dying at ANY point of an append (here: at the
    recommit itself, the last possible moment) leaves the index
    CURRENT AND SERVING its committed snapshot, with the batch
    unrecorded and no adopted unit leaked; a plain retry lands it.
    Pre-v6 the same crash left a non-current index whose only remedy
    was a rebuild."""
    import json
    import os as _os

    import pytest

    import bigdatafinalproject_spark.operators.ann_index as annidx
    from bigdatafinalproject_spark.operators.ann_index import (
        pq_index_append,
        pq_index_search,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_crashcommit")
    meta_before = json.load(open(_os.path.join(idx, "_meta.json")))
    queries = emb.filter(F.col("vec_id") % 500 == 0)
    pre = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }

    real_commit = annidx._commit
    state = {"armed": True}

    def dying_commit(*a, **kw):
        if state["armed"]:
            state["armed"] = False
            raise OSError("simulated ENOSPC writing the manifest")
        return real_commit(*a, **kw)

    monkeypatch.setattr(annidx, "_commit", dying_commit)
    with pytest.raises(OSError, match="simulated"):
        pq_index_append(spark, idx, delta, batch_id=0)

    # the index is CURRENT and serves identical results mid-"crash"
    meta_after = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta_after == meta_before
    mid = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }
    assert mid == pre and len(mid) > 0
    # no adopted unit leaked (the failure path released them), and the
    # slot was freed — the retry claims it again immediately
    for t in ("codes", "norms"):
        assert sorted(
            n for n in _os.listdir(_os.path.join(idx, t))
            if not n.startswith("_")
        ) == sorted(meta_before["units"][t])
    pq_index_append(spark, idx, delta, batch_id=0)
    m = json.load(open(_os.path.join(idx, "_meta.json")))
    assert m["applied_batches"] == [0]
    assert _tbl(spark, idx, "norms").count() == base.count() + delta.count()


def test_compact_commit_failure_serves_pre_compaction_snapshot(
    spark, tmp_path, monkeypatch
):
    """v6 (r13): a compactor dying at its recommit leaves the index
    serving the PRE-compaction snapshot — same manifest, same units,
    no aside/tmp litter that the next writer can't clear — and a plain
    retry compacts. Pre-v6 the crash-after-invalidate shape left the
    index non-current (test_crash_mid_compact_never_serves_half_
    compacted still pins that refusal for hand-broken layouts)."""
    import json
    import os as _os

    import pytest

    import bigdatafinalproject_spark.operators.ann_index as annidx
    from bigdatafinalproject_spark.operators.ann_index import (
        compact_index,
        pq_index_append,
        pq_index_search,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_crashcompact")
    pq_index_append(spark, idx, delta, batch_id=0)
    meta_before = json.load(open(_os.path.join(idx, "_meta.json")))
    queries = emb.filter(F.col("vec_id") % 500 == 0)
    pre = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }

    real_commit = annidx._commit
    state = {"armed": True}

    def dying_commit(*a, **kw):
        if state["armed"]:
            state["armed"] = False
            raise OSError("simulated ENOSPC writing the manifest")
        return real_commit(*a, **kw)

    monkeypatch.setattr(annidx, "_commit", dying_commit)
    with pytest.raises(OSError, match="simulated"):
        compact_index(spark, idx)
    meta_after = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta_after == meta_before
    mid = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }
    assert mid == pre and len(mid) > 0
    # retry compacts down to the committed unit set
    stats = compact_index(spark, idx)
    assert set(stats) == {"codes", "norms"}
    post = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }
    assert post == pre


def test_zombie_adopted_unit_is_dead_namespace(spark, tmp_path):
    """v6 fenced storage (r13, VERDICT r12 #4): a zombie writer that
    slips past its fence check and RENAMES its stage into the live
    table tree lands in a unit dir NO manifest references — readers
    resolve files from the manifest, so the zombie's files (here:
    deliberately garbage) are invisible to every serve; the next
    successful commit's GC removes them. This is the residual the r12
    fence could not close (the check→first-rename gap made a stale
    writer's per-file renames reader-visible)."""
    import json
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        _adopt_staged,
        _append_stage,
        _writer_txn,
        ivf_index_search,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_zombie_unit")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    pre = {
        tuple(r)
        for r in ivf_index_search(spark, idx, emb, queries, k=10).collect()
    }

    # the zombie: claims, stages GARBAGE (a non-parquet payload that
    # would crash any scan that touched it), and renames it into the
    # live tree without ever committing
    meta, mver, _ = _writer_txn(idx, None, "append")
    stage = _append_stage(idx, mver)
    _os.makedirs(_os.path.join(stage, "postings"))
    with open(
        _os.path.join(stage, "postings", "part-0.parquet"), "w"
    ) as f:
        f.write("NOT PARQUET")
    adopted = _adopt_staged(stage, idx, ["postings"], mver)
    from bigdatafinalproject_spark.operators.ann_index import _unit_name

    assert adopted == {"postings": _unit_name(mver)}
    zombie_unit = _os.path.join(idx, "postings", adopted["postings"])
    assert _os.path.isdir(zombie_unit)

    # invisible: the manifest doesn't reference it, so serves are
    # byte-identical (a flat-layout reader would CRASH on the garbage)
    mid = {
        tuple(r)
        for r in ivf_index_search(spark, idx, emb, queries, k=10).collect()
    }
    assert mid == pre and len(mid) > 0

    # the zombie's slot is freed (its real-world twin aborts at the
    # fence/recommit); plant a FOREIGN dead unit too (a different
    # pid's leftover at the same slot — the stuck-renewer both-alive
    # duplicate shape)
    from bigdatafinalproject_spark.operators.ann_index import _end_claim

    _end_claim(idx, mver, release=True)
    foreign_unit = _os.path.join(idx, "postings", f"b{mver:012d}.999999")
    _os.makedirs(foreign_unit)
    with open(_os.path.join(foreign_unit, "part-0.parquet"), "w") as f:
        f.write("ALSO NOT PARQUET")

    from bigdatafinalproject_spark.operators.ann_index import (
        ivf_index_append,
    )

    ivf_index_append(spark, idx, delta, batch_id=0)
    m = json.load(open(_os.path.join(idx, "_meta.json")))
    assert m["applied_batches"] == [0]
    # the re-claimant (same pid, reused slot) cleared the zombie's
    # garbage and OWNS the unit name — it is now manifest-referenced
    # with the real batch content...
    assert adopted["postings"] in m["units"]["postings"]
    assert _tbl(spark, idx, "postings").count() > 0
    # ...and the foreign dead unit was GC'd at commit
    assert not _os.path.isdir(foreign_unit)


def test_kill_soak_bounded(tmp_path):
    """Bounded multiprocess SIGKILL soak (r13, VERDICT r12 #3): real
    OS-process writers on one shared index, a killer SIGKILLing whole
    process groups mid-transaction, then the full invariant sweep —
    manifest exactly-once, data exactly-once, cell_sizes triple
    equality, disk==manifest units, fence floor+epoch. The full-size
    soak lives in scripts/index_kill_soak.py; this wrapper keeps a
    small configuration in every pytest run, including one continuous
    reader that must never see the mid-maintenance refusal (and whose
    worst consecutive-retry streak the soak bounds numerically — r14,
    VERDICT r13 #6) and one retract target riding the storm (r14,
    VERDICT r13 #2: append → retract → re-ingest with kills anywhere;
    the deterministic mid-retract kill is pinned separately in
    test_kill_inside_retraction_leaves_index_serving). (Runs its own
    SparkSessions in subprocesses — independent of the session
    fixture.)"""
    import json as _json
    import subprocess
    import sys
    import tempfile

    def spark_dirs() -> set[str]:
        tmp = tempfile.gettempdir()
        return {e for e in os.listdir(tmp) if e.startswith("spark-")}

    before = spark_dirs()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "scripts", "index_kill_soak.py"),
            "--workers", "2", "--batches", "6", "--kills", "2",
            "--readers", "1", "--retract-mod", "4",
            "--compact-every", "3", "--kill-min-s", "5",
            "--kill-max-s", "9", "--timeout-s", "420",
            "--index-dir", str(tmp_path / "soak" / "ivf_index"),
        ],
        capture_output=True, text=True, timeout=480,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "KILL_SOAK_OK" in r.stdout
    summary = _json.loads(r.stdout.split("KILL_SOAK_OK ", 1)[1])
    # batches=6, mod=4 -> exactly one retract target (bid 2), resolved
    # one way or the other; the soak's verifier asserted which
    assert summary["retract_targets"] == 1
    assert len(summary["retracted"]) + len(
        summary["folded_by_compaction"]
    ) == 1
    # the SIGKILLed JVMs kept their temporary files in the soak's own
    # directory, which it removed
    assert spark_dirs() <= before


def test_legacy_flat_manifest_refused_on_serve_and_every_writer(
    spark, tmp_path
):
    """A pre-v6 index (flat table dirs, manifest without ``units``) is
    never misread: the serve and every writer verb refuse it, naming
    ``_meta.json`` and the missing key, and leave no claim or stage
    behind; ensure_* rebuilds over it as over a stale fingerprint. (The
    fingerprint's _ALGO_VERSION salt keeps such an index out of every
    ensure_* cache path; only hand-built dirs reach this.)"""
    import json
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        ivf_index_append,
        ivf_index_search,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_legacy")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)

    # forge the pre-v6 layout: flatten every unit dir and strip the
    # manifest's units map
    meta = _manifest(idx)
    for t in meta["tables"]:
        for u in meta["units"][t]:
            src = _os.path.join(idx, t, u)
            for n in _os.listdir(src):
                _os.rename(
                    _os.path.join(src, n), _os.path.join(idx, t, n)
                )
            _os.rmdir(src)
    del meta["units"]
    with open(_os.path.join(idx, "_meta.json"), "w") as f:
        json.dump(meta, f)

    queries = emb.filter(F.col("vec_id") % 250 == 0)
    _assert_manifest_refused(
        spark, idx,
        serve=lambda: ivf_index_search(spark, idx, emb, queries, k=10),
        append=lambda: ivf_index_append(spark, idx, delta, batch_id=0),
        match="missing key 'units'",
    )
    assert not index_is_current(idx, "ivf", fp)
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    assert index_is_current(idx, "ivf", fp)
    assert ivf_index_search(spark, idx, emb, queries, k=10).count() > 0


def test_retract_batch_restores_never_appended_state(spark, tmp_path):
    """r13: retract_batch un-ingests an applied batch as an O(manifest)
    metadata operation. The retracted index must be CONTENT-IDENTICAL
    (served results, row accounting, cell-size snapshot, unit set) to
    a twin that never appended the batch; the batch's unit dirs are
    GC'd; the retracted id stays an idempotent skip on redelivery;
    unknown/double/compacted retractions raise."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        clone_index,
        compact_index,
        ivf_index_append,
        ivf_index_search,
        retract_batch,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    d_even = delta.filter(F.col("vec_id") % 2 == 0)
    d_odd = delta.filter(F.col("vec_id") % 2 != 0)
    src = str(tmp_path / "ivf_retract_src")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, src, fp, **_PARAMS)

    # twin A: append even+odd, retract even
    a = clone_index(src, str(tmp_path / "ivf_retract_a"))
    ivf_index_append(spark, a, d_even, batch_id=0)
    ivf_index_append(spark, a, d_odd, batch_id=1)
    even_units = _manifest(a)["batches"]["0"]["units"]
    retract_batch(a, 0)
    # twin B: only ever appended odd
    b = clone_index(src, str(tmp_path / "ivf_retract_b"))
    ivf_index_append(spark, b, d_odd, batch_id=1)

    ma, mb = _manifest(a), _manifest(b)
    assert ma["appended_rows"] == mb["appended_rows"]
    assert ma.get("cell_sizes") == mb.get("cell_sizes")
    assert ma["retracted"] == ["0"] and "0" not in ma["batches"]
    # the batch's unit dirs are gone from disk
    for t, u in even_units.items():
        assert not _os.path.isdir(_os.path.join(a, t, u)), (t, u)
    # served results identical to the never-appended twin
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    ra = {
        tuple(r)
        for r in ivf_index_search(spark, a, emb, queries, k=10).collect()
    }
    rb = {
        tuple(r)
        for r in ivf_index_search(spark, b, emb, queries, k=10).collect()
    }
    assert ra == rb and len(ra) > 0

    # redelivery of the retracted id stays an idempotent skip
    n_before = _tbl(spark, a, "postings").count()
    ivf_index_append(spark, a, d_even, batch_id=0)
    assert _tbl(spark, a, "postings").count() == n_before
    # double retract and unknown batch raise
    with pytest.raises(ValueError, match="no provenance"):
        retract_batch(a, 0)
    with pytest.raises(ValueError, match="no provenance"):
        retract_batch(a, 99)
    # compaction folds batches into the base: batch 1 stops being
    # retractable (the documented retract-before-compact trade)
    compact_index(spark, a)
    assert _manifest(a)["batches"] == {}
    assert _manifest(a)["retracted"] == ["0"]  # ledger survives
    with pytest.raises(ValueError, match="no provenance"):
        retract_batch(a, 1)


def test_retract_batch_ivfpq_kind_restores_state(spark, tmp_path):
    """retract_batch on the COMPOSED ivfpq kind (r13): the trained
    kind with the most reversal surface — multi-table units
    (codes/norms/cell_sizes), a folded snapshot, and a rerank pool
    driven by appended_rows. Retract-then-compare against a
    never-appended twin: manifest accounting and served results must
    be identical."""
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        clone_index,
        corpus_fingerprint,
        ensure_ivfpq_index,
        ivfpq_index_append,
        ivfpq_index_search,
        retract_batch,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    d_even = delta.filter(F.col("vec_id") % 2 == 0)
    d_odd = delta.filter(F.col("vec_id") % 2 != 0)
    params = dict(
        centroid_mod=37, max_centroids=64, train_rounds=1,
        multi_assign=3, m=16, dim=64, codeword_mod=13, max_codewords=64,
    )
    src = str(tmp_path / "ivfpq_retract_src")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **params
    )
    ensure_ivfpq_index(spark, base, src, fp, **params)

    a = clone_index(src, str(tmp_path / "ivfpq_retract_a"))
    ivfpq_index_append(spark, a, d_even, batch_id=0)
    ivfpq_index_append(spark, a, d_odd, batch_id=1)
    even_units = _manifest(a)["batches"]["0"]["units"]
    assert set(even_units) == {"codes", "norms", "cell_sizes"}
    retract_batch(a, 0)
    b = clone_index(src, str(tmp_path / "ivfpq_retract_b"))
    ivfpq_index_append(spark, b, d_odd, batch_id=1)

    ma, mb = _manifest(a), _manifest(b)
    assert ma["appended_rows"] == mb["appended_rows"]
    assert ma.get("cell_sizes") == mb.get("cell_sizes")
    for t, u in even_units.items():
        assert not _os.path.isdir(_os.path.join(a, t, u)), (t, u)
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    ra = {
        tuple(r)
        for r in ivfpq_index_search(spark, a, emb, queries, k=10).collect()
    }
    rb = {
        tuple(r)
        for r in ivfpq_index_search(spark, b, emb, queries, k=10).collect()
    }
    assert ra == rb and len(ra) > 0


def test_auto_batch_id_skips_explicit_ids(spark, tmp_path):
    """r13 review #3: the auto-assigned batch id (batch_id=None) must
    be the first UNUSED integer, not len(applied) — after mixed
    explicit/auto appends the latter collides with an explicit id,
    duplicating the applied entry and OVERWRITING that batch's
    provenance (a later retract would then reverse the wrong units)."""
    import json
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        pq_index_append,
        retract_batch,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_autoid")
    d = [delta.filter(F.col("vec_id") % 4 == i) for i in range(4)]
    pq_index_append(spark, idx, d[0])               # auto -> 0
    pq_index_append(spark, idx, d[1])               # auto -> 1
    pq_index_append(spark, idx, d[2], batch_id=3)   # explicit 3
    n3 = d[2].count()
    pq_index_append(spark, idx, d[3])               # auto -> 2, NOT 3
    m = json.load(open(_os.path.join(idx, "_meta.json")))
    assert m["applied_batches"] == [0, 1, 2, 3]
    assert set(m["batches"]) == {"0", "1", "2", "3"}
    assert m["batches"]["3"]["rows"] == n3  # provenance not overwritten
    # retracting 3 reverses the EXPLICIT batch, proving the map is true
    before = _tbl(spark, idx, "norms").count()
    retract_batch(idx, 3)
    assert _tbl(spark, idx, "norms").count() == before - n3


def test_commit_fence_epoch_recheck_blocks_zombie_publish(
    spark, tmp_path
):
    """r14 (ADVICE r13 medium): the commit-ordering TOCTOU. A zombie
    that resumed after its pre-adopt _check_fence could os.replace the
    manifest at slot N while a contender (which wrote fence e(N+1) at
    CLAIM time) is still staging its own commit at N+1 from a pre-N
    snapshot — the zombie's caller would see success and the
    contender's recommit would drop the batch from applied_batches
    (lost batch, never redelivered). _commit now re-reads the FENCE
    immediately before its os.replace: any epoch above the writer's
    slot aborts the publish with the serving manifest untouched."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        ConcurrentWriteError,
        _commit,
        _manifest,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    idx = str(tmp_path / "ivf_fence_commit")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    before = _manifest(idx)

    # a contender claimed slot 2 (its _write_fence ran at claim time)
    fence = _os.path.join(idx, "_fence")
    _os.makedirs(fence, exist_ok=True)
    open(_os.path.join(fence, "e000000000002"), "x").close()

    # the zombie tries to publish at slot 1: fenced, nothing replaced
    with pytest.raises(ConcurrentWriteError, match="epoch moved to 2"):
        _commit(idx, dict(
            kind=before["kind"], fingerprint=before["fingerprint"],
            tables=before["tables"],
            src=before.get("src"), params=before.get("params", {}),
            applied_batches=[0], mver=1,
            base_rows=before.get("base_rows"), appended_rows=123,
            cell_sizes=before["cell_sizes"], units=before.get("units"),
        ))
    after = _manifest(idx)
    assert after == before  # serving manifest untouched
    # no torn tmp file left beside the manifest
    assert not [n for n in _os.listdir(idx) if ".tmp." in n]

    # with the contender's marker gone (epoch == slot), publish lands
    _os.remove(_os.path.join(fence, "e000000000002"))
    open(_os.path.join(fence, "e000000000001"), "x").close()
    _commit(idx, dict(
        kind=before["kind"], fingerprint=before["fingerprint"],
        tables=before["tables"],
        src=before.get("src"), params=before.get("params", {}),
        applied_batches=[0], mver=1,
        base_rows=before.get("base_rows"), appended_rows=123,
        cell_sizes=before["cell_sizes"], units=before.get("units"),
    ))
    assert _manifest(idx)["appended_rows"] == 123


def test_remove_own_claim_leaves_foreign_entries(tmp_path):
    """r14 (ADVICE r13 #2): failure-path claim removal verifies
    pid+tid ownership, so it can never delete a live re-claimant's
    fresh entry for the same slot (the duplicate-claimant race the
    ``stopped`` guard in _end_claim closes). Every claim records its
    tid, so a payload without one is never this writer's."""
    import threading

    from bigdatafinalproject_spark.operators.ann_index import (
        _remove_own_claim,
    )
    from bigdatafinalproject_spark.operators.txlog import (
        commit_exclusive,
        entry_path,
    )

    idx = str(tmp_path / "idx")
    log = os.path.join(idx, "_applog")
    p = entry_path(log, 1)

    # foreign pid: kept
    commit_exclusive(log, 1, {"pid": 999999999, "tid": 1})
    _remove_own_claim(idx, 1)
    assert os.path.exists(p)
    os.remove(p)

    # own pid, foreign tid (a thread-sibling re-claimant): kept
    commit_exclusive(
        log, 1, {"pid": os.getpid(), "tid": threading.get_ident() + 1}
    )
    _remove_own_claim(idx, 1)
    assert os.path.exists(p)
    os.remove(p)

    # own pid + own tid: removed
    commit_exclusive(
        log, 1, {"pid": os.getpid(), "tid": threading.get_ident()}
    )
    _remove_own_claim(idx, 1)
    assert not os.path.exists(p)

    # legacy payload (no tid), own pid: kept — not provably ours
    commit_exclusive(log, 1, {"pid": os.getpid()})
    _remove_own_claim(idx, 1)
    assert os.path.exists(p)
    os.remove(p)

    # missing entry: a no-op
    _remove_own_claim(idx, 1)


def test_batch_id_normalized_to_int_at_every_entry(spark, tmp_path):
    """r14 (ADVICE r13 #3): provenance is keyed by str(batch_id), so
    an explicit string "3" and an int 3 would collide in the batches
    map and mixed int/str ids would make sorted(applied_batches) raise
    at commit time. _norm_batch_id at the _writer_txn /
    _finish_append / retract_batch choke points makes every public
    entry int-keyed: "0" and 0 name ONE batch (idempotent skip, one
    provenance entry), retract accepts either spelling, bools and
    non-int strings are rejected before any claim is taken."""
    import json
    import os as _os

    import pytest

    from bigdatafinalproject_spark.operators.ann_index import (
        pq_index_append,
        retract_batch,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_normid")
    d0 = delta.filter(F.col("vec_id") % 2 == 0)
    d1 = delta.filter(F.col("vec_id") % 2 != 0)

    pq_index_append(spark, idx, d0, batch_id="0")  # string spelling
    m = json.load(open(_os.path.join(idx, "_meta.json")))
    assert m["applied_batches"] == [0]  # stored as int
    assert set(m["batches"]) == {"0"}

    # the int spelling of the same id is an idempotent skip
    n_before = _tbl(spark, idx, "norms").count()
    pq_index_append(spark, idx, d0, batch_id=0)
    assert _tbl(spark, idx, "norms").count() == n_before

    pq_index_append(spark, idx, d1, batch_id=1)
    # retract accepts the string spelling and reverses batch 1
    n1 = d1.count()
    retract_batch(idx, "1")
    assert _tbl(spark, idx, "norms").count() == n_before
    m = json.load(open(_os.path.join(idx, "_meta.json")))
    assert m["retracted"] == ["1"] and "1" not in m["batches"]
    assert m["applied_batches"] == [0, 1]  # ints, sorted, kept

    # rejected spellings never reach a claim
    with pytest.raises(TypeError, match="bool"):
        pq_index_append(spark, idx, d1, batch_id=True)
    with pytest.raises(TypeError, match="int"):
        pq_index_append(spark, idx, d1, batch_id="seven")
    with pytest.raises(TypeError):
        retract_batch(idx, None)


def test_gc_grace_tombstones_then_reaps_dead_units(
    spark, tmp_path, monkeypatch
):
    """r14 (ADVICE r13 #4): with BDFP_INDEX_GC_GRACE_S set, a unit a
    commit unreferences (retraction here) is TOMBSTONED — a _DEAD
    marker inside the dir, data files byte-intact and still readable
    by a scan planned against the superseded manifest — and reaped
    only once the marker outlives the grace window. Default (no env)
    keeps the r13 immediate-removal behavior, which every other test
    in this file pins."""
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        _gc_dead_units,
        _manifest,
        clone_index,
        ivf_index_append,
        retract_batch,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    src = str(tmp_path / "ivf_grace_src")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, src, fp, **_PARAMS)
    idx = clone_index(src, str(tmp_path / "ivf_grace"))
    ivf_index_append(spark, idx, delta, batch_id=0)
    dead_units = _manifest(idx)["batches"]["0"]["units"]

    monkeypatch.setenv("BDFP_INDEX_GC_GRACE_S", "3600")
    retract_batch(idx, 0)

    # first sweep tombstoned, did not remove: files intact + readable
    for t, u in dead_units.items():
        d = _os.path.join(idx, t, u)
        assert _os.path.isdir(d), (t, u)
        assert _os.path.exists(_os.path.join(d, "_DEAD"))
        assert spark.read.parquet(d).count() > 0  # _DEAD is invisible

    # a second sweep inside the window still keeps them
    _gc_dead_units(idx, _manifest(idx), 3600.0)
    for t, u in dead_units.items():
        assert _os.path.isdir(_os.path.join(idx, t, u))

    # age the tombstones past the window: reaped
    past = (1, 1)
    for t, u in dead_units.items():
        _os.utime(_os.path.join(idx, t, u, "_DEAD"), past)
    _gc_dead_units(idx, _manifest(idx), 3600.0)
    for t, u in dead_units.items():
        assert not _os.path.isdir(_os.path.join(idx, t, u)), (t, u)


def test_kill_inside_retraction_leaves_index_serving(spark, tmp_path):
    """r14 (VERDICT r13 #2): SIGKILL a writer INSIDE a retraction —
    after its claim + fence (the widest pre-commit window of the
    third writer verb). The index must stay current and serving, the
    zombie's lease must lapse, and a successor's retract of the same
    batch must succeed and reverse the accounting exactly. (The
    random-kill version runs in the soak; this pins the window
    deterministically in every pytest pass.)"""
    import json
    import os as _os
    import signal
    import subprocess
    import sys
    import textwrap
    import time as _time

    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        clone_index,
        index_is_current,
        ivf_index_append,
        ivf_index_search,
        retract_batch,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    src = str(tmp_path / "ivf_killretract_src")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, src, fp, **_PARAMS)
    idx = clone_index(src, str(tmp_path / "ivf_killretract"))
    ivf_index_append(spark, idx, delta, batch_id=0)
    pre = _manifest(idx)

    # the victim: claims the retract txn (slot + fence marker), then
    # stalls forever pre-commit; ready-marker written post-claim
    ready = str(tmp_path / "victim_claimed")
    victim_code = textwrap.dedent(f"""
        import time
        from bigdatafinalproject_spark.operators.ann_index import (
            _writer_txn,
        )
        _writer_txn({idx!r}, None, "retract")
        open({ready!r}, "w").close()
        time.sleep(300)
    """)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ, PYTHONPATH=repo,
        BDFP_ANN_CLAIM_MODE="lease", BDFP_ANN_LEASE_S="2",
    )
    p = subprocess.Popen(
        [sys.executable, "-c", victim_code],
        env=env, start_new_session=True,
    )
    try:
        deadline = _time.monotonic() + 60
        while not _os.path.exists(ready):
            assert p.poll() is None, "victim died before claiming"
            assert _time.monotonic() < deadline, "victim never claimed"
            _time.sleep(0.05)
        _os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    finally:
        if p.poll() is None:
            _os.killpg(p.pid, signal.SIGKILL)

    # mid-kill: the index is untouched, current, and SERVING
    assert _manifest(idx) == pre
    assert index_is_current(idx, pre["kind"], pre["fingerprint"])
    queries = emb.filter(F.col("vec_id") % 250 == 0)
    assert ivf_index_search(spark, idx, emb, queries, k=5).count() > 0

    # a successor retracts the same batch once the lease lapses
    # (retract_batch waits out the live-claim window internally);
    # BDFP_ANN_LEASE_S is read per-claim, so the zombie's 2s lease
    # comes from ITS env — this process just retries through it
    deadline = _time.monotonic() + 60
    while True:
        try:
            retract_batch(idx, 0)
            break
        except Exception:
            assert _time.monotonic() < deadline, "retract never won"
            _time.sleep(0.25)
    after = _manifest(idx)
    assert after["appended_rows"] == 0
    assert after.get("retracted") == ["0"]
    # accounting returned to the base build's exact state (the clone
    # carries the source's unit names verbatim)
    b = _manifest(src)
    assert after["cell_sizes"] == b["cell_sizes"]
    assert after["units"] == b["units"]
    # served results identical to the never-appended source
    ra = {
        tuple(r)
        for r in ivf_index_search(spark, idx, emb, queries, k=5).collect()
    }
    rb = {
        tuple(r)
        for r in ivf_index_search(spark, src, emb, queries, k=5).collect()
    }
    assert ra == rb and len(ra) > 0


def test_compaction_cadence_warning(spark, tmp_path, monkeypatch):
    """r14 (VERDICT r13 #3): past BDFP_INDEX_COMPACT_WARN_BATCHES
    uncompacted batches an append warns — with the O(1) manifest the
    remaining lazy-compaction tax is per-batch file-count growth on
    every serve, and a streaming deployment without a compaction
    schedule should hear about it. Compaction clears the batches map
    and with it the warning."""
    import warnings as _warnings

    from bigdatafinalproject_spark.operators.ann_index import (
        compact_index,
        pq_index_append,
    )

    monkeypatch.setenv("BDFP_INDEX_COMPACT_WARN_BATCHES", "2")
    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_cadence")
    d = [delta.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")  # first append must NOT warn
        pq_index_append(spark, idx, d[0], batch_id=0)
    with pytest.warns(RuntimeWarning, match="uncompacted"):
        pq_index_append(spark, idx, d[1], batch_id=1)
    compact_index(spark, idx)
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")  # compaction reset the count
        pq_index_append(spark, idx, d[2], batch_id=2)


def test_minor_compact_tiers_merge_and_keep_recent_retractable(
    spark, tmp_path
):
    """Size-tiered minor compaction (r14): three appended batches,
    ``keep_recent=1`` — the two aged batches' units merge into ONE L1
    unit per table while the base tier unit and the newest batch's
    unit survive untouched; ``appended_rows`` and served content are
    invariant; the folded batches refuse retraction (the documented
    ValueError) and the RETAINED batch still retracts exactly."""
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        minor_compact_index,
        pq_index_append,
        pq_index_search,
        retract_batch,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_minorc")
    # delta is the vec_id%3==0 stripe: split by %9 for 3 NON-EMPTY batches
    for b in range(3):
        pq_index_append(
            spark, idx, delta.filter(F.col("vec_id") % 9 == 3 * b),
            batch_id=b,
        )
    queries = emb.filter(F.col("vec_id") % 500 == 0)
    pre_rows = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }
    pre = _manifest(idx)
    assert len(pre["units"]["codes"]) == 4  # base + 3 batches
    res = minor_compact_index(spark, idx, keep_recent=1)
    assert res["folded"] == [0, 1] and res["kept"] == [2]
    merged, after = res["tables"]["codes"]
    assert after < merged
    mid = _manifest(idx)
    assert sorted(mid["batches"]) == ["2"]
    assert len(mid["units"]["codes"]) == 3  # base + L1 + kept batch
    assert sorted(mid["applied_batches"]) == [0, 1, 2]  # idempotence keys
    assert int(mid["appended_rows"]) == int(pre["appended_rows"])
    mid_rows = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }
    assert mid_rows == pre_rows and len(mid_rows) > 0
    with pytest.raises(ValueError, match="compacted into the base"):
        retract_batch(idx, 0)
    retract_batch(idx, 2)  # the retained batch keeps exact retractability
    post = _manifest(idx)
    assert int(post["appended_rows"]) < int(mid["appended_rows"])
    assert post["retracted"] == ["2"] and "2" not in post["batches"]


def test_minor_compact_noop_releases_claim_and_slot(spark, tmp_path):
    """A minor pass with nothing to merge (fresh base, or only base +
    protected recent units) commits NOTHING — same mver — and releases
    its writer claim, so the next maintenance writer proceeds."""
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        minor_compact_index,
        pq_index_append,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_minornoop")
    before = _manifest(idx)
    res = minor_compact_index(spark, idx, keep_recent=1)
    assert res["tables"] == {} and res["folded"] == []
    after = _manifest(idx)
    assert int(after["mver"]) == int(before["mver"])
    # one batch + keep_recent=1 still has nothing to merge (the batch
    # unit is protected; the base is the lone candidate)
    pq_index_append(spark, idx, delta.filter(F.col("vec_id") % 9 == 0),
                    batch_id=0)
    res2 = minor_compact_index(spark, idx, keep_recent=1)
    assert res2["tables"] == {} and res2["kept"] == [0]
    # the claim was released both times: a real append still lands
    pq_index_append(spark, idx, delta.filter(F.col("vec_id") % 9 == 3),
                    batch_id=1)
    assert sorted(_manifest(idx)["applied_batches"]) == [0, 1]


def test_minor_compact_commit_failure_serves_pre_pass_snapshot(
    spark, tmp_path, monkeypatch
):
    """A minor compactor dying at its recommit leaves the index
    serving the pre-pass snapshot (manifest unchanged, adopted L1 unit
    unreferenced) and a plain retry completes the pass — the same v6
    guarantee the full compactor carries."""
    import json
    import os as _os

    import bigdatafinalproject_spark.operators.ann_index as annidx
    from bigdatafinalproject_spark.operators.ann_index import (
        minor_compact_index,
        pq_index_append,
        pq_index_search,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_minorcrash")
    for b in range(3):
        pq_index_append(
            spark, idx, delta.filter(F.col("vec_id") % 9 == 3 * b),
            batch_id=b,
        )
    meta_before = json.load(open(_os.path.join(idx, "_meta.json")))
    queries = emb.filter(F.col("vec_id") % 500 == 0)
    pre = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }
    real_commit = annidx._commit
    state = {"armed": True}

    def dying_commit(*a, **kw):
        if state["armed"]:
            state["armed"] = False
            raise OSError("simulated ENOSPC writing the manifest")
        return real_commit(*a, **kw)

    monkeypatch.setattr(annidx, "_commit", dying_commit)
    with pytest.raises(OSError, match="simulated"):
        minor_compact_index(spark, idx, keep_recent=1)
    meta_after = json.load(open(_os.path.join(idx, "_meta.json")))
    assert meta_after == meta_before
    mid = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }
    assert mid == pre and len(mid) > 0
    res = minor_compact_index(spark, idx, keep_recent=1)  # retry completes
    assert res["folded"] == [0, 1] and res["tables"]
    post = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }
    assert post == pre


def test_repeated_minor_compacts_bound_unit_count(spark, tmp_path):
    """The LSM invariant on a minor cadence: however many batches
    stream in, the per-table unit count stays at base + 1 merged L1 +
    keep_recent — the serve-side scan-planning cost the
    MANIFEST_GROWTH.json curve showed growing per batch under lazy
    full compaction stays CONSTANT, with only the appended tier ever
    rewritten."""
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        minor_compact_index,
        pq_index_append,
        pq_index_search,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_minorloop")
    # 6 batches on a minor cadence of 2 (delta stripe split by %18)
    for b in range(6):
        pq_index_append(
            spark, idx, delta.filter(F.col("vec_id") % 18 == 3 * b),
            batch_id=b,
        )
        if b % 2 == 1:
            minor_compact_index(spark, idx, keep_recent=1)
    m = _manifest(idx)
    assert len(m["units"]["codes"]) <= 3  # base + L1 + kept
    assert sorted(m["applied_batches"]) == list(range(6))
    # content equals a single-append twin of the same rows
    import bigdatafinalproject_spark.operators.ann_index as annidx

    twin = str(tmp_path / "pq_minorloop_twin")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_pq_params()
    )
    annidx.ensure_pq_index(spark, base, twin, fp, **_pq_params())
    pq_index_append(spark, twin, delta.filter(F.col("vec_id") % 18 < 16))
    queries = emb.filter(F.col("vec_id") % 500 == 0)
    a = {
        tuple(r)
        for r in pq_index_search(spark, idx, emb, queries, k=5).collect()
    }
    b_ = {
        tuple(r)
        for r in pq_index_search(spark, twin, emb, queries, k=5).collect()
    }
    assert a == b_ and len(a) > 0


def test_footer_rows_rejects_existing_dir_without_parquet(tmp_path):
    """ADVICE r15 #1: every write stages at least one part file (an
    empty delta batch too — test_append_batch_ids_make_redelivery_
    idempotent appends one), so a unit dir that exists but holds no
    parquet file is broken; counting it 0 would silently skew the
    manifest's row counters. A MISSING dir still counts 0."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from bigdatafinalproject_spark.operators.ann_index import _footer_rows

    missing = str(tmp_path / "missing")
    assert _footer_rows(missing) == 0
    good = tmp_path / "good_unit"
    good.mkdir()
    papq.write_table(
        pa.table({"x": [1, 2, 3]}), str(good / "part-00000.parquet")
    )
    assert _footer_rows([str(good), missing]) == 3
    empty = tmp_path / "empty_unit"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    with pytest.raises(ValueError, match="empty_unit"):
        _footer_rows([str(good), str(empty)])


def test_missing_fence_dir_aborts_writer_before_adoption(spark, tmp_path):
    """Every claimant creates ``_fence`` at claim time, so a writer that
    finds it gone cannot prove it still owns its slot: the fence check
    fails CLOSED — both the pre-adopt check and ``_commit``'s epoch
    recheck raise naming the dir, the serving manifest is untouched,
    nothing adopted survives, and the claim and stage are released. A
    plain retry re-creates the fence and lands the batch."""
    import json
    import os as _os
    import shutil as _shutil

    import bigdatafinalproject_spark.operators.ann_index as annidx

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_nofence")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    mpath = _os.path.join(idx, "_meta.json")
    meta_before = json.load(open(mpath))

    def drop_fence():
        _shutil.rmtree(_os.path.join(idx, annidx._FENCE))

    real_check, real_adopt = annidx._check_fence, annidx._adopt_staged

    def drop_then_check(index_dir, mver):
        drop_fence()
        return real_check(index_dir, mver)

    def adopt_then_drop(*a):
        adopted = real_adopt(*a)
        drop_fence()
        return adopted

    for name, hook in (
        ("_check_fence", drop_then_check),   # pre-adopt check
        ("_adopt_staged", adopt_then_drop),  # _commit's epoch recheck
    ):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(annidx, name, hook)
            with pytest.raises(ValueError, match=r"_fence.*is missing"):
                annidx.ivf_index_append(spark, idx, delta, batch_id=0)
        assert json.load(open(mpath)) == meta_before
        for t in ("postings", "cell_sizes"):
            assert sorted(
                n for n in _os.listdir(_os.path.join(idx, t))
                if not n.startswith("_")
            ) == sorted(meta_before["units"][t]), (name, t)
        assert _os.listdir(_os.path.join(idx, "_applog")) == []
        assert not [n for n in _os.listdir(idx) if ".tmp." in n]

    annidx.ivf_index_append(spark, idx, delta, batch_id=0)
    assert json.load(open(mpath))["applied_batches"] == [0]


def test_retract_with_missing_cell_sizes_unit_raises_manifest_unchanged(
    spark, tmp_path
):
    """Retraction subtracts the batch's partial counts, read back from
    the batch's own cell_sizes unit. With that unit gone the snapshot
    cannot stay exact, so retract_batch raises naming the file,
    releases its claim, and leaves the manifest unchanged — it never
    commits a snapshot it cannot vouch for."""
    import json
    import os as _os
    import shutil as _shutil

    from bigdatafinalproject_spark.operators.ann_index import (
        ivf_index_append,
        retract_batch,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_retract_nosizes")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    ivf_index_append(spark, idx, delta, batch_id=0)
    mpath = _os.path.join(idx, "_meta.json")
    raw_before = open(mpath).read()
    unit = json.loads(raw_before)["batches"]["0"]["units"]["cell_sizes"]
    _shutil.rmtree(_os.path.join(idx, "cell_sizes", unit))
    log = _os.path.join(idx, "_applog")
    log_before = sorted(_os.listdir(log))

    with pytest.raises(ValueError, match=f"cell_sizes unit .*{unit}"):
        retract_batch(idx, 0)
    assert open(mpath).read() == raw_before
    assert sorted(_os.listdir(log)) == log_before  # claim released
    assert not [n for n in _os.listdir(idx) if ".tmp." in n]


def test_compact_index_noop_on_compacted_index(spark, tmp_path):
    """compact_index skips a table whose live data is already one unit
    holding one parquet file. On a compacted index nothing is left to
    rewrite: it returns {} and releases its claim without a commit —
    the manifest bytes, mver, unit dirs, writer log and fence stay as
    they were — and the next writer proceeds."""
    import json
    import os as _os

    from bigdatafinalproject_spark.operators.ann_index import (
        compact_index,
        ivf_index_append,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ivf_compact_noop")
    fp = corpus_fingerprint(
        table_path(SF_DIR, "embeddings"), base_pred="b", **_PARAMS
    )
    ensure_ivf_index(spark, base, idx, fp, **_PARAMS)
    ivf_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 == 0),
                     batch_id=0)
    assert compact_index(spark, idx)  # the first pass rewrites

    def state():
        return (
            open(_os.path.join(idx, "_meta.json")).read(),
            {
                d: sorted(_os.listdir(_os.path.join(idx, d)))
                for d in ("centroids", "postings", "cell_sizes",
                          "_applog", "_fence")
            },
        )

    before = state()
    assert compact_index(spark, idx) == {}
    assert state() == before
    ivf_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 != 0),
                     batch_id=1)
    m = json.load(open(_os.path.join(idx, "_meta.json")))
    assert m["applied_batches"] == [0, 1]
    assert m["mver"] == json.loads(before[0])["mver"] + 1


def test_malformed_compact_warn_batches_refuses_append_before_claim(
    spark, tmp_path, monkeypatch
):
    """A malformed BDFP_INDEX_COMPACT_WARN_BATCHES is refused when the
    append's transaction opens, naming the variable and the value:
    the batch does not land, and no claim, fence marker or stage is
    left behind (parsed after the commit, a landed append raised)."""
    import json

    from bigdatafinalproject_spark.operators.ann_index import pq_index_append

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_warnknob")
    before = _writer_state(idx)
    monkeypatch.setenv("BDFP_INDEX_COMPACT_WARN_BATCHES", "many")
    with pytest.raises(
        ValueError, match=r"BDFP_INDEX_COMPACT_WARN_BATCHES='many'"
    ):
        pq_index_append(spark, idx, delta, batch_id=0)
    assert _writer_state(idx) == before
    assert json.loads(before[0])["applied_batches"] == []


def test_malformed_gc_grace_refuses_compaction_before_claim(
    spark, tmp_path, monkeypatch
):
    """A malformed BDFP_INDEX_GC_GRACE_S is refused when compact_index
    opens its transaction, naming the variable and the value, and no
    unit is removed (it used to read as grace 0: immediate removal). A
    negative grace is refused the same way."""
    from bigdatafinalproject_spark.operators.ann_index import (
        compact_index,
        pq_index_append,
    )

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_graceknob")
    pq_index_append(spark, idx, delta, batch_id=0)
    units = {
        t: sorted(os.listdir(os.path.join(idx, t))) for t in ("codes", "norms")
    }
    before = _writer_state(idx)
    for bad in ("1h", "-5"):
        monkeypatch.setenv("BDFP_INDEX_GC_GRACE_S", bad)
        with pytest.raises(
            ValueError, match=rf"BDFP_INDEX_GC_GRACE_S='{bad}'"
        ):
            compact_index(spark, idx)
        assert _writer_state(idx) == before
        for t, us in units.items():
            assert sorted(os.listdir(os.path.join(idx, t))) == us


@pytest.mark.parametrize(
    "var, bad",
    [
        ("BDFP_ANN_LEASE_S", "0"),
        ("BDFP_ANN_LEASE_S", "-2"),
        ("BDFP_ANN_LEASE_S", "nan"),
        ("BDFP_ANN_LEASE_S", "inf"),
        ("BDFP_ANN_LEASE_S", "30s"),
        ("BDFP_ANN_CLAIM_MODE", "lese"),
        ("BDFP_ANN_CLAIM_MODE", ""),
    ],
)
def test_bad_claim_knob_is_refused_naming_it(monkeypatch, var, bad):
    """A lease of 0 or less used to read as lapsed the moment it was
    written (and its renewer spun on ``wait(0)``); a misspelt claim
    mode was silently judged by the pid probe. Both now raise, naming
    the variable and the value."""
    from bigdatafinalproject_spark.operators import txlog
    from bigdatafinalproject_spark.operators.ann_index import _read_knobs

    monkeypatch.setenv(var, bad)
    with pytest.raises(ValueError, match=rf"^{var}={bad!r}:"):
        _read_knobs()
    read = (
        txlog.lease_seconds if var == txlog.LEASE_S_ENV else txlog.claim_mode
    )
    with pytest.raises(ValueError, match=rf"^{var}={bad!r}:"):
        read()


def test_claim_knob_defaults_and_valid_values(monkeypatch):
    from bigdatafinalproject_spark.operators import txlog

    monkeypatch.delenv(txlog.LEASE_S_ENV, raising=False)
    monkeypatch.delenv(txlog.CLAIM_MODE_ENV, raising=False)
    assert (txlog.claim_mode(), txlog.lease_seconds()) == ("lease", 30.0)
    monkeypatch.setenv(txlog.LEASE_S_ENV, "0.6")
    monkeypatch.setenv(txlog.CLAIM_MODE_ENV, "pid")
    assert (txlog.claim_mode(), txlog.lease_seconds()) == ("pid", 0.6)


@pytest.mark.parametrize(
    "var, bad", [("BDFP_ANN_LEASE_S", "0"), ("BDFP_ANN_CLAIM_MODE", "lese")]
)
def test_bad_claim_knob_refuses_append_before_claim(
    spark, tmp_path, monkeypatch, var, bad
):
    """A bad claim knob is refused when the append's transaction opens:
    the batch does not land, and no claim, fence marker or stage is
    left behind (the append used to land, under a lease that read as
    lapsed or a mode judged by the pid probe)."""
    import json

    from bigdatafinalproject_spark.operators.ann_index import pq_index_append

    emb, base, delta, idx = _build_pq_base(spark, tmp_path, "pq_claimknob")
    before = _writer_state(idx)
    monkeypatch.setenv(var, bad)
    with pytest.raises(ValueError, match=rf"{var}={bad!r}"):
        pq_index_append(spark, idx, delta, batch_id=0)
    assert _writer_state(idx) == before
    assert json.loads(before[0])["applied_batches"] == []
