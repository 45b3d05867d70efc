"""Recall-at-scale for the ANN family: does approximation quality
hold as the corpus grows?

The scale bench (BENCH_SF1.json) proves the ANN tiers stay ~linear in
wall-clock; this artifact proves they stay USEFUL — recall@10 against
the exact brute-force baseline at each scale point, same bounded query
panel the registered queries use. A tier whose recall collapses as N
grows (e.g. a capped-codebook PQ drowning in candidates) would pass
the time bench and fail here.

Usage: python scripts/ann_recall_scale.py   (after scripts/gen_scale.py)
Writes RECALL_SCALE.json at the repo root.
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from bigdatafinalproject_spark.catalog import load_table  # noqa: E402
from bigdatafinalproject_spark.operators.ann import (  # noqa: E402
    cosine_topk,
    ivf_topk,
    ivfpq_topk,
    lsh_topk,
    pq_topk,
    quantized_topk,
)
from bigdatafinalproject_spark.session import get_spark  # noqa: E402


def _appended(kind, spark, emb, queries):
    """Search over a base-trained, delta-appended index (fresh temp
    dir per call)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bigdatafinalproject_spark.operators.ann_index import (
        ensure_ivf_index,
        ensure_ivfpq_index,
        ensure_pq_index,
        ivf_index_append,
        ivf_index_search,
        ivfpq_index_append,
        ivfpq_index_search,
        pq_index_append,
        pq_index_search,
    )
    from bigdatafinalproject_spark.operators.ann import (
        IVF_PROBE_MASS as _IVF_MASS,
        IVF_SCALE_REF as _IVF_SCALE_REF,
        IVFPQ_PROBE_MASS as _IVFPQ_MASS,
    )

    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = tempfile.mkdtemp(prefix=f"bdfp_recallscale_{kind}_")
    shutil.rmtree(idx, ignore_errors=True)
    if kind == "ivf":
        ensure_ivf_index(
            spark, base, idx, "recallscale", centroid_mod=37,
            max_centroids=64, train_rounds=2, multi_assign=3,
            scale_ref=_IVF_SCALE_REF,
        )
        ivf_index_append(spark, idx, delta)
        out = ivf_index_search(
            spark, idx, emb, queries, k=10, probe_mass=_IVF_MASS
        )
    elif kind == "ivfpq":
        ensure_ivfpq_index(
            spark, base, idx, "recallscale", centroid_mod=37,
            max_centroids=64, train_rounds=2, multi_assign=3,
            m=16, dim=64, codeword_mod=13, max_codewords=64,
            coarse_scale_ref=_IVF_SCALE_REF,
        )
        ivfpq_index_append(spark, idx, delta)
        out = ivfpq_index_search(
            spark, idx, emb, queries, k=10, probe_mass=_IVFPQ_MASS,
            rerank=4,
        )
    else:
        ensure_pq_index(
            spark, base, idx, "recallscale", m=16, dim=64,
            codeword_mod=13, max_codewords=64, train_rounds=2,
        )
        pq_index_append(spark, idx, delta)
        out = pq_index_search(
            spark, idx, emb, queries, k=10, m=16, dim=64, rerank=4
        )
    rows = out.collect()
    shutil.rmtree(idx, ignore_errors=True)
    return rows


def _retrained(kind, spark, emb, queries):
    """The retrain-trigger lifecycle end-to-end (r9, VERDICT r8 #5):
    build on base, append the delta, observe needs_retrain flip past
    its budget, then RETRAIN (rebuild on the full corpus under a fresh
    fingerprint) and search the retrained index. Its recall row must
    match the full-trained tier (the rebuild IS the full train), and
    the trigger must be reset after it."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bigdatafinalproject_spark.operators.ann_index import (
        ensure_ivf_index,
        ensure_ivfpq_index,
        ensure_pq_index,
        ivf_index_append,
        ivf_index_search,
        ivfpq_index_append,
        ivfpq_index_search,
        needs_retrain,
        pq_index_append,
        pq_index_search,
    )
    from bigdatafinalproject_spark.operators.ann import (
        IVF_PROBE_MASS as _IVF_MASS,
        IVF_SCALE_REF as _IVF_SCALE_REF,
        IVFPQ_PROBE_MASS as _IVFPQ_MASS,
    )

    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    idx = tempfile.mkdtemp(prefix=f"bdfp_recallscale_{kind}rt_")
    shutil.rmtree(idx, ignore_errors=True)
    if kind == "ivf":
        ensure_ivf_index(
            spark, base, idx, "recallscale_base", centroid_mod=37,
            max_centroids=64, train_rounds=2, multi_assign=3,
            scale_ref=_IVF_SCALE_REF,
        )
        ivf_index_append(spark, idx, delta)
    elif kind == "ivfpq":
        ensure_ivfpq_index(
            spark, base, idx, "recallscale_base", centroid_mod=37,
            max_centroids=64, train_rounds=2, multi_assign=3,
            m=16, dim=64, codeword_mod=13, max_codewords=64,
            coarse_scale_ref=_IVF_SCALE_REF,
        )
        ivfpq_index_append(spark, idx, delta)
    else:
        ensure_pq_index(
            spark, base, idx, "recallscale_base", m=16, dim=64,
            codeword_mod=13, max_codewords=64, train_rounds=2,
        )
        pq_index_append(spark, idx, delta)
    if not needs_retrain(idx, max_appended_frac=0.4):
        raise RuntimeError("retrain trigger failed to flip at 1/2 appended")
    shutil.rmtree(idx)  # the scheduler's retrain: rebuild on the full corpus
    if kind == "ivf":
        ensure_ivf_index(
            spark, emb, idx, "recallscale_full", centroid_mod=37,
            max_centroids=64, train_rounds=2, multi_assign=3,
            scale_ref=_IVF_SCALE_REF,
        )
        out = ivf_index_search(
            spark, idx, emb, queries, k=10, probe_mass=_IVF_MASS
        )
    elif kind == "ivfpq":
        ensure_ivfpq_index(
            spark, emb, idx, "recallscale_full", centroid_mod=37,
            max_centroids=64, train_rounds=2, multi_assign=3,
            m=16, dim=64, codeword_mod=13, max_codewords=64,
            coarse_scale_ref=_IVF_SCALE_REF,
        )
        out = ivfpq_index_search(
            spark, idx, emb, queries, k=10, probe_mass=_IVFPQ_MASS,
            rerank=4,
        )
    else:
        ensure_pq_index(
            spark, emb, idx, "recallscale_full", m=16, dim=64,
            codeword_mod=13, max_codewords=64, train_rounds=2,
        )
        out = pq_index_search(
            spark, idx, emb, queries, k=10, m=16, dim=64, rerank=4
        )
    if needs_retrain(idx, max_appended_frac=0.0):
        raise RuntimeError("retrain did not reset the trigger")
    rows = out.collect()
    shutil.rmtree(idx, ignore_errors=True)
    return rows


def _ivf_mass_topk(emb, queries):
    from bigdatafinalproject_spark.operators.ann import (
        IVF_PROBE_MASS as _IVF_MASS,
    )

    from bigdatafinalproject_spark.operators.ann import IVF_SCALE_REF

    return ivf_topk(
        emb, queries, k=10, probe_mass=_IVF_MASS, train_rounds=2,
        multi_assign=3, scale_ref=IVF_SCALE_REF,
    )


def _ivfpq_mass_topk(emb, queries):
    from bigdatafinalproject_spark.operators.ann import (
        IVFPQ_PROBE_MASS as _IVFPQ_MASS,
    )

    from bigdatafinalproject_spark.operators.ann import IVF_SCALE_REF

    return ivfpq_topk(
        emb, queries, k=10, train_rounds=2, multi_assign=3,
        probe_mass=_IVFPQ_MASS, m=16, codeword_mod=13,
        max_codewords=64, rerank=4, coarse_scale_ref=IVF_SCALE_REF,
    )


def ivf_cand_frac(spark, sf_dir: str) -> float:
    """Measured unique-candidate fraction of the SHIPPED ivf_trained
    config (scaled C + "auto" mass schedule) — the serve-cost number
    the r11 retune dials (VERDICT r10 #1 asked for the measured
    candidate mass beside every recall row). Mean over the standing
    query panel of |distinct probed candidates| / N. Serves from the
    SHARED persisted index (the registered ann_ivf_index_search
    config), so the trainer runs at most once per corpus version per
    host — never a second in-query build beside the recall pass (r11
    review #6)."""
    import os as _os

    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann import (
        IVF_PROBE_MASS as _MASS,
        IVF_SCALE_REF as _SREF,
        _mass_probes,
        centroid_panel,
    )
    from bigdatafinalproject_spark.operators.ann_index import (
        corpus_fingerprint,
        ensure_ivf_index,
        shared_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    params = dict(
        centroid_mod=37, max_centroids=64, train_rounds=2,
        multi_assign=3, scale_ref=_SREF,
    )
    fp = corpus_fingerprint(table_path(sf_dir, "embeddings"), **params)
    idx = ensure_ivf_index(
        spark, emb, shared_index_dir("ivf", fp), fp,
        src=table_path(sf_dir, "embeddings"), **params,
    )
    # v6 (r13): index tables resolve through the manifest's units map
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        _read_table,
        _sizes_frame,
    )

    meta = _manifest(idx)
    centroids = _read_table(spark, idx, meta, "centroids")
    postings = _read_table(spark, idx, meta, "postings")
    # the manifest's folded cell_sizes snapshot, as the serve reads it
    sizes = _sizes_frame(spark, meta)
    probes = _mass_probes(
        centroid_panel(centroids, "ann_recall_scale"),
        queries, sizes, _MASS, "vec_id", "embedding",
        mass_multi=3, sched_ref=_SREF,
    )
    per_q = (
        probes.join(postings, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .groupBy("query_id")
        .count()
        .agg(F.avg("count").alias("c"))
        .collect()[0].c
    )
    return round(float(per_q) / emb.count(), 4)


def ivfpq_serve_frac(spark, sf_dir: str) -> dict[str, float]:
    """Measured serve cost of the SHIPPED ivfpq config (scaled coarse
    count + "auto" mass schedule, r11): ``scan`` = mean fraction of
    the POSTING mass whose codes the ADC pass reads per query (the
    compressed-domain scan dial the schedule turns — bytes/query ≈
    scan · N · 16 B), ``cand`` = mean unique-candidate fraction.
    Serves from the SHARED persisted index (the registered
    ann_ivfpq_index_search config)."""
    import os as _os

    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann import (
        IVF_SCALE_REF as _SREF,
        IVFPQ_PROBE_MASS as _MASS,
        _mass_probes,
        centroid_panel,
    )
    from bigdatafinalproject_spark.operators.ann_index import (
        _manifest,
        _read_table,
        _sizes_frame,
        corpus_fingerprint,
        ensure_ivfpq_index,
        shared_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    params = dict(
        centroid_mod=37, max_centroids=64, train_rounds=2,
        multi_assign=3, m=16, dim=64, codeword_mod=13,
        max_codewords=64, coarse_scale_ref=_SREF,
    )
    fp = corpus_fingerprint(table_path(sf_dir, "embeddings"), **params)
    idx = ensure_ivfpq_index(
        spark, emb, shared_index_dir("ivfpq", fp), fp,
        src=table_path(sf_dir, "embeddings"), **params,
    )
    meta = _manifest(idx)
    centroids = _read_table(spark, idx, meta, "centroids")
    codes = _read_table(spark, idx, meta, "codes")
    sizes = _sizes_frame(spark, meta)
    probes = _mass_probes(
        centroid_panel(centroids, "ann_recall_scale"),
        queries, sizes, _MASS, "vec_id", "embedding",
        mass_multi=3, sched_ref=_SREF,
    )
    tot = sizes.agg(F.sum("_csz")).collect()[0][0]
    nq = queries.count()
    scanned = (
        probes.join(sizes, "centroid_id")
        .agg(F.sum("_csz"))
        .collect()[0][0]
    )
    per_q = (
        probes.join(
            codes.filter(F.col("s") == 0).select(
                "centroid_id", "neighbor_id"
            ),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .groupBy("query_id")
        .count()
        .agg(F.avg("count").alias("c"))
        .collect()[0].c
    )
    return {
        "scan": round(float(scanned) / (tot * nq), 4),
        "cand": round(float(per_q) / emb.count(), 4),
    }


def recalls(spark, sf_dir: str) -> dict[str, float]:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    qids = {a for a, _ in exact}
    tiers = {
        "int8_rerank": lambda: quantized_topk(emb, queries, k=10, rerank=4),
        "lsh_multiprobe": lambda: lsh_topk(
            # r9 retune (42/7, numpy-calibrated): recall 0.88-0.94
            # flat vs 0.69-0.78 at the old 24/4
            emb, queries, k=10, num_planes=42, bands=7, multiprobe=1
        ),
        "ivf": lambda: ivf_topk(emb, queries, k=10),
        "pq": lambda: pq_topk(emb, queries, k=10),
        # r8 trained tiers (the registered ann_ivf_topk / ann_pq_topk
        # configs): k-means-refined centroids + 3x redundant
        # assignment; 16x4 trained codebooks — kept beside the
        # trainless rows so the artifact shows what training buys
        # r9 composed tier: coarse trained cells + residual PQ — the
        # IVFADC layout; recall rides the IVF coverage ceiling while
        # the candidate scan reads 16-byte codes
        # r10 adaptive probe (VERDICT r9 #3): mass-budgeted probing at
        # 3/10 of the posting mass — the shipping config of the
        # registered ivfpq queries; was fixed nprobe=8 (0.77-0.82)
        "ivfpq": lambda: _ivfpq_mass_topk(emb, queries),
        # r10 mass-budgeted probe (the IVF half of the retune): the
        # shipping config of the registered ann_ivf_* queries — probe
        # until 3/10 of the posting mass; was fixed nprobe=8
        # (0.778-0.838, drifting)
        "ivf_trained": lambda: _ivf_mass_topk(emb, queries),
        "pq_trained": lambda: pq_topk(
            emb, queries, k=10, m=16, codeword_mod=13,
            max_codewords=64, rerank=4, train_rounds=2,
        ),
        # r8 maintained-index tiers: train on the base 2/3, append the
        # delta 1/3 against the FROZEN quantizer — quantifies the
        # append-between-retrains drift at every scale point
        "ivf_appended": lambda: _appended("ivf", spark, emb, queries),
        "pq_appended": lambda: _appended("pq", spark, emb, queries),
        "ivfpq_appended": lambda: _appended("ivfpq", spark, emb, queries),
        # r9 retrain-trigger lifecycle: append past the budget, watch
        # needs_retrain flip, rebuild, watch it reset — the recall row
        # must MATCH the *_trained row (retrain == full train)
        "ivf_retrained": lambda: _retrained("ivf", spark, emb, queries),
        "pq_retrained": lambda: _retrained("pq", spark, emb, queries),
        "ivfpq_retrained": lambda: _retrained("ivfpq", spark, emb, queries),
    }
    # RECALL_TIERS=a,b,c re-measures a subset (e.g. after retuning one
    # family) — the merge below keeps every other tier's recorded row,
    # the same single-point economics as SCALE_DIRS
    only = os.environ.get("RECALL_TIERS")
    if only:
        # ignore empty tokens (trailing comma, stray spaces) instead
        # of aborting on an "unknown" '' tier
        want = {t.strip() for t in only.split(",") if t.strip()}
        unknown = want - set(tiers)
        if unknown:
            raise SystemExit(f"RECALL_TIERS unknown: {sorted(unknown)}")
        tiers = {k: v for k, v in tiers.items() if k in want}
    out = {}
    for name, fn in tiers.items():
        res = fn()
        rows = res if isinstance(res, list) else res.collect()
        got = {(r.query_id, r.neighbor_id) for r in rows}
        out[name] = round(
            sum(
                len({p for p in exact if p[0] == q} & got) / 10.0
                for q in qids
            )
            / len(qids),
            3,
        )
    return out


def main() -> None:
    # sf10 (r10, VERDICT r9 #4): the second decade — recall must stay
    # flat across 100×, not just the 30× span
    default_dirs = "/root/testdata/sf0.1," + ",".join(
        str(REPO / ".scaledata" / d)
        for d in ("sf0.3", "sf1", "sf3", "sf10")
        if (REPO / ".scaledata" / d).is_dir()
    )
    dirs = os.environ.get("SCALE_DIRS", default_dirs).split(",")
    spark = get_spark(app_name="bdfp-recall-scale")
    # merge into the existing artifact so a single-point run (e.g.
    # SCALE_DIRS=.scaledata/sf10 to add one decade) keeps the others
    art: dict[str, dict[str, float]] = {}
    prior = REPO / "RECALL_SCALE.json"
    # one parse serves every merged section (recall rows + both
    # serve-cost maps)
    prev = json.loads(prior.read_text()) if prior.is_file() else {}
    art = prev.get("recall_at_10", {})
    subset_run = bool(os.environ.get("RECALL_TIERS"))
    for d in dirs:
        sf = re.search(r"sf([0-9.]+)", d).group(1)
        if subset_run:
            # per-TIER merge: a RECALL_TIERS run keeps the unmeasured
            # tiers' recorded values at this point
            art.setdefault(f"sf{sf}", {}).update(recalls(spark, d))
        else:
            # full sweep REPLACES the point, so renamed/removed tiers
            # can't persist as stale rows forever (r10 review)
            art[f"sf{sf}"] = recalls(spark, d)
    art = dict(
        sorted(art.items(), key=lambda kv: float(kv[0].removeprefix("sf")))
    )
    # measured serve-cost beside the recall rows (merge like recall)
    cand: dict[str, float] = prev.get("ivf_candidate_frac", {})
    pqserve: dict[str, dict[str, float]] = prev.get("ivfpq_serve_frac", {})
    if os.environ.get("RECALL_CAND_FRAC", "1") != "0":
        for d in dirs:
            sf = re.search(r"sf([0-9.]+)", d).group(1)
            cand[f"sf{sf}"] = ivf_cand_frac(spark, d)
            pqserve[f"sf{sf}"] = ivfpq_serve_frac(spark, d)
    cand = dict(
        sorted(cand.items(), key=lambda kv: float(kv[0].removeprefix("sf")))
    )
    pqserve = dict(
        sorted(pqserve.items(), key=lambda kv: float(kv[0].removeprefix("sf")))
    )
    payload = {
        "metric": "ann_recall_at_scale",
        "recall_at_10": art,
        "ivf_candidate_frac": cand,
        "ivfpq_serve_frac": pqserve,
    }
    # carry forward sections this script does not own (r12: the
    # "clustered" rows from scripts/clustered_recall.py and the
    # appended-tier protocol note) — a full isotropic sweep must not
    # silently drop them from the artifact
    for k, v in prev.items():
        payload.setdefault(k, v)
    (REPO / "RECALL_SCALE.json").write_text(
        json.dumps(payload, indent=1) + "\n"
    )
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
