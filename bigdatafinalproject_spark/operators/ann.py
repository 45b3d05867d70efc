"""Approximate-nearest-neighbor search over embedding columns (net-new
surface, BASELINE.json north star; replaces the reference's driver-side
dense-matrix sklearn cosine, similarity_matrix.py:41-47).

Two tiers:

- ``cosine_topk``  — exact brute force: Q×N cosine via JVM-side
  ``zip_with``/``aggregate`` (no Python in the loop), windowed top-k.
  The correctness baseline; cost O(Q·N·d).
- ``lsh_topk``     — random-hyperplane LSH: P deterministic pseudo-random
  hyperplanes → sign bits → banded bucket equi-join → exact cosine only
  on candidates. The 100 TB path: never materializes Q×N.

Determinism/portability: dot products are LEFT-TO-RIGHT sequential
double folds over the array (Spark ``aggregate`` == DuckDB
``list_reduce``), so results are bit-identical across engines without
decimal rounding; hyperplane components are md5-derived integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators.layout import spread


# IVFPQ adaptive probe policy (r10 introduced the mass budget; r11
# adopted the SAME scheduled policy as the IVF tier — "auto": coarse
# count C = min(512, 64·ceil(sqrt(N/2000))) and the posting-mass
# budget steps down with s per IVF_MASS_SCHEDULE). Lives at the
# OPERATOR layer (not queries/) so streaming maintenance and scripts
# can import it without touching the query registry (the
# circular-import trap). numpy-calibrated across 5 scale points
# BEFORE the Spark change (scripts/ivfpq_calibration.py,
# IVFPQ_CALIBRATION.json), every shipped operating point directly
# measured:
#
#   sf0.1  s=1  C=55(sat) mass 3/10 recall 0.940 scan 0.31 (= r10)
#   sf0.3  s=2  C=128     mass 3/10 recall 0.948 scan 0.30
#   sf1    s=4  C=256     mass 1/5  recall 0.938 scan 0.20
#   sf3    s=6  C=384     mass 3/20 recall 0.948 scan 0.15
#   sf10   s=10 C=512     mass 3/20 recall 0.947 scan 0.15
#
# vs the frozen-C r10 points (C=64, 3/10): recall equal-or-better at
# sf0.3-sf3 (0.944/0.931/0.948) and -0.008 at sf10 (0.955), while
# the compressed-domain scan HALVES (0.31 -> 0.15 of posting mass,
# unique candidates 0.67N -> 0.37N). This is the serve-cost dial the
# IVF calibration said only the ADC tier could afford to turn: 15%
# of 16 B/vector codes ≈ 2.4 B/vector scanned per query at sf10.
IVFPQ_PROBE_MASS = "auto"

# IVF-flat probe policy (r10 introduced the mass budget; r11 made it
# ADAPTIVE — the r10 verdict's top item). "auto" = the scheduled
# policy: the centroid count grows with the corpus (classic IVF
# sizing, C = min(IVF_CENTROID_CAP, base · s) with
# s = ceil(sqrt(N / IVF_SCALE_REF))), and the posting-mass budget
# STEPS DOWN with s per IVF_MASS_SCHEDULE. numpy-calibrated across 5
# scale points (sf0.1-sf10, 100×; scripts/ivf_centroid_calibration.py,
# IVF_CALIBRATION.json) BEFORE the Spark change; the chosen operating
# points are all directly measured, none interpolated:
#
#   sf0.1  N=2k   s=1  C=55(sat) mass 3/10 recall 0.955 cand 0.66N
#   sf0.3  N=6k   s=2  C=128     mass 3/10 recall 0.972 cand 0.65N
#   sf1    N=20k  s=4  C=256     mass 1/5  recall 0.958 cand 0.47N
#   sf3    N=60k  s=6  C=384     mass 3/20 recall 0.956 cand 0.37N
#   sf10   N=200k s=10 C=512     mass 3/20 recall 0.958 cand 0.37N
#
# The calibration's decisive finding (and the honest limit of the
# verdict's <=0.1N target): unique-candidate mass is ~2.2-2.9× the
# posting-mass budget REGARDLESS of C (multi-assigned postings are
# nearly all distinct vectors), and recall-at-fixed-mass SATURATES in
# C on this isotropic corpus — at sf10, C=256/512/640 all need ~3/20
# of posting mass for recall 0.95, and at 0.14N candidates the best
# of them reads 0.76. So growing C buys a real 1.8× serve-cost cut
# (0.66N -> 0.37N at recall >= 0.95) but no more: isotropic d=64
# vectors are the hard regime for space-partitioning ANN, and
# pushing below ~0.35N candidates at 0.95 recall needs a compressed-
# domain scan — which is exactly the IVFPQ tier (16 B/vector ADC).
# IVF with full-vector rerank remains the recall-reference tier.
#
# Transferability (r12, VERDICT r11 #2): the schedule was re-swept on
# a CLUSTERED mixture-of-Gaussians fixture at sf1/sf10 size
# (IVFPQ_CALIBRATION_CLUSTERED.json; Spark twin in
# RECALL_SCALE.json:clustered) — the isotropic corpus is the binding
# WORST case: clustered recall reads 1.000 at every operating point,
# and the C cap binding at sf10 (512 vs uncapped 640) costs zero
# recall and ~0.9% candidate mass there, so the capped schedule
# transfers with margin and needs no cluster-aware variant.
IVF_PROBE_MASS = "auto"

# the s-schedule for the "auto" policy: (max_s, num, den) rows, first
# matching row wins, None = open-ended. Shared verbatim by the Spark
# plan (_mass_probes) and the DuckDB oracles (ivf_mass_schedule_sql)
# so the integer probe rule can never drift between engines.
IVF_MASS_SCHEDULE = ((3, 3, 10), (5, 1, 5), (None, 3, 20))
IVF_SCALE_REF = 2000  # sf0.1's corpus size: s=1 there by construction
IVF_CENTROID_CAP = 512


def _dot(a: str, b: str) -> Column:
    """Sequential double dot product of two float arrays (exact
    float->double element casts, left-to-right accumulation)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", F.sqrt(_dot(vec_col, vec_col)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Returns (query_id, neighbor_id, cosine, rank), excluding self-pairs.
    Ties broken by neighbor id. The corpus side is the big side; the
    query side is broadcast (typical ANN batch: few queries, huge
    corpus), so the cross join is a broadcast-nested-loop with no
    shuffle of the corpus.

    Batch frames dispatch to the Arrow kernel
    (operators/arrow_kernels.cosine_topk_arrow): the panel — the side
    this plan broadcast — is collected once, each corpus partition
    computes its local top-k per query in numpy, and a final window
    over the bounded survivors assigns the global rank; the Q-fan-out
    interpreted fold disappears and the corpus is still never
    collected.
    """
    if not (corpus.isStreaming or queries.isStreaming):
        from bigdatafinalproject_spark.operators.arrow_kernels import (
            cosine_topk_arrow,
        )

        from bigdatafinalproject_spark.operators.layout import spread_scaled

        return cosine_topk_arrow(
            spread_scaled(corpus, id_col), queries, id_col, vec_col, k
        )
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
        "_qv",
    ).withColumnRenamed("_norm", "_qnorm")
    c = with_norm(
        spread(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
            ),
            "neighbor_id",
        ),
        "_cv",
    ).withColumnRenamed("_norm", "_cnorm")

    cos = _dot("_qv", "_cv") / (F.col("_qnorm") * F.col("_cnorm"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    bands: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane sign signatures, banded: one row per (id, band)
    with the band's bit-string digest.

    Hyperplane component (p, i) is an md5-derived integer in
    [-1000, 1000]. The components are ROW-INDEPENDENT, so they are
    computed once on the driver (same md5 construction, bit-identical
    to the oracle's SQL md5) and inlined as literal weight arrays —
    the previous formulation re-hashed all num_planes*dim components
    per row inside the fold (~768 md5 calls/row). Each plane's dot is
    a sequential double fold; banding is a map-side array build +
    explode — no shuffle at all.
    """
    import hashlib

    def comp(p: int, i: int) -> int:
        h = int(hashlib.md5(f"plane|{p}|{i}".encode()).hexdigest()[:15], 16)
        return h % 2001 - 1000

    rows = num_planes // bands
    sel = df.select(F.col(id_col), F.col(vec_col).alias("_v"))
    if not df.isStreaming:
        # batch frames: the P plane dots, the sign bits and the band
        # strings all come out of one Arrow kernel pass (r14) — the
        # hyperplane matrix is tiny and rides in the closure; the
        # dim-sequential accumulation reproduces each fold bit-for-bit
        import numpy as np
        import pyarrow as pa_mod

        from bigdatafinalproject_spark.operators.arrow_kernels import (
            _list_to_mat,
            seq_dot,
        )

        W_mat = np.array(
            [[comp(p, i) for i in range(1, dim + 1)] for p in range(num_planes)],
            dtype=np.float64,
        )
        # no respread (r14): the kernel is ~100x cheaper per element
        # than the interpreted fold it replaced, so the scan's own
        # partitioning (which grows with file bytes) is parallel
        # enough at every SF, and a 32-way respread of a 2,000-row
        # frame costs more than the whole signature pass
        src = sel
        schema = (
            f"{id_col} {src.schema[id_col].dataType.simpleString()}, "
            "band int, band_sig string"
        )

        def kernel(it):
            for b in it:
                X = _list_to_mat(b.column(1))
                nb = X.shape[0]
                if nb == 0:
                    continue
                bits = seq_dot(X, W_mat) > 0
                chars = np.where(bits, "1", "0")
                sigs = []
                for bb in range(bands):
                    s = chars[:, bb * rows]
                    for j in range(1, rows):
                        s = np.char.add(s, chars[:, bb * rows + j])
                    sigs.append(s)
                take = pa_mod.array(np.repeat(np.arange(nb), bands))
                yield pa_mod.RecordBatch.from_arrays(
                    [
                        b.column(0).take(take),
                        pa_mod.array(
                            np.tile(np.arange(bands, dtype=np.int32), nb)
                        ),
                        pa_mod.array(
                            np.stack(sigs, axis=1).ravel().tolist(),
                            pa_mod.string(),
                        ),
                    ],
                    [id_col, "band", "band_sig"],
                )

        return src.mapInArrow(kernel, schema)
    # streaming micro-batches arrive already parallelized by the
    # source, so the row-local signature math needs no respread; the
    # expression form below stays for them
    d = sel
    dots = [
        F.expr(
            "aggregate(zip_with(_v, array({}), (x, w) -> "
            "CAST(x AS DOUBLE) * CAST(w AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)".format(
                ", ".join(
                    f"CAST({comp(p, i)} AS BIGINT)" for i in range(1, dim + 1)
                )
            )
        )
        for p in range(num_planes)
    ]
    bits = [
        F.when(dots[p] > 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(num_planes)
    ]
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.concat(*bits[b * rows : (b + 1) * rows]).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    return d.select(F.col(id_col), F.explode(bands_arr).alias("_bs")).select(
        id_col, F.col("_bs.band").alias("band"), F.col("_bs.band_sig").alias("band_sig")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    centroid_mod: int = 37,
    nprobe: int = 8,
    max_centroids: int | None = 64,
    train_rounds: int = 0,
    multi_assign: int = 1,
    probe_mass: tuple[int, int] | str | None = None,
    scale_ref: int | None = None,
    centroid_cap: int = IVF_CENTROID_CAP,
) -> DataFrame:
    """IVF-flat approximate top-k: an inverted-file index with sampled
    centroids (every ``centroid_mod``-th vector up to ``max_centroids``
    of them — IVF without k-means iterations, deterministic and
    oracle-replayable).

    1. assign every corpus vector to its nearest centroid (one pass,
       centroids broadcast — the IVF build);
    2. each query probes cells: its ``nprobe`` nearest centroids, or —
       with ``probe_mass=(num, den)`` (r10, the shipping config of the
       registered IVF queries via :data:`IVF_PROBE_MASS`) — its
       cosine-ranked cells until ceil(num/den · total postings) of the
       posting mass is covered;
    3. exact cosine only within the probed buckets.

    In mass mode the probed posting rows are budget-proportional
    (num/den · 3N at multi_assign=3 — ~0.66N unique candidates at
    3/10), NOT |Q|·nprobe·N/C: the budget is the explicit
    recall-vs-scan dial, and it holds coverage (hence recall) constant
    under both corpus growth and centroid-count changes, which a fixed
    nprobe does not (see IVF_PROBE_MASS for the 100×-span numbers).

    Scale shape: the centroid count must be BOUNDED, not proportional
    to N — an uncapped every-mod-th sample makes the broadcast assign
    pass N × N/mod, i.e. quadratic (measured: 1.64 scaling exponent on
    the sf0.1→sf1 stress bench before the cap). With C capped and a
    bounded query panel, assign is N × C and probing is
    |Q| · nprobe · N/C — both linear in N. C is a tuning knob (raise
    it for a real 100 TB deployment, e.g. to 2^16, to keep buckets
    small); what it must never do is scale with N. The bucket join is
    a plain equi-join on centroid_id. Returns (query_id, neighbor_id,
    cosine, rank).

    On nprobe as the recall dial: it tracks the probed corpus
    fraction, which is APPROXIMATELY nprobe/C only while cells stay
    equal-mass — the 100× calibration (see IVF_PROBE_MASS) measured
    recall@10 at fixed nprobe=8 wandering 0.778-0.838 as training
    rebalances cells at each scale. The mass budget replaces the
    proxy (cell count) with the quantity recall actually tracks
    (covered posting mass); prefer ``probe_mass`` wherever the probe
    set must stay comparable across corpus versions. At production C
    (2^16) a given budget probes the same corpus FRACTION regardless
    of C — raise the budget for recall, never nprobe with N.

    Two r8 quality upgrades (the r7 verdict's top item), both off by
    default so the historical trainless plan is untouched:

    - ``train_rounds`` > 0 runs that many deterministic Lloyd updates
      (operators/clustering.kmeans_centroids: decimal-mean updates,
      sequential-fold L2 assignment, ties to lowest cid) from the
      sampled centroids as init. On the isotropic synthetic corpus
      training alone is worth only a few recall points (0.45 -> 0.52 at
      nprobe=8, r8 numpy calibration) — its real value at 100 TB is
      BALANCED cells (sampled centroids leave hot cells that dominate
      probe latency); k-means equalizes cell mass.
    - ``multi_assign`` > 1 indexes every corpus vector under its r
      nearest centroids (redundant assignment, the SPANN/spill-tree
      boundary fix) — the big lever on an isotropic corpus where true
      neighbors straddle cell boundaries: trained C=64/nprobe=8 goes
      0.52 (r=1) -> 0.84 (r=3) at sf0.1, 0.80 at sf1 (20k vectors,
      measured flat). Cost is r× index storage and ~r× probed rows —
      both bounded multiplicative constants, never functions of N.
    """
    centroids, postings = ivf_build_frames(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        centroid_mod=centroid_mod,
        max_centroids=max_centroids,
        train_rounds=train_rounds,
        multi_assign=multi_assign,
        scale_ref=scale_ref,
        centroid_cap=centroid_cap,
    )
    if probe_mass is not None:
        from bigdatafinalproject_spark.operators.barrier import (
            materialize_barrier,
        )

        # two plan branches consume postings in mass mode (the
        # cell-size aggregate and the candidate equi-join) — without a
        # barrier each branch re-executes the whole assignment subtree
        # (the barrier-before-fan-out rule); the persisted-index path
        # instead passes the maintained cell_sizes table and scans
        # postings once
        postings = materialize_barrier(postings)
    return ivf_search_frames(
        centroids, postings, corpus, queries,
        id_col=id_col, vec_col=vec_col, k=k, nprobe=nprobe,
        probe_mass=probe_mass, mass_multi=multi_assign,
        sched_ref=scale_ref,
    )


# candidate-tail pin modes (r15, VERDICT r14 #3): the per-shape
# winners of the interleaved A/B (scripts/ab_cand_pin.py, 4 reps,
# arms alternating per rep; medians at sf0.1):
#   doc_embedding_neardup  none 2.47 / repartition 2.81 / scaled 2.14
#   ann_ivf_recall         none 7.81 / repartition 7.15 / scaled 6.57
#   ann_ivf_topk           none 4.32 / repartition 4.49 / scaled 4.44
# "scaled" (plan-stats-derived partition count) wins or ties both
# shapes — it pins the fan-out like r14's repartition but sizes it to
# the data, probe-free. One hook so the experiment and production run
# the same code path.
_IVF_CAND_PIN = "scaled"
_NEARDUP_CAND_PIN = "scaled"


def _pin_candidates(
    cand: DataFrame, key: str, mode: str = "none"
) -> DataFrame:
    """Parallelism pin for a shuffle-rooted candidate frame about to
    feed vector-attach joins + an Arrow pair kernel. ``mode``:
    ``"none"`` trusts AQE's byte-based coalescing, ``"repartition"``
    pins the fan-out to defaultParallelism (probe-free — byte-light
    but compute-heavy pair sets get coalesced to a handful of tasks
    otherwise), ``"scaled"`` repartitions to the plan-stats-derived
    count (layout.spread_scaled)."""
    if mode == "repartition":
        return cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism, F.col(key)
        )
    if mode == "scaled":
        from bigdatafinalproject_spark.operators.layout import spread_scaled

        return spread_scaled(cand, key)
    return cand


def _nearest_centroids(
    centroids: DataFrame | None,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
    out: str,
    keep_rank: bool = False,
    spread_input: bool = True,
    panel: tuple | None = None,
) -> DataFrame:
    """Top-``n`` centroids per vector by cosine (broadcast centroids,
    bounded window) — the assign (n=multi) and probe (n=nprobe) legs
    of the IVF plans. ``spread_input=False`` (r14) skips the respread
    for bounded probe panels, where 32-way repartitioning ~40 rows
    costs more than the kernel pass itself. ``keep_rank`` also emits the assignment rank
    (``_rn``) so a caller needing BOTH the multi-assignment and the
    primary (rank-1) assignment runs the N×C pass once, not twice
    (r9 review #6: the ivfpq build was paying the corpus-wide
    crossJoin + window shuffle twice).

    Batch frames dispatch to the Arrow kernel
    (operators/arrow_kernels.topn_centroids_arrow): identical
    dim-sequential cosine and (cos DESC, cid ASC) tie order,
    vectorized in numpy, centroids collected once (bounded — the rows
    this plan broadcast); the crossJoin fan-out and the row_number
    shuffle disappear. ``panel`` (r15) is an optional pre-built
    (ids asc, matrix) centroid panel — the persisted-index append
    paths read the frozen quantizer driver-side from its parquet
    (arrow_kernels.panel_from_parquet), skipping the per-micro-batch
    collect job; content is bit-identical either way. With ``panel``,
    ``centroids`` may be None (no Spark read of the frozen table)."""
    streaming_centroids = centroids is not None and centroids.isStreaming
    if not (df.isStreaming or streaming_centroids):
        from bigdatafinalproject_spark.operators.arrow_kernels import (
            topn_centroids_arrow,
        )

        from bigdatafinalproject_spark.operators.layout import spread_scaled

        src = df.select(F.col(id_col).alias(out), F.col(vec_col).alias("_v"))
        return topn_centroids_arrow(
            spread_scaled(src, out) if spread_input else src,
            panel if panel is not None else centroids,
            out, "_v", n, out,
            keep_rank=keep_rank,
        )
    v = with_norm(
        spread(
            df.select(F.col(id_col).alias(out), F.col(vec_col).alias("_v")),
            out,
        ),
        "_v",
    ).withColumnRenamed("_norm", "_vn")
    cn = with_norm(centroids, "_cent").withColumnRenamed("_norm", "_cn")
    cos = _dot("_v", "_cent") / (F.col("_vn") * F.col("_cn"))
    w = W.partitionBy(out).orderBy(
        F.col("_cos").desc(), F.col("centroid_id").asc()
    )
    return (
        v.crossJoin(F.broadcast(cn))
        .withColumn("_cos", cos)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(out, "centroid_id", *(["_rn"] if keep_rank else []))
    )


def _mass_schedule_cols(s: Column) -> tuple[Column, Column]:
    """(num, den) Columns for the scheduled probe budget: first
    IVF_MASS_SCHEDULE row with s <= max_s wins, last row is the
    open-ended default. ONE fold over the shared constant — the SQL
    twin (:func:`ivf_mass_schedule_sql`) renders the same rows, so
    the engines cannot drift."""
    rows = IVF_MASS_SCHEDULE
    assert rows[-1][0] is None, "last schedule row must be open-ended"
    num: Column = F.lit(rows[-1][1])
    den: Column = F.lit(rows[-1][2])
    for max_s, n_, d_ in reversed(rows[:-1]):
        num = F.when(s <= max_s, F.lit(n_)).otherwise(num)
        den = F.when(s <= max_s, F.lit(d_)).otherwise(den)
    return num, den


def mass_schedule_for_n(n_vec: int, scale_ref: int) -> tuple[int, int]:
    """Driver-side resolution of the scheduled probe budget: the
    (num, den) for scale step s = ceil(sqrt(n_vec / scale_ref)) — the
    Python twin of :func:`_mass_schedule_cols` over the same shared
    IVF_MASS_SCHEDULE (first matching row wins, last row open-ended)
    and the same IEEE-double sqrt/ceil both engines evaluate.

    Used by the persisted-index serve paths (r12, ADVICE r11) to CLAMP
    the schedule at the BUILD's step: ``n_vec`` is the manifest's
    ``base_rows``, so appends — which grow the live posting total
    while the centroid count stays frozen at the base build — keep
    the budget fraction the base was calibrated at, instead of
    stepping it down against a one-step-behind C (the measured
    regression: RECALL_SCALE ivfpq_appended 0.909→0.869 at sf3).
    needs_retrain owns the drift response."""
    import math

    s = math.ceil(math.sqrt(n_vec / float(scale_ref)))
    for max_s, num, den in IVF_MASS_SCHEDULE:
        if max_s is None or s <= max_s:
            return num, den
    raise AssertionError("unreachable: last schedule row is open-ended")


def rerank_pool_for_index(
    base_rows: int,
    appended_rows: int,
    k: int,
    rerank: int,
    pool_cap: int,
    scale_ref: int,
) -> int:
    """The r12 drift-aware rerank pool, resolved from an index
    MANIFEST's row counters (ONE copy — r12 review #5: the rule was
    inlined in both pq_index_search and ivfpq_index_search, and a
    drift between plan and oracle replay would surface only as a late
    opaque hash mismatch at SFs where the extra ADC candidates reorder
    the exact-rerank frontier):

        n_idx = base + appended
        s     = ceil(sqrt(n_idx / scale_ref))     (the PQ pool step)
        pool  = min(pool_cap, k·rerank·s·n_idx // base)

    Appended vectors are encoded against base-trained quantizers and
    carry extra quantization error in their ADC ranks; a
    proportionally deeper exact rerank recovers what the compressed
    ranking loses, bounded by pool_cap and by needs_retrain's
    appended-fraction budget. Exact integer arithmetic; the oracles
    render the identical rule (LEAST(cap, term·s·N_total // N_base))."""
    import math

    n_idx = int(base_rows) + int(appended_rows)
    s = math.ceil(math.sqrt(n_idx / float(scale_ref)))
    return min(int(pool_cap), (k * rerank * s * n_idx) // int(base_rows))


def ivf_mass_schedule_sql(s_expr: str) -> tuple[str, str]:
    """The DuckDB rendering of IVF_MASS_SCHEDULE: (num, den) CASE
    fragments over an s expression — imported by the oracle builders
    so the schedule has exactly one copy."""
    rows = IVF_MASS_SCHEDULE
    assert rows[-1][0] is None, "last schedule row must be open-ended"
    whens_n = " ".join(
        f"WHEN {s_expr} <= {m} THEN {n}" for m, n, _ in rows[:-1]
    )
    whens_d = " ".join(
        f"WHEN {s_expr} <= {m} THEN {d}" for m, _, d in rows[:-1]
    )
    return (
        f"CASE {whens_n} ELSE {rows[-1][1]} END",
        f"CASE {whens_d} ELSE {rows[-1][2]} END",
    )


def _mass_probes(
    centroids: DataFrame,
    queries: DataFrame,
    sizes: DataFrame,
    probe_mass: tuple[int, int] | str,
    id_col: str,
    vec_col: str,
    mass_multi: int | None = None,
    sched_ref: int | None = None,
    panel: tuple | None = None,
) -> DataFrame:
    """Mass-budgeted probe set (r10, shared by the IVF and IVFPQ serve
    plans): each query probes its cosine-ranked cells until their
    cumulative posting mass reaches ceil(num/den · total postings),
    inclusive of the crossing cell. ``sizes`` is the C-row
    (centroid_id, _csz) posting-count table — the PERSISTED one for
    index serves, a derived aggregate for end-to-end plans. All
    arithmetic is integer (cell sizes are counts; the budget an exact
    integer ceil), so the probe set is engine-exact and the DuckDB
    oracles replay the identical rule.

    ``probe_mass="auto"`` (r11) selects (num, den) from
    :data:`IVF_MASS_SCHEDULE` by the scale step
    s = ceil(sqrt(n_vec / IVF_SCALE_REF)), with n_vec derived IN-PLAN
    from the posting total: n_vec = T / ``mass_multi`` (every indexed
    vector contributes exactly ``mass_multi`` posting rows whenever
    C >= mass_multi — true for every real config; the division and
    the sqrt/ceil are IEEE-double deterministic in both engines). The
    budget therefore adapts as a maintained index GROWS: appends raise
    T, and the served fraction steps down on schedule without any
    re-deploy — the knob a fixed (num, den) cannot turn.

    ``sched_ref`` must be the BUILD's centroid scale_ref (r11 review
    #5): the schedule and the C-growth rule were calibrated JOINTLY —
    stepping the budget down over an UNSCALED index (C saturated at
    the base count) lands on a measured-bad operating point
    (IVF_CALIBRATION.json: C=64 at 3/20 mass reads ~0.87, not 0.95).
    With sched_ref=None (unscaled build) "auto" therefore holds the
    base 3/10 budget — the r10-calibrated saturated-C point — instead
    of scheduling. Returns (query_id, centroid_id)."""
    tot = sizes.agg(F.sum("_csz").alias("_tot"))
    if probe_mass == "auto":
        if mass_multi is None:
            raise ValueError("probe_mass='auto' requires mass_multi")
        if sched_ref is None:
            base = IVF_MASS_SCHEDULE[0]
            num = F.lit(base[1])
            den = F.lit(base[2])
        else:
            s = F.ceil(
                F.sqrt(
                    (F.col("_tot") / float(mass_multi)) / float(sched_ref)
                )
            )
            num, den = _mass_schedule_cols(s)
    else:
        num = F.lit(int(probe_mass[0]))
        den = F.lit(int(probe_mass[1]))
    ranked = _nearest_centroids(
        centroids, queries, id_col, vec_col, 1 << 30, "query_id",
        keep_rank=True, spread_input=False, panel=panel,
    )
    wq = W.partitionBy("query_id").orderBy("_rn")
    # budget = ceil(num*T/den) exactly: (num*T + den - 1) / den in
    # doubles is exact far beyond any posting count (< 2^53), and
    # both engines floor it identically
    budget = F.floor(
        (F.col("_tot") * num + (den - F.lit(1))) / den.cast("double")
    ).cast("long")
    return (
        ranked.join(F.broadcast(sizes), "centroid_id")
        .withColumn("_cum", F.sum("_csz").over(wq))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("_cum") - F.col("_csz") < budget)
        .select("query_id", "centroid_id")
    )


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 37,
    max_centroids: int | None = 64,
    train_rounds: int = 0,
    scale_ref: int | None = None,
    centroid_cap: int = IVF_CENTROID_CAP,
) -> DataFrame:
    """The coarse quantizer alone — sampled-init (optionally
    Lloyd-trained, barriered) centroids (centroid_id, _cent); factored
    out of ivf_build_frames so the composed IVFPQ build can pair it
    with ONE ranked assignment pass instead of re-running the N×C
    crossJoin for postings and primary assignment separately.

    With ``scale_ref`` set (r11, the r10 verdict's top item) the
    centroid count GROWS with the corpus — classic IVF sizing —
    instead of saturating at a fixed cap: C = min(``centroid_cap``,
    ``max_centroids`` · s) with s = ceil(sqrt(N / scale_ref)), N the
    corpus count, derived IN-PLAN from the same broadcast 1-row
    aggregate as the min-id (never a driver action — the PQ codebook
    discipline, pq_topk). sqrt growth keeps the N×C assign pass at
    N^1.5 inside the measured window and linear beyond the absolute
    cap; s = 1 at and below scale_ref, so every small-SF artifact is
    bit-preserved by construction. The effective count also never
    exceeds ceil(N / centroid_mod) (the sampling density), which is
    what actually binds at the smallest scales."""
    # sampling is RELATIVE to min(id): an absolute `id % mod == 0 AND
    # id < mod*cap` silently yields ZERO centroids on a corpus whose
    # ids start above mod*cap (key-space-convention bug class). The
    # 1-row min aggregate is a column-pruned scan broadcast to every
    # row; for 0-based dense ids (all driver SFs) the sampled set is
    # bit-identical to the historical absolute form.
    _minid = corpus.agg(
        F.min(id_col).alias("_minid"), F.count(F.lit(1)).alias("_cn")
    )
    _rel = F.col(id_col) - F.col("_minid")
    centroids = corpus.crossJoin(F.broadcast(_minid)).filter(
        _rel % centroid_mod == 0
    )
    if scale_ref is not None:
        if max_centroids is None:
            raise ValueError("scale_ref requires a max_centroids base")
        _s = F.ceil(F.sqrt(F.col("_cn") / float(scale_ref)))
        _c = F.least(
            F.lit(centroid_cap).cast("long"),
            F.lit(int(max_centroids)) * _s,
        )
        centroids = centroids.filter(_rel < centroid_mod * _c)
    elif max_centroids is not None:
        # relative-id-range cap: deterministic, replayable, and a
        # no-op below the cap (small SFs keep exact historical results)
        centroids = centroids.filter(_rel < centroid_mod * max_centroids)
    centroids = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("_cent")
    )
    if train_rounds > 0:
        from bigdatafinalproject_spark.operators.clustering import (
            kmeans_centroids,
        )

        from bigdatafinalproject_spark.operators.layout import (
            scaled_parallelism,
        )

        trained = kmeans_centroids(
            corpus.select(id_col, vec_col),
            centroids.select(
                F.col("centroid_id").alias("cid"),
                F.transform(
                    F.col("_cent"), lambda x: x.cast("double")
                ).alias("centroid"),
            ),
            train_rounds,
            id_col=id_col,
            vec_col=vec_col,
            parallelism=scaled_parallelism(corpus),
        )
        # kmeans_centroids returns a LITERAL frame (r14 driver-stepped
        # trainer), so no barrier is needed: every downstream branch
        # reads the inlined k rows for free
        centroids = trained.select(
            F.col("cid").alias("centroid_id"),
            F.col("centroid").alias("_cent"),
        )
    return centroids


def ivf_build_frames(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 37,
    max_centroids: int | None = 64,
    train_rounds: int = 0,
    multi_assign: int = 1,
    scale_ref: int | None = None,
    centroid_cap: int = IVF_CENTROID_CAP,
) -> tuple[DataFrame, DataFrame]:
    """The IVF INDEX as two frames — (centroids (centroid_id, _cent),
    postings (neighbor_id, centroid_id)) — the build half of ivf_topk,
    separated so operators/ann_index.py can persist it (train once,
    serve many: the production shape; every quantity here is
    deterministic, so a persisted index reloads bit-identical)."""
    centroids = ivf_centroids(
        corpus, id_col=id_col, vec_col=vec_col,
        centroid_mod=centroid_mod, max_centroids=max_centroids,
        train_rounds=train_rounds, scale_ref=scale_ref,
        centroid_cap=centroid_cap,
    )
    postings = _nearest_centroids(
        centroids, corpus, id_col, vec_col, multi_assign, "neighbor_id"
    )
    return centroids, postings


def ivf_search_frames(
    centroids: DataFrame,
    postings: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 8,
    probe_mass: tuple[int, int] | str | None = None,
    cell_sizes: DataFrame | None = None,
    mass_multi: int | None = None,
    sched_ref: int | None = None,
    centroid_panel: tuple | None = None,
) -> DataFrame:
    """The serve half of ivf_topk: probe cells per query, equi-join
    the postings, exact-cosine-rerank the candidates against the
    corpus vectors. Works identically on frames fresh from
    ivf_build_frames or reloaded from a persisted index.

    Probe policy (r10): with ``probe_mass=(num, den)`` a query probes
    its cosine-ranked cells until their cumulative POSTING mass
    reaches ceil(num/den · total postings) instead of a fixed
    ``nprobe`` — see :data:`IVF_PROBE_MASS` for the calibration
    (recall@10 0.955-0.972 flat across 100× vs 0.778-0.838 drifting
    at nprobe=8). Because IVF reranks with full vectors, the budget
    IS the serve-cost dial: ~0.66N unique candidates at 3/10 vs
    ~0.33N at nprobe=8 on the 64-cell / 3×-assigned config.

    ``cell_sizes`` (centroid_id, _csz — posting rows per cell) should
    be the PERSISTED C-row table that v4 indexes maintain (the same
    serve-time-scan argument as the IVFPQ table, r10 review #2 — here
    the saved scan is the postings relation); when absent (end-to-end
    plans, legacy indexes) it falls back to a C-row aggregate of the
    postings."""
    if probe_mass is None:
        probes = _nearest_centroids(
            centroids, queries, id_col, vec_col, nprobe, "query_id",
            spread_input=False, panel=centroid_panel,
        )
    else:
        sizes = (
            cell_sizes
            if cell_sizes is not None
            else postings.groupBy("centroid_id").agg(
                F.count(F.lit(1)).alias("_csz")
            )
        )
        probes = _mass_probes(
            centroids, queries, sizes, probe_mass, id_col, vec_col,
            mass_multi=mass_multi, sched_ref=sched_ref,
            panel=centroid_panel,
        )
    # no spread pin here (r14): spread's partition probe materializes
    # this shuffle-rooted subtree as a throwaway job under AQE, and the
    # downstream consumer is now a cheap Arrow kernel — AQE's byte-based
    # coalescing sizes the distinct output correctly at every scale
    # (r15: re-measured with the interleaved A/B — see _pin_candidates)
    cand = _pin_candidates(
        probes.join(postings, on="centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct(),
        "query_id",
        mode=_IVF_CAND_PIN,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    # per-candidate exact cosine via the Arrow pair kernel (r14): same
    # joins, but the interpreted per-row fold + the two with_norm
    # passes collapse into one vectorized stage
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        pair_cosine_arrow,
    )

    scored = pair_cosine_arrow(
        cand.join(F.broadcast(q), "query_id").join(c, "neighbor_id"),
        ["query_id", "neighbor_id"], "_qv", "_cv", "cosine",
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int = 12,
    bands: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup tier on top of
    the ANN machinery): LSH-bucketed candidate generation over the WHOLE
    corpus (id_a < id_b), exact cosine verification, threshold filter.

    Returns (id_a, id_b, cosine). Never materializes N²: candidates
    come from the (band, signature) equi-join.
    """
    sig = lsh_signatures(corpus, id_col, vec_col, num_planes, bands, dim)
    a = sig.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = sig.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    cand = (
        a.join(b, on=["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # probe-free parallelism pin (r14): the per-pair dot is now an
    # Arrow kernel (cheap), but attaching two 64-dim vectors to every
    # candidate pair is byte-heavy relative to the pair set AQE sizes
    # by — coalesced to one task, the join + Arrow conversion
    # serializes. An unconditional repartition pins the fan-out
    # without spread's partition probe (which materializes this
    # shuffle-rooted subtree as a throwaway job under AQE).
    # (r15: re-measured with the interleaved A/B — see _pin_candidates)
    cand = _pin_candidates(cand, "id_a", mode=_NEARDUP_CAND_PIN)
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        pair_cosine_arrow,
    )

    return pair_cosine_arrow(
        cand.join(va, "id_a").join(vb, "id_b"),
        ["id_a", "id_b"], "_va", "_vb", "cosine",
    ).filter(F.col("cosine") >= threshold)


def _with_int8(df: DataFrame, id_out: str, vec_col: str, pfx: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = round(x_i*127/max|x|) ∈ [-127,127]. Returns (id, {pfx}q
    array<int>, {pfx}n2 bigint squared-norm), zero vectors dropped
    (their cosine is undefined). Scales cancel in the cosine of two
    quantized vectors, so no per-pair rescaling is needed."""
    d = df.select(F.col(id_out), F.col(vec_col).alias(f"{pfx}v"))
    ma = (
        f"aggregate(transform({pfx}v, x -> abs(CAST(x AS DOUBLE))), "
        f"CAST(0 AS DOUBLE), (a, b) -> greatest(a, b))"
    )
    d = d.withColumn(f"{pfx}ma", F.expr(ma))
    d = d.withColumn(
        f"{pfx}q",
        F.expr(
            f"CASE WHEN {pfx}ma = CAST(0 AS DOUBLE) "
            f"THEN transform({pfx}v, x -> CAST(0 AS INT)) "
            f"ELSE transform({pfx}v, x -> CAST(round(CAST(x AS DOUBLE) "
            f"* CAST(127 AS DOUBLE) / {pfx}ma) AS INT)) END"
        ),
    )
    d = d.withColumn(
        f"{pfx}n2",
        F.expr(
            f"aggregate(zip_with({pfx}q, {pfx}q, (x, y) -> "
            f"CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ),
    )
    return d.filter(F.col(f"{pfx}n2") > 0).select(id_out, f"{pfx}q", f"{pfx}n2")


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    rerank: int = 4,
) -> DataFrame:
    """Two-stage int8-quantized top-k: (1) scan the corpus with
    integer-dot quantized cosines and keep ``k*rerank`` candidates per
    query; (2) exact float cosine only on the candidates.

    The 100 TB story: the quantized corpus is 4× smaller than float32
    (64 B vs 256 B per 64-dim vector), so the scan stage moves a
    quarter of the bytes and the dot products are integer multiplies —
    the full-precision vectors are touched only for k*rerank rows per
    query. Every step is deterministic (round/cast arithmetic replayed
    by the DuckDB oracle bit-for-bit; integer dots are
    order-independent by construction).

    Returns (query_id, neighbor_id, cosine, rank) with exact cosines.
    """
    # quantize BELOW the exchange: the repartition materializes the int8
    # arrays once per corpus row; above it they would fuse into the
    # cross-join stage and re-evaluate per (query, row) pair
    c = spread(
        _with_int8(
            corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
            "neighbor_id", vec_col, "_c",
        ),
        "neighbor_id",
    )
    q = _with_int8(
        queries.select(F.col(id_col).alias("query_id"), vec_col), "query_id", vec_col, "_q"
    )
    # stage-1 scan via the Arrow kernel (r15 — the last per-PAIR
    # interpreted fold in the ANN family): the old plan crossJoined a
    # broadcast query panel against every corpus row and evaluated an
    # aggregate(zip_with(...)) int fold per pair, off the codegen
    # path. The kernel collects the same bounded panel once and
    # computes the identical int64 dots + IEEE cosine per corpus
    # partition (bit-exact — see quantized_scan_arrow), keeping the
    # per-query (DESC, id ASC) order through a partition-local top-n
    # and a bounded global window.
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        pair_cosine_arrow,
        quantized_scan_arrow,
    )

    cand = quantized_scan_arrow(c, q, k * rerank)

    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    out = pair_cosine_arrow(
        cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id"),
        ["query_id", "neighbor_id"], "_qv", "_cv", "cosine",
    )
    w2 = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return out.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


def lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    bands: int = 3,
    dim: int = 64,
    multiprobe: int = 0,
) -> DataFrame:
    """Bucket-sharing (query_id, neighbor_id) candidate pairs.

    ``multiprobe=1`` additionally probes, per band, every signature at
    Hamming distance 1 from the query's — the standard multiprobe-LSH
    recall lever (Lv et al., VLDB'07). Crucially the probes are
    generated on the QUERY side only (r+1 probe rows per query band):
    the corpus index keeps one row per (vector, band), so at 100 TB the
    index build cost and size are unchanged — recall is bought with a
    constant factor more lookups on the small side of the join.
    """
    r = num_planes // bands
    csig = lsh_signatures(corpus, id_col, vec_col, num_planes, bands, dim)
    qsig = lsh_signatures(queries, id_col, vec_col, num_planes, bands, dim)
    qprobe = qsig.select(F.col(id_col).alias("query_id"), "band", "band_sig")
    if multiprobe >= 1:
        # f = 0 keeps the exact signature; f in 1..r flips bit f
        flips = F.expr(
            f"transform(sequence(0, {r}), f -> CASE WHEN f = 0 THEN band_sig "
            f"ELSE concat(substring(band_sig, 1, f - 1), "
            f"CASE WHEN substring(band_sig, f, 1) = '1' THEN '0' ELSE '1' END, "
            f"substring(band_sig, f + 1, {r})) END)"
        )
        qprobe = qprobe.select(
            "query_id", "band", F.explode(flips).alias("band_sig")
        )
    cand = (
        qprobe.join(
            csig.select(F.col(id_col).alias("neighbor_id"), "band", "band_sig"),
            on=["band", "band_sig"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return cand


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 12,
    bands: int = 3,
    dim: int = 64,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: exact cosine evaluated only on bucket-sharing
    candidates. Returns (query_id, neighbor_id, cosine, rank)."""
    cand = lsh_candidates(
        corpus, queries, id_col, vec_col, num_planes, bands, dim, multiprobe
    )
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        pair_cosine_arrow,
    )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = pair_cosine_arrow(
        cand.join(F.broadcast(q), "query_id").join(c, "neighbor_id"),
        ["query_id", "neighbor_id"], "_qv", "_cv", "cosine",
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def mmr_diversify(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_candidates: int = 12,
    k: int = 4,
    lam_num: int = 7,
    pen_num: int = 3,
    scale: int = 1 << 30,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k: greedily pick k of
    each query's ``n_candidates`` exact-cosine candidates, trading
    relevance against similarity-to-already-picked
    (mmr = lam*rel - (1-lam)*max_sim; lam = lam_num/(lam_num+pen_num)).

    The RAG-retrieval stage after ANN: raw top-k is often near-
    duplicate context; MMR returns a panel that covers the
    neighborhood. Greedy MMR is inherently sequential in k and
    quadratic in the candidate set, so THE CANDIDATE SET is where the
    scale design lives: candidates come from the (banded/bucketed at
    scale) ANN tier and are bounded per query, making every frame here
    kilobytes regardless of corpus size. The k-step loop is a driver
    loop over bounded DataFrames — each step one anti-join + one
    bounded max-sim aggregate + one struct-max argmax (no windows), with
    a barrier per step so lineage never re-executes.

    Portability: cosines are sequential double folds (bit-identical in
    DuckDB); scores then quantize to int64 (floor(cos * scale)), so
    every MMR comparison is EXACT integer arithmetic — the greedy
    trajectory cannot diverge between engines on a float ulp. Ties
    break on lowest id via struct-max over (score, -id).

    Returns (query_id, pick 1..k, vec_id, rel_q, mmr_q).
    """
    # no barrier here: mmr_from_candidates barriers its input (one
    # materialization total, the pre-r12 plan — r12 review #4 caught
    # the refactor double-materializing the same bounded frame)
    cand = cosine_topk(corpus, queries, id_col, vec_col, k=n_candidates).select(
        "query_id",
        F.col("neighbor_id").alias("cid"),
        F.floor(F.col("cosine") * scale).cast("long").alias("rel_q"),
    )
    return mmr_from_candidates(
        corpus, cand, id_col=id_col, vec_col=vec_col, k=k,
        lam_num=lam_num, pen_num=pen_num, scale=scale,
    )


def mmr_from_candidates(
    corpus: DataFrame,
    cand: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    lam_num: int = 7,
    pen_num: int = 3,
    scale: int = 1 << 30,
) -> DataFrame:
    """The MMR greedy walk over an EXPLICIT candidate frame
    (query_id, cid, rel_q) — the production composition point (r12,
    VERDICT r11 #6): candidates come from whatever retrieval tier the
    deployment serves (the persisted IVFPQ index's bounded top-M in
    the registered ``ann_mmr_from_index``; exact cosine in the
    reference-shaped ``ann_mmr_diversified``), so the quadratic
    pairwise-similarity stage and the sequential k-loop only ever
    touch per-query BOUNDED frames regardless of corpus size. Same
    integer-quantized scoring and tie rules as :func:`mmr_diversify`
    (which now wraps this). Returns (query_id, pick, vec_id, rel_q,
    mmr_q)."""
    from bigdatafinalproject_spark.operators.barrier import materialize_barrier

    cand = materialize_barrier(cand)
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        pair_cosine_arrow,
    )

    en = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    pa = cand.select("query_id", F.col("cid").alias("a"))
    pb = cand.select("query_id", F.col("cid").alias("b"))
    # per-pair cosine via the Arrow pair kernel (r14), then the same
    # floor(cos * scale) integer quantization as before
    sims = materialize_barrier(
        pair_cosine_arrow(
            pa.join(pb, "query_id")
            .filter(F.col("a") != F.col("b"))
            .join(en.select(F.col("_id").alias("a"), F.col("_v").alias("_va")), "a")
            .join(en.select(F.col("_id").alias("b"), F.col("_v").alias("_vb")), "b"),
            ["query_id", "a", "b"], "_va", "_vb", "_cos",
        ).select(
            "query_id",
            "a",
            "b",
            F.floor(F.col("_cos") * scale).cast("long").alias("sim_q"),
        )
    )
    first = cand.groupBy("query_id").agg(
        F.max(
            F.struct(F.col("rel_q"), (-F.col("cid")).alias("negid"))
        ).alias("best")
    )
    sel_all = materialize_barrier(
        first.select(
            "query_id",
            F.lit(1).cast("int").alias("pick"),
            (-F.col("best.negid")).alias("cid"),
            F.col("best.rel_q").alias("rel_q"),
            (F.lit(lam_num) * F.col("best.rel_q")).alias("mmr_q"),
        )
    )
    for step in range(2, k + 1):
        rem = cand.join(
            sel_all.select("query_id", "cid"), ["query_id", "cid"], "left_anti"
        )
        pen = (
            sims.join(
                sel_all.select("query_id", F.col("cid").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("cid"))
            .agg(F.max("sim_q").alias("p"))
        )
        best = (
            rem.join(pen, ["query_id", "cid"])
            .groupBy("query_id")
            .agg(
                F.max(
                    F.struct(
                        (
                            F.lit(lam_num) * F.col("rel_q")
                            - F.lit(pen_num) * F.col("p")
                        ).alias("mmr_q"),
                        (-F.col("cid")).alias("negid"),
                        F.col("rel_q"),
                    )
                ).alias("best")
            )
        )
        nxt = materialize_barrier(
            best.select(
                "query_id",
                F.lit(step).cast("int").alias("pick"),
                (-F.col("best.negid")).alias("cid"),
                F.col("best.rel_q").alias("rel_q"),
                F.col("best.mmr_q").alias("mmr_q"),
            )
        )
        sel_all = sel_all.unionByName(nxt)
    return sel_all.select(
        "query_id", "pick", F.col("cid").alias("vec_id"), "rel_q", "mmr_q"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    codeword_mod: int = 13,
    max_codewords: int = 16,
    rerank: int = 4,
    scale: int = 1_000_000,
    codebook_cap: int = 64,
    pool_cap: int = 640,
    scale_ref: int = 1000,
    train_rounds: int = 0,
) -> DataFrame:
    """Product-quantization top-k (the compression tier between the
    int8 rerank and IVF): split vectors into ``m`` subvectors, encode
    each against a per-subspace codebook, rank by asymmetric-distance
    (ADC) table lookups, exact-rerank the survivors.

    Deterministic, trainless codebooks (sampled vectors' subvectors —
    the same offset-robust capped sampling as ivf_topk, so the
    codebook is BOUNDED and oracle-replayable). A FIXED-resolution
    quantizer drowns as N grows (RECALL_SCALE.json first run:
    recall@10 0.29 → 0.13 from N=2k to N=20k at 16 codewords / 40
    candidates), so both budgets scale by ``s = ceil(sqrt(N /
    scale_ref))`` — derived in-plan from a broadcast 1-row aggregate,
    never a driver action — under ABSOLUTE caps: codewords =
    min(codebook_cap, max_codewords*s), rerank pool = min(pool_cap,
    k*rerank*s). sqrt growth halves the recall-density loss per
    decade at sublinear extra cost; the caps keep every stage
    asymptotically linear in N (the BENCH_SF1 discipline: a budget
    may grow as a bounded function of N, never proportionally).
    Beyond the caps — production corpus sizes — constant recall needs
    a TRAINED codebook (k-means, more bits per subspace), which is a
    quality upgrade, not a plan-shape change. Encoding = nearest
    codeword per subspace by
    L2 (sequential double fold, ties to the lowest codeword id). ADC:
    per query the m x C table of subspace dots, FLOOR-QUANTIZED to
    int64 so the per-candidate score is an exact integer SUM — the
    cross-engine-order-independent discipline mmr_diversify uses —
    approx_score = sum_s table[s, code_s] / ||x|| (query norm omitted:
    constant within each query's ranking) with the EXACT corpus norms
    stored beside the codes (standard PQ practice).

    100 TB shape: codes are m bytes-ish per vector (vs 4*dim float32 —
    32x compression at m=8, dim=64); encode is N x m x C subspace
    dots with C capped (linear in N); the ADC scan is a broadcast
    lookup-table join + one map-side-combinable integer aggregation;
    full-precision vectors are touched only for the (capped) rerank
    pool per query. Returns (query_id, neighbor_id, cosine, rank)
    exact-cosine reranked.
    """
    cb, codes, norms = pq_build_frames(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        m=m,
        dim=dim,
        codeword_mod=codeword_mod,
        max_codewords=max_codewords,
        codebook_cap=codebook_cap,
        scale_ref=scale_ref,
        train_rounds=train_rounds,
    )
    return pq_search_frames(
        cb, codes, norms, corpus, queries,
        id_col=id_col, vec_col=vec_col, k=k, m=m, dim=dim,
        rerank=rerank, scale=scale, pool_cap=pool_cap,
        scale_ref=scale_ref,
    )


def _pq_exprs(m: int, dim: int):
    sub = dim // m
    assert sub * m == dim
    spaces = F.explode(
        F.sequence(F.lit(0), F.lit(m - 1)).cast("array<int>")
    ).alias("s")
    subv = F.slice(F.col("_v"), F.col("s") * sub + 1, sub).alias("_sv")
    return spaces, subv


def encode_against_codebook(
    frame: DataFrame,
    cb: DataFrame | None,
    m: int,
    dim: int,
    keys: list[str],
    panel: dict | None = None,
) -> DataFrame:
    """THE PQ encode: nearest codeword per (row, subspace) by
    sequential-fold L2, ties to the smallest codeword id, via one
    broadcast codebook join + one map-side-combinable ``min(struct)``
    argmin (never a sort shuffle of the largest relation). ``frame``
    carries ``keys`` + a ``_v`` vector column (raw vectors for plain
    PQ, residuals for IVFPQ). The ONE definition shared by every
    build and append path (r9 review #7: four verbatim copies meant a
    tie-break or cast fix could silently diverge the build/append
    halves — exactly the invariant the maintenance oracles rely on).

    Batch frames dispatch to the Arrow kernel
    (operators/arrow_kernels.encode_codebook_arrow): the subspace
    slice, dim-sequential L2 and ties-to-lowest-code argmin run
    vectorized per partition and the explode + broadcast join +
    min(struct) shuffle disappears. ``panel`` (r15) is an optional
    pre-built per-subspace codebook dict
    (arrow_kernels.codebook_from_parquet) — the index append paths
    read the frozen codebook driver-side, skipping the per-micro-batch
    collect job; content is bit-identical either way. With ``panel``,
    ``cb`` may be None (no Spark read of the frozen codebook)."""
    if not (frame.isStreaming or (cb is not None and cb.isStreaming)):
        from bigdatafinalproject_spark.operators.arrow_kernels import (
            encode_codebook_arrow,
        )

        return encode_codebook_arrow(
            frame, panel if panel is not None else cb, m, dim, keys
        )
    spaces, subv = _pq_exprs(m, dim)
    l2 = F.expr(
        "aggregate(zip_with(_sv, _cw, (x, c) -> "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        frame.select(*keys, spaces, "_v")
        .select(*keys, "s", subv)
        .join(F.broadcast(cb), "s")
        .withColumn("_d", l2)
        .groupBy(*keys, "s")
        .agg(F.min(F.struct("_d", "code")).alias("_b"))
        .select(*keys, "s", F.col("_b.code").alias("code"))
    )


def _exact_cosine_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact-cosine rerank of a bounded (query_id, neighbor_id)
    candidate pool — the shared tail of the quantized tiers. r14: the
    per-pair cosine runs in the Arrow pair kernel (same joins, the
    interpreted fold and the with_norm passes collapse into one
    vectorized stage)."""
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        pair_cosine_arrow,
    )

    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    out = pair_cosine_arrow(
        cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id"),
        ["query_id", "neighbor_id"], "_qv", "_cv", "cosine",
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return out.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


def pq_build_frames(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    codeword_mod: int = 13,
    max_codewords: int = 16,
    codebook_cap: int = 64,
    scale_ref: int = 1000,
    train_rounds: int = 0,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PQ INDEX as three frames — (codebook (code, s, _cw), codes
    (neighbor_id, s, code), norms (neighbor_id, _cnorm)) — the build
    half of pq_topk, separated so operators/ann_index.py can persist
    it (train/encode once, serve many; exact corpus norms stored
    beside the codes is standard PQ index practice). Deterministic
    end-to-end, so a persisted index reloads bit-identical."""
    spaces, subv = _pq_exprs(m, dim)
    # same offset-robust sampling discipline as ivf_topk (relative to
    # min(id)), with the codebook size scaled by s = ceil(sqrt(N /
    # scale_ref)) up to the absolute codebook_cap — one 1-row
    # aggregate supplies both min(id) and N, broadcast to every row
    _stats = corpus.select(
        F.min(id_col).alias("_minid"), F.count(F.lit(1)).alias("_n")
    )
    _s = F.ceil(F.sqrt(F.col("_n") / float(scale_ref))).cast("int")
    # trained codebooks are FIXED-size (max_codewords): k-means keeps a
    # fixed-resolution codebook informative as N grows, so the sqrt
    # growth that compensated the trainless sampling is unnecessary —
    # exactly the "trained codebook is the production answer" upgrade
    # the r7 docstring promised (r8 calibration: m=16 x 64 trained
    # codewords holds recall@10 ~0.96 flat from N=2k to N=60k, where
    # the trainless sqrt-scaled codebook sat at ~0.56)
    _ceff = (
        F.lit(max_codewords)
        if train_rounds > 0
        else F.least(F.lit(codebook_cap), F.lit(max_codewords) * _s)
    )
    _rel = F.col(id_col) - F.col("_minid")
    cb = (
        corpus.crossJoin(F.broadcast(_stats))
        .filter((_rel % codeword_mod == 0) & (_rel < codeword_mod * _ceff))
        .select(F.col(id_col).alias("code"), F.col(vec_col).alias("_v"))
        .select("code", spaces, "_v")
        .select("code", "s", subv)
        .select("code", "s", F.col("_sv").alias("_cw"))
    )
    if train_rounds > 0:
        from bigdatafinalproject_spark.operators.clustering import (
            kmeans_centroids,
        )

        subvecs = (
            corpus.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_v"))
            .select("_sid", spaces, "_v")
            .select("_sid", "s", subv)
        )
        trained = kmeans_centroids(
            subvecs,
            cb.select(
                "s",
                F.col("code").alias("cid"),
                F.transform(F.col("_cw"), lambda x: x.cast("double")).alias(
                    "centroid"
                ),
            ),
            train_rounds,
            id_col="_sid",
            vec_col="_sv",
            group_cols=("s",),
        )
        # kmeans_centroids returns a LITERAL frame (r14): the encode
        # kernel and the ADC lookup-table join both read the inlined
        # m x C rows for free — no barrier needed
        cb = trained.select(
            F.col("cid").alias("code"), "s", F.col("centroid").alias("_cw")
        )

    cvec = spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")),
        "neighbor_id",
    )
    codes = encode_against_codebook(cvec, cb, m, dim, ["neighbor_id"])

    from bigdatafinalproject_spark.operators.arrow_kernels import norms_arrow

    norms = norms_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id", vec_col, "_cnorm",
    )
    return cb, codes, norms


def pq_search_frames(
    cb: DataFrame,
    codes: DataFrame,
    norms: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    rerank: int = 4,
    scale: int = 1_000_000,
    pool_cap: int = 640,
    scale_ref: int = 1000,
    pool: int | None = None,
    cb_panel: dict | None = None,
) -> DataFrame:
    """The serve half of pq_topk: per-query ADC lookup tables against
    the codebook, integer ADC scan over the codes, exact-cosine rerank
    of the sqrt-scaled pool against the corpus vectors. Works
    identically on frames fresh from pq_build_frames or reloaded from
    a persisted index. ``pool`` (r12) overrides the in-plan
    min(pool_cap, k·rerank·s) pool size with an explicit count — the
    persisted serve paths compute it from the MANIFEST's row counters
    (drift-aware widening on appended indexes)."""
    # the serve half needs only N for the pool cap (min(id) is a
    # build-time sampling concern) — one count-only 1-row aggregate
    _stats = corpus.select(F.count(F.lit(1)).alias("_n"))
    _s = F.ceil(F.sqrt(F.col("_n") / float(scale_ref))).cast("int")
    # ADC lookup tables: floor-quantized subspace dots per (query,
    # subspace, codeword) — |Q| * m * C rows, broadcastable; built in
    # one Arrow kernel pass over the bounded panel (r14)
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        adc_lookup_arrow,
    )

    qtab = adc_lookup_arrow(
        queries, cb_panel if cb_panel is not None else cb,
        m, dim, scale, id_col, vec_col,
    )

    adc = (
        codes.join(F.broadcast(qtab), ["s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("_pq").alias("_iscore"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(norms, "neighbor_id")
        .withColumn(
            "_ascore",
            F.col("_iscore").cast("double") / F.col("_cnorm"),
        )
    )
    cand_w = W.partitionBy("query_id").orderBy(
        F.col("_ascore").desc(), F.col("neighbor_id").asc()
    )
    # rerank pool scales with the same s as the codebook, capped at
    # pool_cap: the exact-rerank stage touches |Q| * pool rows total;
    # an explicit `pool` (manifest-derived) replaces the in-plan
    # derivation AND its count-only aggregate over the corpus
    if pool is not None:
        cand = (
            adc.withColumn("_crank", F.row_number().over(cand_w))
            .filter(F.col("_crank") <= F.lit(int(pool)))
            .select("query_id", "neighbor_id")
        )
    else:
        _pool = F.least(F.lit(pool_cap), F.lit(k * rerank) * _s)
        cand = (
            adc.crossJoin(F.broadcast(_stats))
            .withColumn("_crank", F.row_number().over(cand_w))
            .filter(F.col("_crank") <= _pool)
            .select("query_id", "neighbor_id")
        )

    # exact rerank, same tail as quantized_topk
    return _exact_cosine_rerank(cand, corpus, queries, id_col, vec_col, k)


def ivfpq_build_frames(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 37,
    max_centroids: int = 64,
    train_rounds: int = 2,
    multi_assign: int = 3,
    m: int = 16,
    dim: int = 64,
    codeword_mod: int = 13,
    max_codewords: int = 64,
    coarse_scale_ref: int | None = None,
    centroid_cap: int = IVF_CENTROID_CAP,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The IVFPQ INDEX as four frames — (centroids, codebook, codes,
    norms) — the composed billion-scale layout (FAISS's IVFADC): coarse
    k-means cells partition the corpus, and each vector's RESIDUAL
    (vector minus its cell centroid) is product-quantized, so the
    candidate scan ranks by integer ADC over ~m-byte codes and the
    full-precision vectors are touched only for the bounded rerank
    pool. Everything deterministic, so a persisted copy reloads
    bit-identical.

    - coarse quantizer: the trained IVF centroids + SPANN-style
      multi-assignment (each vector indexed under its ``multi_assign``
      nearest cells — the boundary fix that carries IVF recall on this
      isotropic corpus), with the residual computed PER ASSIGNMENT;
    - residual codebook: per-subspace k-means (``kmeans_centroids``
      grouped mode) trained on the PRIMARY-assignment residuals —
      init sampled id-relative like every quantizer here;
    - codes: (neighbor_id, centroid_id, s, code) — the argmin encode
      of every assignment's residual against the frozen codebook via
      the same map-side ``min(struct)`` as PQ (no sort shuffle of the
      largest relation);
    - norms: exact corpus norms for the cosine denominator.

    Scoring identity: dot(q, x) = dot(q, c_cell) + dot(q, x − c_cell),
    exact for any cell; the PQ approximation applies only to the
    residual term, so the ADC score is dot(q, c) + Σ_s dot(q_s, cw) —
    one per-cell scalar plus a cell-INDEPENDENT lookup table.
    """
    from bigdatafinalproject_spark.operators.barrier import (
        materialize_barrier,
    )
    from bigdatafinalproject_spark.operators.clustering import (
        kmeans_centroids,
    )

    # coarse count scales with the corpus exactly like the IVF tier
    # (``coarse_scale_ref`` — NOT the PQ pool's ``scale_ref``): r11
    # extended the r10-verdict centroid schedule to the composed tier
    # so the ADC scan fraction steps down as N grows instead of cells
    # fattening under a frozen C (IVFPQ_CALIBRATION.json)
    centroids = ivf_centroids(
        corpus, id_col=id_col, vec_col=vec_col,
        centroid_mod=centroid_mod, max_centroids=max_centroids,
        train_rounds=train_rounds,
        scale_ref=coarse_scale_ref, centroid_cap=centroid_cap,
    )
    # ONE ranked assignment pass serves both the multi-assignment
    # postings and the primary (rank-1) training subset (r9 review #6:
    # a separate n=1 call re-ran the N×C crossJoin + window — the two
    # largest relations in the build). r14: the Arrow kernel also
    # emits the per-assignment RESIDUAL in the same pass (elementwise
    # double subtraction — the zip_with residual bit-for-bit), so the
    # corpus-vector and centroid joins that used to rebuild it
    # downstream disappear. The frame is barriered so its consumers
    # (codebook init, codebook trainer, encode) don't re-execute the
    # pass per branch.
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        topn_centroids_arrow,
    )
    from bigdatafinalproject_spark.operators.layout import (
        scaled_parallelism,
        spread_scaled,
    )

    _pt = scaled_parallelism(corpus)
    assigned = materialize_barrier(
        topn_centroids_arrow(
            spread_scaled(
                corpus.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("_v"),
                ),
                "neighbor_id",
                parallelism=_pt,
            ),
            centroids, "neighbor_id", "_v", multi_assign, "neighbor_id",
            keep_rank=True, emit_residual=True,
        )
    )
    # residuals for EVERY assignment (bounded multi× rows)
    res_all = assigned.select("neighbor_id", "centroid_id", "_rv")
    # PRIMARY residuals train the codebook (rank-1 assignment)
    res_prim = assigned.filter(F.col("_rn") == 1).select(
        "neighbor_id", "_rv"
    )
    # codebook init: id-relative sampling of primary residual
    # subvectors (the offset-robust discipline), then grouped Lloyd
    spaces, subv = _pq_exprs(m, dim)
    _minid = corpus.select(F.min(id_col).alias("_minid"))
    _rel = F.col("neighbor_id") - F.col("_minid")
    cb0 = (
        res_prim.crossJoin(F.broadcast(_minid))
        .filter((_rel % codeword_mod == 0) & (_rel < codeword_mod * max_codewords))
        .select(F.col("neighbor_id").alias("code"), F.col("_rv").alias("_v"))
        .select("code", spaces, "_v")
        .select("code", "s", subv)
        .select("code", "s", F.col("_sv").alias("_cw"))
    )
    subvecs = (
        res_prim.select(F.col("neighbor_id").alias("_sid"), F.col("_rv").alias("_v"))
        .select("_sid", spaces, "_v")
        .select("_sid", "s", subv)
    )
    trained = kmeans_centroids(
        subvecs,
        cb0.select(
            "s", F.col("code").alias("cid"),
            F.transform(F.col("_cw"), lambda x: x.cast("double")).alias("centroid"),
        ),
        train_rounds,
        id_col="_sid",
        vec_col="_sv",
        group_cols=("s",),
        parallelism=_pt,
    )
    cb = materialize_barrier(
        trained.select(F.col("cid").alias("code"), "s", F.col("centroid").alias("_cw"))
    )
    # encode every assignment's residual against the frozen codebook
    codes = encode_against_codebook(
        res_all.select(
            "neighbor_id", "centroid_id", F.col("_rv").alias("_v")
        ),
        cb, m, dim, ["neighbor_id", "centroid_id"],
    )
    from bigdatafinalproject_spark.operators.arrow_kernels import norms_arrow

    norms = norms_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id", vec_col, "_cnorm",
    )
    return centroids, cb, codes, norms


def ivfpq_search_frames(
    centroids: DataFrame,
    cb: DataFrame,
    codes: DataFrame,
    norms: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 8,
    m: int = 16,
    dim: int = 64,
    rerank: int = 4,
    scale: int = 1_000_000,
    pool_cap: int = 640,
    scale_ref: int = 1000,
    probe_mass: tuple[int, int] | str | None = None,
    cell_sizes: DataFrame | None = None,
    mass_multi: int | None = None,
    sched_ref: int | None = None,
    pool: int | None = None,
    centroid_panel: tuple | None = None,
    cb_panel: dict | None = None,
) -> DataFrame:
    """The serve half of ivfpq_topk: probe cells per query, ADC-rank
    the probed cells' codes by the exact decomposition
    floor(dot(q, c)·scale) + Σ_s floor(dot(q_s, cw)·scale) — all int64
    arithmetic after the floors, so candidate ranking is engine-exact
    — take each candidate's best cell score, exact-cosine-rerank the
    sqrt-scaled pool. The scan touches ~m bytes/candidate (codes) plus
    kB-broadcast tables; full vectors only for the rerank pool.

    Probe policy (r10, VERDICT r9 #3): with ``probe_mass=(num, den)``
    a query probes its cosine-ranked cells until their cumulative
    POSTING mass reaches ceil(num/den · total postings) — inclusive of
    the crossing cell — instead of a fixed ``nprobe``. Fixed nprobe
    gives every query a cell COUNT but a variable candidate mass (cells
    are not equal-sized), and its effective coverage drifts as the
    cell count saturates at max_centroids while N grows; the mass
    budget pins coverage itself, which the numpy calibration (r10, 4
    scale points) shows is what recall tracks: mass 3/10 reads
    recall@10 0.93-0.95 FLAT across a 30× span where nprobe=8 reads
    0.77-0.82 and drifts. All arithmetic is integer (cell sizes are
    counts; the budget is an exact integer ceil), so the probe set is
    engine-exact and the oracle replays the same rule.

    ``cell_sizes`` (centroid_id, _csz — posting rows per cell) should
    be the PERSISTED C-row table the index build/append paths maintain
    (r10 review #2: deriving it here re-scans the codes relation — the
    index's largest — on every search, forfeiting the probed-cells-
    only scan the layout exists for); when absent (end-to-end plans,
    legacy indexes) it falls back to a C-row aggregate of the s==0
    code rows."""
    _stats = corpus.select(F.count(F.lit(1)).alias("_n"))
    _s = F.ceil(F.sqrt(F.col("_n") / float(scale_ref))).cast("int")
    if probe_mass is None:
        probes = _nearest_centroids(
            centroids, queries, id_col, vec_col, nprobe, "query_id",
            spread_input=False, panel=centroid_panel,
        )
    else:
        # posting rows per cell: the persisted C-row table when given,
        # else one s==0 code row per (vector, cell) assignment — C
        # rows out, map-side partial agg, broadcast
        sizes = (
            cell_sizes
            if cell_sizes is not None
            else codes.filter(F.col("s") == 0)
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("_csz"))
        )
        probes = _mass_probes(
            centroids, queries, sizes, probe_mass, id_col, vec_col,
            mass_multi=mass_multi, sched_ref=sched_ref,
            panel=centroid_panel,
        )
    # per-(query, probed cell) coarse term floor(dot(q, centroid)*scale)
    # and the cell-independent per-(query, subspace, codeword) residual
    # lookup table — both via Arrow kernels over bounded sides (r14)
    from bigdatafinalproject_spark.operators.arrow_kernels import (
        adc_lookup_arrow,
        coarse_terms_arrow,
    )

    qc = coarse_terms_arrow(
        probes, queries,
        centroid_panel if centroid_panel is not None else centroids,
        scale, id_col, vec_col,
    )
    qtab = adc_lookup_arrow(
        queries, cb_panel if cb_panel is not None else cb,
        m, dim, scale, id_col, vec_col,
    )
    # restrict the big codes relation to probed cells FIRST, then the
    # broadcast table lookups; per-cell score = coarse + residual ADC
    adc_cell = (
        codes.join(F.broadcast(probes), "centroid_id")
        .join(F.broadcast(qtab), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id", "centroid_id")
        .agg(F.sum("_pq").alias("_radc"))
        .join(F.broadcast(qc), ["query_id", "centroid_id"])
        .select(
            "query_id", "neighbor_id",
            (F.col("_qc") + F.col("_radc")).alias("_iscore"),
        )
    )
    # a multi-assigned candidate scores once per probed cell: keep its
    # best (exact integer max — deterministic)
    adc = (
        adc_cell.groupBy("query_id", "neighbor_id")
        .agg(F.max("_iscore").alias("_iscore"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(norms, "neighbor_id")
        .withColumn("_ascore", F.col("_iscore").cast("double") / F.col("_cnorm"))
    )
    cand_w = W.partitionBy("query_id").orderBy(
        F.col("_ascore").desc(), F.col("neighbor_id").asc()
    )
    # an explicit `pool` (manifest-derived, drift-aware — see
    # pq_search_frames) replaces the in-plan derivation and its
    # count-only corpus aggregate
    if pool is not None:
        cand = (
            adc.withColumn("_crank", F.row_number().over(cand_w))
            .filter(F.col("_crank") <= F.lit(int(pool)))
            .select("query_id", "neighbor_id")
        )
    else:
        _pool = F.least(F.lit(pool_cap), F.lit(k * rerank) * _s)
        cand = (
            adc.crossJoin(F.broadcast(_stats))
            .withColumn("_crank", F.row_number().over(cand_w))
            .filter(F.col("_crank") <= _pool)
            .select("query_id", "neighbor_id")
        )
    return _exact_cosine_rerank(cand, corpus, queries, id_col, vec_col, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    centroid_mod: int = 37,
    max_centroids: int = 64,
    train_rounds: int = 2,
    multi_assign: int = 3,
    nprobe: int = 8,
    m: int = 16,
    dim: int = 64,
    codeword_mod: int = 13,
    max_codewords: int = 64,
    rerank: int = 4,
    scale: int = 1_000_000,
    pool_cap: int = 640,
    scale_ref: int = 1000,
    probe_mass: tuple[int, int] | str | None = None,
    coarse_scale_ref: int | None = None,
    centroid_cap: int = IVF_CENTROID_CAP,
) -> DataFrame:
    """Composed IVF+PQ top-k (end-to-end: train coarse cells, train the
    residual codebook, encode, search). See ivfpq_build_frames for the
    layout and ivfpq_search_frames for the serve plan (including the
    ``probe_mass`` adaptive-probe policy, r10; ``"auto"`` + the r11
    ``coarse_scale_ref`` centroid schedule = the scaled operating
    points of IVFPQ_CALIBRATION.json). numpy calibration: fixed
    nprobe=8 reads recall@10 0.77-0.82 (the IVF coverage ceiling); the
    mass-budgeted probe at 3/10 of the posting mass reads 0.93-0.95
    flat across a 30× span — the candidate scan still reads ~m-byte
    codes instead of 256-byte float vectors."""
    centroids, cb, codes, norms = ivfpq_build_frames(
        corpus, id_col=id_col, vec_col=vec_col,
        centroid_mod=centroid_mod, max_centroids=max_centroids,
        train_rounds=train_rounds, multi_assign=multi_assign,
        m=m, dim=dim, codeword_mod=codeword_mod,
        max_codewords=max_codewords,
        coarse_scale_ref=coarse_scale_ref, centroid_cap=centroid_cap,
    )
    if probe_mass is not None:
        from bigdatafinalproject_spark.operators.barrier import (
            materialize_barrier,
        )

        # two plan branches consume codes in mass mode (the cell-size
        # aggregate and the ADC scan) — without a barrier each branch
        # re-executes the whole encode subtree (the barrier-before-
        # fan-out rule); the persisted-index path instead passes the
        # maintained cell_sizes table and scans codes once
        codes = materialize_barrier(codes)
    return ivfpq_search_frames(
        centroids, cb, codes, norms, corpus, queries,
        id_col=id_col, vec_col=vec_col, k=k, nprobe=nprobe, m=m, dim=dim,
        rerank=rerank, scale=scale, pool_cap=pool_cap, scale_ref=scale_ref,
        probe_mass=probe_mass,
        mass_multi=multi_assign, sched_ref=coarse_scale_ref,
    )
