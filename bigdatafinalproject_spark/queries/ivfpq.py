"""Composed IVF+PQ retrieval (r9) — the billion-scale serving layout
(FAISS's IVFADC): coarse trained cells partition the corpus, each
vector's RESIDUAL (vector minus its cell centroid) is product-
quantized, and the candidate scan ranks by integer ADC over ~m-byte
codes — full-precision vectors are touched only for the bounded rerank
pool. The oracle replays BOTH training loops (coarse full-vector
k-means and the grouped per-subspace residual k-means — the shared
Lloyd builder composed twice), the per-assignment residual encode, the
exact score decomposition dot(q,x) = dot(q,c) + dot(q, x−c), and both
rankings end-to-end: a hash match is the whole-pipeline theorem.

numpy calibration first (the r8/r9 discipline): the r9 fixed-nprobe=8
config read recall@10 0.77–0.82 (the IVF candidate-coverage ceiling at
8 of 64 cells); the r10 mass-budgeted probe (``_IVFPQ_MASS`` — probe
ranked cells until 3/10 of the posting mass) reads **0.931–0.948 flat
across the 30× span**, Spark matching the numpy prototype to three
decimals at every point (RECALL_SCALE.json), while the candidate scan
still reads 16-byte codes instead of 256-byte float vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_spark.catalog import load_table, scratch_dir
from bigdatafinalproject_spark.queries.ann import (
    _DOT_AB,
    _NORMS_CTE,
    _PQ_BASE_PRED,
    _PQ_L2,
    _PQ_M,
    _PQ_MAXC,
    _PQ_MOD,
    _PQ_POOLCAP,
    _PQ_RERANK,
    _PQ_ROUNDS,
    _PQ_S,
    _PQ_SCALE,
    _PQ_SUB,
    _recall_oracle,
    recall_frame,
)
from bigdatafinalproject_spark.queries.ivf_ranking import (
    _IVF_C,
    _IVF_MOD,
    _IVF_MULTI,
    _IVF_ROUNDS,
    _kmeans_ctes,
)
from bigdatafinalproject_spark.registry import query


def _residual_kmeans_ctes(rounds: int) -> str:
    """Grouped Lloyd chain rpc0 -> rpc{rounds} over the PRIMARY-
    assignment residuals (the ``prim_res`` CTE, whose ``embedding``
    column is the double residual vector). Init sampling is id-relative
    over prim_res — identical to the Spark side's sampling over the
    primary-residual frame."""
    from bigdatafinalproject_spark.queries._lloyd_sql import lloyd_ctes

    base_min = "(SELECT MIN(vec_id) FROM prim_res)"
    init = f"""
    rpc0 AS (SELECT CAST(us.s AS INT) AS s, vec_id AS cid,
                    list_transform(
                        embedding[us.s * {_PQ_SUB} + 1 : us.s * {_PQ_SUB} + {_PQ_SUB}],
                        x -> CAST(x AS DOUBLE)) AS centroid
             FROM prim_res, LATERAL unnest(range(0, {_PQ_M})) AS us(s)
             WHERE (vec_id - {base_min}) % {_PQ_MOD} = 0
               AND (vec_id - {base_min}) < {_PQ_MOD} * {_PQ_MAXC})"""
    return lloyd_ctes(
        rounds,
        prefix="rp",
        init_cte=init,
        vec_expr=(
            f"e.embedding[c.s * {_PQ_SUB} + 1 : c.s * {_PQ_SUB} + {_PQ_SUB}]"
        ),
        val_expr=f"CAST(e.embedding[a.s * {_PQ_SUB} + u.i] AS DOUBLE)",
        dims_expr=str(_PQ_SUB),
        grouped=True,
        source="prim_res",
    )


_RESIDUAL = (
    "list_transform(list_zip({x}, {c}), "
    "z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
)

# adaptive probe policy (r10 mass budget, VERDICT r9 #3; r11 adopted
# the IVF tier's full schedule — "auto"): the coarse count grows
# C = min(512, 64·ceil(sqrt(N/2000))) and a query probes its
# cosine-ranked cells until their cumulative posting mass reaches the
# s-scheduled budget (IVF_MASS_SCHEDULE), inclusive of the crossing
# cell. ONE constant set (defined at the operator layer so
# non-registry callers can import it cycle-free) shared by every
# registered ivfpq query AND the oracle CTEs below, so the plan and
# the replay can never drift. numpy-calibrated across 5 scale points
# BEFORE the Spark change (IVFPQ_CALIBRATION.json): recall@10
# 0.938-0.948 across the 100× span while the ADC scan halves
# (0.31 -> 0.15 of posting mass at sf3+) — vs 0.931-0.955 at the
# frozen C=64 / 3/10 operating points. All arithmetic integer-exact
# cross-engine (counts, an exact ceil, IEEE sqrt).
from bigdatafinalproject_spark.operators.ann import (
    IVF_SCALE_REF,
    IVFPQ_PROBE_MASS,
    ivf_mass_schedule_sql,
)

_IVFPQ_MASS = IVFPQ_PROBE_MASS  # "auto": the scheduled policy


def _ivfpq_oracle(base_pred: str = "TRUE") -> str:
    """Composed oracle — ``WITH <pipeline> SELECT top-10``; the CTE
    chain itself lives in :func:`_ivfpq_pipeline_ctes` so the r12
    ``ann_mmr_from_index`` oracle can append the MMR greedy walk over
    the identical serve replay. ``base_pred`` restricts BOTH training
    loops to the base subset and drives the r12 schedule clamp / pool
    widening — see :func:`_ivfpq_pipeline_ctes`."""
    return f"""
    WITH {_ivfpq_pipeline_ctes(base_pred)}
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM scored WHERE rank <= 10
    """


def _ivfpq_pipeline_ctes(
    base_pred: str = "TRUE", rerank_term: int = _PQ_RERANK
) -> str:
    """Composed serve replay as a CTE chain ending in ``scored``
    (query_id, neighbor_id, cosine, rank over the standing panel);
    ``base_pred`` restricts BOTH training loops
    (coarse init+rounds via _kmeans_ctes, residual codebook via the
    base-joined prim_res) to the base subset — the train-on-base mode
    the incremental-maintenance oracle replays. Assignment, encoding,
    and search always cover the FULL corpus against those (frozen)
    quantizers, which is exactly build(base) ⊎ append(delta). The
    probe budget replays the scheduled policy with the r12 CLAMP
    (ADVICE r11): the scale step s comes from the BASE count — the
    corpus the centroid count C was sized on — never the live posting
    total, so appends cannot step the budget fraction down against a
    frozen C (the serve reads s from the manifest's base_rows; with
    base_pred TRUE the two definitions coincide). The budget itself,
    ceil(num·T/den), still tracks the LIVE total T. (num, den) from
    the SHARED IVF_MASS_SCHEDULE rendering. The rerank pool replays
    the r12 drift-aware widening — min(cap, term·s·N_total // N_base),
    the manifest-counter rule; x·N//N = x for base_pred TRUE."""
    num_case, den_case = ivf_mass_schedule_sql("s")
    # rerank_term = k·rerank of the SERVE being replayed (the mmr
    # oracle serves k=12 → 48, the top-10 oracles 40) — a pool-size
    # drift between plan and replay would only surface at SFs where
    # the extra ADC candidates reorder the exact-rerank frontier
    pool = (
        f"LEAST({_PQ_POOLCAP}, ({rerank_term} * {_PQ_S} * "
        f"(SELECT COUNT(*) FROM embeddings)) // "
        f"(SELECT COUNT(*) FROM embeddings WHERE {base_pred}))"
    )
    return f"""{_NORMS_CTE},
    base_set AS (SELECT vec_id FROM embeddings WHERE ({base_pred})),
    {_kmeans_ctes(_IVF_ROUNDS, base_pred=base_pred, scaled=True)},
    cents AS (SELECT cid AS centroid_id, centroid AS cemb,
                     sqrt({_DOT_AB.format(a='centroid', b='centroid')}) AS cnrm
              FROM kc{_IVF_ROUNDS}),
    acos AS (SELECT e.vec_id, c.centroid_id,
                    {_DOT_AB.format(a='e.embedding', b='c.cemb')}
                        / (ne.nrm * c.cnrm) AS cs
             FROM embeddings e CROSS JOIN cents c
             JOIN norms ne ON ne.vec_id = e.vec_id),
    ranked AS (SELECT vec_id, centroid_id,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, centroid_id) AS rn
               FROM acos),
    assign AS (SELECT vec_id, centroid_id FROM ranked
               WHERE rn <= {_IVF_MULTI}),
    prim_res AS (SELECT r.vec_id,
                        {_RESIDUAL.format(x='e.embedding', c='c.cemb')} AS embedding
                 FROM ranked r
                 JOIN base_set b ON b.vec_id = r.vec_id
                 JOIN embeddings e ON e.vec_id = r.vec_id
                 JOIN cents c ON c.centroid_id = r.centroid_id
                 WHERE r.rn = 1),
    {_residual_kmeans_ctes(_PQ_ROUNDS)},
    rcb AS (SELECT cid AS code, s, centroid AS cw FROM rpc{_PQ_ROUNDS}),
    res_all AS (SELECT a.vec_id AS neighbor_id, a.centroid_id,
                       {_RESIDUAL.format(x='e.embedding', c='c.cemb')} AS rv
                FROM assign a
                JOIN embeddings e ON e.vec_id = a.vec_id
                JOIN cents c ON c.centroid_id = a.centroid_id),
    enc AS (SELECT ra.neighbor_id, ra.centroid_id, b.s, b.code,
                   {_PQ_L2.format(a=f'ra.rv[b.s * {_PQ_SUB} + 1 : b.s * {_PQ_SUB} + {_PQ_SUB}]', b='b.cw')} AS d
            FROM res_all ra CROSS JOIN rcb b),
    codes AS (SELECT neighbor_id, centroid_id, s, code FROM (
                SELECT neighbor_id, centroid_id, s, code,
                       row_number() OVER (PARTITION BY neighbor_id, centroid_id, s
                                          ORDER BY d ASC, code ASC) AS rn
                FROM enc) WHERE rn = 1),
    cell_sizes AS (SELECT centroid_id, COUNT(*) AS csz
                   FROM assign GROUP BY 1),
    post_tot AS (SELECT SUM(csz) AS t FROM cell_sizes),
    bud AS (SELECT t, CAST(floor((num * t + (den - 1)) / CAST(den AS DOUBLE))
                           AS BIGINT) AS b
            FROM (SELECT t, {num_case} AS num, {den_case} AS den
                  FROM (SELECT t, CAST(ceil(sqrt(
                             (SELECT COUNT(*) FROM embeddings
                              WHERE {base_pred})
                             / {IVF_SCALE_REF}.0)) AS BIGINT) AS s
                        FROM post_tot))),
    probes AS (SELECT query_id, centroid_id FROM (
                 SELECT r.vec_id AS query_id, r.centroid_id, s.csz,
                        SUM(s.csz) OVER (PARTITION BY r.vec_id
                                         ORDER BY r.rn) AS cum
                 FROM ranked r
                 JOIN cell_sizes s ON s.centroid_id = r.centroid_id
                 WHERE r.vec_id % 50 = 0 AND r.vec_id < 3200), bud
               WHERE cum - csz < b),
    qc AS (SELECT p.query_id, p.centroid_id,
                  CAST(floor({_DOT_AB.format(a='q.embedding', b='c.cemb')}
                             * {_PQ_SCALE}) AS BIGINT) AS qcv
           FROM probes p
           JOIN embeddings q ON q.vec_id = p.query_id
           JOIN cents c ON c.centroid_id = p.centroid_id),
    qtab AS (SELECT q.vec_id AS query_id, b.s, b.code,
                    CAST(floor({_DOT_AB.format(a=f'q.embedding[b.s * {_PQ_SUB} + 1 : b.s * {_PQ_SUB} + {_PQ_SUB}]', b='b.cw')}
                               * {_PQ_SCALE}) AS BIGINT) AS pq
             FROM embeddings q CROSS JOIN rcb b
             WHERE q.vec_id % 50 = 0 AND q.vec_id < 3200),
    adc_cell AS (SELECT p.query_id, codes.neighbor_id, codes.centroid_id,
                        CAST(SUM(t.pq) AS BIGINT) AS radc
                 FROM codes
                 JOIN probes p ON p.centroid_id = codes.centroid_id
                 JOIN qtab t ON t.query_id = p.query_id
                            AND t.s = codes.s AND t.code = codes.code
                 GROUP BY 1, 2, 3),
    adc AS (SELECT a.query_id, a.neighbor_id,
                   MAX(a.radc + qc.qcv) AS iscore
            FROM adc_cell a
            JOIN qc ON qc.query_id = a.query_id
                   AND qc.centroid_id = a.centroid_id
            WHERE a.query_id <> a.neighbor_id
            GROUP BY 1, 2),
    cand AS (SELECT query_id, neighbor_id FROM (
               SELECT a.query_id, a.neighbor_id,
                      row_number() OVER (PARTITION BY a.query_id
                                         ORDER BY CAST(a.iscore AS DOUBLE) / n.nrm DESC,
                                                  a.neighbor_id ASC) AS crank
               FROM adc a JOIN norms n ON n.vec_id = a.neighbor_id)
             WHERE crank <= {pool}),
    dots AS (SELECT cand.query_id, cand.neighbor_id,
                    {_DOT_AB.format(a='qe.embedding', b='ce.embedding')} AS dot
             FROM cand
             JOIN embeddings qe ON qe.vec_id = cand.query_id
             JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
    scored AS (SELECT query_id, neighbor_id,
                      dot / (qa.nrm * qb.nrm) AS cosine,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY dot / (qa.nrm * qb.nrm) DESC,
                                                  neighbor_id ASC) AS rank
               FROM dots
               JOIN norms qa ON qa.vec_id = query_id
               JOIN norms qb ON qb.vec_id = neighbor_id)"""


@query("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF+PQ top-10 (operators/ann.ivfpq_topk): trained
    coarse cells (2 Lloyd rounds, 3× multi-assignment, count scaled
    C = min(512, 64·ceil(sqrt(N/2000))) — r11) + per-subspace residual
    codebooks (16×4, 64 codewords, 2 grouped Lloyd rounds on the
    primary-assignment residuals); search probes cosine-ranked cells
    to the s-scheduled posting-mass budget and ranks candidates by the
    EXACT integer decomposition floor(dot(q,c)·1e6) +
    Σ_s floor(dot(q_s,cw)·1e6) — one coarse scalar per probed cell
    plus a cell-independent kB lookup table — then exact-reranks the
    sqrt-scaled pool. The 100 TB point: the candidate scan reads
    ~16-byte codes of 15-30% of the posting mass (≈ 2.4-5 bytes per
    corpus vector per query) and never touches full precision outside
    the bounded pool; recall 0.938-0.948 flat across the 100× span
    (IVFPQ_CALIBRATION.json, numpy-calibrated before the Spark
    change, Spark matching numpy)."""
    from bigdatafinalproject_spark.operators.ann import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    return ivfpq_topk(
        emb, queries, k=10,
        centroid_mod=_IVF_MOD, max_centroids=_IVF_C,
        train_rounds=_IVF_ROUNDS, multi_assign=_IVF_MULTI,
        probe_mass=_IVFPQ_MASS, m=_PQ_M, dim=64,
        codeword_mod=_PQ_MOD, max_codewords=_PQ_MAXC,
        rerank=4, scale=_PQ_SCALE,
        coarse_scale_ref=IVF_SCALE_REF,
    )


@query("ann_ivfpq_recall", oracle=_recall_oracle("ann_ivfpq_topk"))
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the composed IVFPQ tier against the exact tier,
    per query — pins the composed layout's quality beside the pure
    IVF (candidate coverage) and pure PQ (ranking quality) tiers it
    composes, driver-checked at every round's SFs."""
    from bigdatafinalproject_spark.operators.ann import cosine_topk, ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    exact_panel = emb.filter(F.col("vec_id") % 50 == 0)
    panel = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    ex = cosine_topk(
        emb, exact_panel, id_col="vec_id", vec_col="embedding", k=10
    ).select("query_id", "neighbor_id")
    ap = ivfpq_topk(
        emb, panel, k=10,
        centroid_mod=_IVF_MOD, max_centroids=_IVF_C,
        train_rounds=_IVF_ROUNDS, multi_assign=_IVF_MULTI,
        probe_mass=_IVFPQ_MASS, m=_PQ_M, dim=64,
        codeword_mod=_PQ_MOD, max_codewords=_PQ_MAXC,
        rerank=4, scale=_PQ_SCALE,
        coarse_scale_ref=IVF_SCALE_REF,
    ).select("query_id", "neighbor_id")
    return recall_frame(ex, ap)


@query("ann_ivfpq_index_search", oracle_of="ann_ivfpq_topk")
def ann_ivfpq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVFPQ serve path (operators/ann_index.py): the
    composed index (trained cells + residual codebook + cell-tagged
    codes + exact norms) is built ONCE per corpus fingerprint into the
    cross-process cache and this query serves the standing panel from
    the parquet frames — the subspace layout comes from the manifest,
    the single source of truth. Shares ann_ivfpq_topk's oracle: the
    hash match is the persistence theorem for the composed layout
    (build→persist→load→search ≡ train-encode-and-search). Production
    point: the train-twice cost (coarse + residual) is paid per corpus
    version; the serve path scans ~16-byte codes of nprobe cells."""
    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann_index import (
        corpus_fingerprint,
        ensure_ivfpq_index,
        ivfpq_index_search,
        shared_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    params = dict(
        centroid_mod=_IVF_MOD, max_centroids=_IVF_C,
        train_rounds=_IVF_ROUNDS, multi_assign=_IVF_MULTI,
        m=_PQ_M, dim=64, codeword_mod=_PQ_MOD, max_codewords=_PQ_MAXC,
        coarse_scale_ref=IVF_SCALE_REF,
    )
    fp = corpus_fingerprint(table_path(sf_dir, "embeddings"), **params)
    idx = ensure_ivfpq_index(
        spark, emb, shared_index_dir("ivfpq", fp), fp,
        src=table_path(sf_dir, "embeddings"), **params,
    )
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    return ivfpq_index_search(
        spark, idx, emb, queries, k=10, probe_mass=_IVFPQ_MASS,
        rerank=4, scale=_PQ_SCALE,
    )


@query(
    "ann_ivfpq_index_append",
    # ONE constant defines the base subset on both engines (r9 review
    # #8: a hardcoded literal here would silently diverge from the
    # plan side if the predicate were ever retuned); base_pred also
    # drives the r12 schedule clamp and pool widening in the oracle
    oracle=_ivfpq_oracle(base_pred=_PQ_BASE_PRED),
)
def ann_ivfpq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the composed IVFPQ index: BOTH
    quantizers (coarse cells and residual codebook) are trained on the
    base corpus (vec_id % 3 != 0) and frozen; the delta batch is
    multi-assigned to the frozen cells and its residuals encoded
    against the frozen codebook, appended under the CAS writer
    protocol. Search runs over the maintained index.

    The oracle replays train-on-base (both Lloyd loops restricted to
    the base subset) + assign/encode-all + search: a hash match is the
    maintenance theorem for the COMPOSED layout — build(base) ⊎
    append(delta) ≡ encode(base ∪ delta | quantizers(base)), which
    holds because assignment and residual encoding are row-local given
    frozen quantizers. The drift (both quantizers reflect the base
    distribution) is the append-between-retrains trade needs_retrain
    budgets."""
    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann_index import (
        clone_index,
        corpus_fingerprint,
        ensure_ivfpq_index,
        ivfpq_index_append,
        ivfpq_index_search,
        shared_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.expr(_PQ_BASE_PRED))
    delta = emb.filter(~F.expr(_PQ_BASE_PRED))
    params = dict(
        centroid_mod=_IVF_MOD, max_centroids=_IVF_C,
        train_rounds=_IVF_ROUNDS, multi_assign=_IVF_MULTI,
        m=_PQ_M, dim=64, codeword_mod=_PQ_MOD, max_codewords=_PQ_MAXC,
        coarse_scale_ref=IVF_SCALE_REF,
    )
    fp = corpus_fingerprint(
        table_path(sf_dir, "embeddings"), base_pred=_PQ_BASE_PRED, **params
    )
    cached = ensure_ivfpq_index(
        spark, base, shared_index_dir("ivfpq", fp), fp,
        src=table_path(sf_dir, "embeddings"), subset=_PQ_BASE_PRED,
        **params,
    )
    idx = clone_index(cached, scratch_dir(sf_dir, "ivfpqappendidx"))
    ivfpq_index_append(spark, idx, delta)
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    return ivfpq_index_search(
        spark, idx, emb, queries, k=10, probe_mass=_IVFPQ_MASS,
        rerank=4, scale=_PQ_SCALE,
    )


@query("ann_ivfpq_index_compact", oracle_of="ann_ivfpq_index_append")
def ann_ivfpq_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction of the maintained COMPOSED index (VERDICT r9 #1:
    ivfpq is in compact_index's append-table map, but only a driver
    row proves content-neutrality for the composed layout): build on
    base, append the delta in TWO batches (two extra file sets in the
    cell-tagged codes + norms tables), compact them to size-targeted
    files under the same CAS-claim + invalidate-then-recommit protocol
    the appends use, and serve from the compacted index.

    Shares ``ann_ivfpq_index_append``'s oracle: compaction is
    REWRITE-ONLY, so a hash match is the content-neutrality theorem
    for the composed layout — build(base) ⊎ append(delta) ⊎ compact ≡
    encode(all | quantizers(base)) — while the file-count reduction is
    raised on (not silently assumed), and ``applied_batches`` plus the
    retrain counters survive the rewrite."""
    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann_index import (
        clone_index,
        compact_index,
        corpus_fingerprint,
        ensure_ivfpq_index,
        ivfpq_index_append,
        ivfpq_index_search,
        shared_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.expr(_PQ_BASE_PRED))
    delta = emb.filter(~F.expr(_PQ_BASE_PRED))
    params = dict(
        centroid_mod=_IVF_MOD, max_centroids=_IVF_C,
        train_rounds=_IVF_ROUNDS, multi_assign=_IVF_MULTI,
        m=_PQ_M, dim=64, codeword_mod=_PQ_MOD, max_codewords=_PQ_MAXC,
        coarse_scale_ref=IVF_SCALE_REF,
    )
    fp = corpus_fingerprint(
        table_path(sf_dir, "embeddings"), base_pred=_PQ_BASE_PRED, **params
    )
    cached = ensure_ivfpq_index(
        spark, base, shared_index_dir("ivfpq", fp), fp,
        src=table_path(sf_dir, "embeddings"), subset=_PQ_BASE_PRED,
        **params,
    )
    idx = clone_index(cached, scratch_dir(sf_dir, "ivfpqcompactidx"))
    ivfpq_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 == 0),
                       batch_id=0)
    ivfpq_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 != 0),
                       batch_id=1)
    stats = compact_index(spark, idx)
    for t, (before, after) in stats.items():
        if after >= before:
            raise RuntimeError(
                f"compact_index did not reduce {t} file count "
                f"({before} -> {after})"
            )
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    return ivfpq_index_search(
        spark, idx, emb, queries, k=10, probe_mass=_IVFPQ_MASS,
        rerank=4, scale=_PQ_SCALE,
    )


@query("ann_ivfpq_index_retract", oracle_of="ann_ivfpq_index_append")
def ann_ivfpq_index_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch RETRACTION on the COMPOSED persisted IVFPQ index (r14 —
    the hard retraction case): the delta arrives as two batches, the
    even batch is UN-INGESTED via operators/ann_index.retract_batch
    and re-appended under a new batch id. The composed kind is where
    EVERY serve-policy input must reverse at once: the ``cell_sizes``
    snapshot subtracts the batch's recorded per-cell partials (the
    mass-budgeted probe reads the snapshot), ``appended_rows`` drops
    by the batch's row delta (the r12 schedule clamp AND the exact-
    rerank pool widening both derive from appended/base), and the
    batch's codes + norms unit dirs leave the ``units`` map. A hash
    match against ann_ivfpq_index_append's oracle is the retraction
    theorem for the composed layout: retract(b) ∘ append(b') with
    b' ≡ b serves BIT-IDENTICALLY to the single-append twin — probe
    set, PQ ranking, and rerank pool all included. RAISES unless the
    row/ledger/snapshot accounting actually reversed."""
    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann_index import (
        _batch_sizes,
        _manifest,
        clone_index,
        corpus_fingerprint,
        ensure_ivfpq_index,
        ivfpq_index_append,
        ivfpq_index_search,
        retract_batch,
        shared_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.expr(_PQ_BASE_PRED))
    delta = emb.filter(~F.expr(_PQ_BASE_PRED))
    params = dict(
        centroid_mod=_IVF_MOD, max_centroids=_IVF_C,
        train_rounds=_IVF_ROUNDS, multi_assign=_IVF_MULTI,
        m=_PQ_M, dim=64, codeword_mod=_PQ_MOD, max_codewords=_PQ_MAXC,
        coarse_scale_ref=IVF_SCALE_REF,
    )
    fp = corpus_fingerprint(
        table_path(sf_dir, "embeddings"), base_pred=_PQ_BASE_PRED, **params
    )
    cached = ensure_ivfpq_index(
        spark, base, shared_index_dir("ivfpq", fp), fp,
        src=table_path(sf_dir, "embeddings"), subset=_PQ_BASE_PRED,
        **params,
    )
    idx = clone_index(cached, scratch_dir(sf_dir, "ivfpqretractidx"))
    ivfpq_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 == 0),
                       batch_id=0)
    ivfpq_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 != 0),
                       batch_id=1)
    pre = _manifest(idx)
    # batch 0's provenance delta: its (vector, cell) assignment
    # partials (multi-assign makes this a multiple of the row delta) —
    # read from the batch's own cell_sizes unit BEFORE the retraction
    # GCs it (the r14 O(1)-manifest layout; _batch_sizes docstring)
    b0_sz = sum(n for _, n in _batch_sizes(idx, pre["batches"]["0"]))
    b0_rows = int(pre["batches"]["0"]["rows"])
    retract_batch(idx, 0)
    mid = _manifest(idx)
    pre_sz = sum(n for _, n in pre["cell_sizes"])
    mid_sz = sum(n for _, n in mid["cell_sizes"])
    if not (
        int(pre["appended_rows"]) - int(mid["appended_rows"]) == b0_rows
        and mid.get("retracted") == ["0"]
        and "0" not in mid.get("batches", {})
        and len(mid["units"]["codes"]) < len(pre["units"]["codes"])
        and len(mid["units"]["norms"]) < len(pre["units"]["norms"])
        # the probe's mass snapshot lost exactly the batch's partials
        and pre_sz - mid_sz == b0_sz
    ):
        raise RuntimeError(
            f"ivfpq retraction accounting did not reverse: {pre} -> {mid}"
        )
    # re-ingest the same vectors under a new batch id; the index is
    # now content-identical to the single-append twin
    ivfpq_index_append(spark, idx, delta.filter(F.col("vec_id") % 2 == 0),
                       batch_id=2)
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    return ivfpq_index_search(
        spark, idx, emb, queries, k=10, probe_mass=_IVFPQ_MASS,
        rerank=4, scale=_PQ_SCALE,
    )


@query("stream_ivfpq_index_maintenance", oracle_of="ann_ivfpq_index_append")
def stream_ivfpq_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming maintenance of the composed IVFPQ index
    (streaming/embeddings.stream_ivfpq_index_maintenance — VERDICT r9
    #1, lifecycle parity for the composed tier): micro-batches are
    multi-assigned to the FROZEN base-trained coarse cells, their
    residuals encoded against the FROZEN residual codebook, and the
    cell-tagged codes + norms appended exactly once under the CAS
    writer protocol; a post-drain redelivery of batch 0 must be an
    idempotent skip, and the retrain trigger must flip at 0.4 / stay
    quiet at 0.6 (raised in-query — VERDICT r9 #5). Shares the
    composed batch oracle (ann_ivfpq_index_append): both assignment
    and residual encoding are row-local given frozen quantizers, so
    streaming ≡ one-shot maintenance for the composed layout too.
    (Registered here, not in queries/streaming.py: oracle_of needs
    the twin registered first.)"""
    from bigdatafinalproject_spark.streaming.embeddings import (
        stream_ivfpq_index_maintenance as _impl,
    )

    return _impl(spark, sf_dir)


# MMR constants shared with queries/ann.ann_mmr_diversified (same
# greedy rule: lam 7 / pen 3 over floor(cos·2^30) integer scores)
_MMR_SCALE = 1 << 30
_MMR_M, _MMR_K = 12, 4


def _mmr_from_index_oracle() -> str:
    """The r12 production-shape MMR oracle (VERDICT r11 #6): the FULL
    composed-serve replay (the same CTE chain as ann_ivfpq_topk —
    training loops, residual encode, scheduled probe, integer ADC,
    exact rerank) feeds its top-{_MMR_M} panel into the integer-
    quantized MMR greedy walk (the recursive CTE of
    ann_mmr_diversified's oracle). A hash match is the composition
    theorem end-to-end: serve(persisted IVFPQ) ∘ MMR ≡ this replay —
    and unlike ann_mmr_diversified the candidate tier is the BOUNDED
    index serve, so the registered query carries the production scale
    shape (the exact-cosine candidate panel was the scale artifact's
    max exponent, documented there as query construction)."""
    return f"""
    WITH RECURSIVE {_ivfpq_pipeline_ctes("TRUE", rerank_term=_MMR_M * 4)},
    mcand AS (SELECT query_id AS qid, neighbor_id AS cid,
                     CAST(floor(cosine * {_MMR_SCALE}) AS BIGINT) AS rel_q
              FROM scored WHERE rank <= {_MMR_M}),
    msims AS (SELECT a.qid, a.cid AS a, b.cid AS b,
                     CAST(floor(({_DOT_AB.format(a='ea.embedding', b='eb.embedding')})
                                / (na.nrm * nb.nrm) * {_MMR_SCALE}) AS BIGINT) AS sim_q
              FROM mcand a JOIN mcand b ON a.qid = b.qid AND a.cid <> b.cid
              JOIN embeddings ea ON ea.vec_id = a.cid
              JOIN embeddings eb ON eb.vec_id = b.cid
              JOIN norms na ON na.vec_id = a.cid
              JOIN norms nb ON nb.vec_id = b.cid),
    walk(qid, step, sel, picked, rel_q, mmr_q) AS (
      SELECT qid, 1, [cid], cid, rel_q, 7 * rel_q
      FROM (SELECT qid, cid, rel_q,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY rel_q DESC, cid) AS rn
            FROM mcand) WHERE rn = 1
      UNION ALL
      SELECT qid, step + 1, list_append(sel, cid), cid, rel_q, mmr_q
      FROM (
        SELECT t.*, row_number() OVER (PARTITION BY t.qid
                                       ORDER BY t.mmr_q DESC, t.cid) AS rn
        FROM (
          SELECT w.qid, w.step, w.sel, c.cid, c.rel_q,
                 7 * c.rel_q - 3 * (SELECT MAX(s.sim_q) FROM msims s
                                    WHERE s.qid = w.qid AND s.a = c.cid
                                      AND list_contains(w.sel, s.b)) AS mmr_q
          FROM walk w JOIN mcand c ON c.qid = w.qid
                                  AND NOT list_contains(w.sel, c.cid)
          WHERE w.step < {_MMR_K}
        ) t
      ) WHERE rn = 1
    )
    SELECT qid AS query_id, CAST(step AS INT) AS pick, picked AS vec_id,
           rel_q, mmr_q
    FROM walk
    """


@query("ann_mmr_from_index", oracle=_mmr_from_index_oracle())
def ann_mmr_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval FED FROM THE PERSISTED IVFPQ INDEX
    (r12, VERDICT r11 #6 — the production composition the
    ann_mmr_diversified docstring promises): the standing bounded
    panel takes its top-12 candidates from the shared persisted index
    (same fingerprint as ann_ivfpq_index_search — the build is paid
    once per corpus version per host; the serve scans ~16-byte codes
    of the scheduled posting mass), then the integer-quantized MMR
    greedy walk (operators/ann.mmr_from_candidates: one grouped Arrow
    kernel per query) picks 4 per query over that BOUNDED candidate
    set. Every stage after the index serve touches per-query kB
    frames, so the query's scale shape is the index serve's — sub-linear scan growth under the mass schedule — where
    the exact-cosine-fed twin is ~N²/50 by construction (the scale
    artifact's documented max exponent). rel_q is the exact rerank
    cosine floor-quantized at 2^30, so serve and walk are both
    engine-exact and the oracle replays the whole composition."""
    from bigdatafinalproject_spark.catalog import table_path
    from bigdatafinalproject_spark.operators.ann import mmr_from_candidates
    from bigdatafinalproject_spark.operators.ann_index import (
        corpus_fingerprint,
        ensure_ivfpq_index,
        ivfpq_index_search,
        shared_index_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    params = dict(
        centroid_mod=_IVF_MOD, max_centroids=_IVF_C,
        train_rounds=_IVF_ROUNDS, multi_assign=_IVF_MULTI,
        m=_PQ_M, dim=64, codeword_mod=_PQ_MOD, max_codewords=_PQ_MAXC,
        coarse_scale_ref=IVF_SCALE_REF,
    )
    fp = corpus_fingerprint(table_path(sf_dir, "embeddings"), **params)
    idx = ensure_ivfpq_index(
        spark, emb, shared_index_dir("ivfpq", fp), fp,
        src=table_path(sf_dir, "embeddings"), **params,
    )
    panel = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 3200)
    )
    cand = ivfpq_index_search(
        spark, idx, emb, panel, k=_MMR_M, probe_mass=_IVFPQ_MASS,
        rerank=4, scale=_PQ_SCALE,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("cid"),
        F.floor(F.col("cosine") * _MMR_SCALE).cast("long").alias("rel_q"),
    )
    return mmr_from_candidates(
        emb, cand, id_col="vec_id", vec_col="embedding", k=_MMR_K,
    )
