"""K-means clustering over embedding arrays (net-new ML surface beside
the ALS tier; replaces nothing in the reference — SURVEY §2.12 has no
clustering row — but a training-data pipeline needs it for corpus
bucketing / IVF coarse quantizers).

Determinism design (the whole point of this implementation):

- Init is data-deterministic: the k lowest-id vectors are the seed
  centroids (no rand()).
- Distances are sequential left-to-right double folds — the same fold
  ``list_reduce`` performs in DuckDB, reproduced dimension by dimension
  in the Arrow argmin kernel — so scores are bit-identical across
  engines (the ann_* precedent).
- Ties in the argmin break on the lowest centroid id (the kernel's
  first-occurrence argmin over cid-ascending centroids ==
  ``min(struct(dist, cid))``).
- Centroid updates are decimal-accumulated means (order-independent
  sums, one final double division) — engine- and partition-portable
  where a float mean would drift with row order.

MLlib's KMeans trades this determinism for k-means|| init and more
iterations; this operator is the oracle-checkable fixed-iteration twin
(and the coarse-quantizer trainer for operators/ann.ivf_topk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_spark.functions import davg
from bigdatafinalproject_spark.operators.arrow_kernels import (
    argmin_centroids_arrow,
    panel_from_frame,
)
from bigdatafinalproject_spark.operators.layout import pin


def _centroid_groups(
    cents: DataFrame, group_cols: tuple[str, ...], op: str
) -> dict:
    """The {group: (cids asc, matrix)} panel of a (group_cols..., cid,
    centroid) frame — every centroid under group 0 when ``group_cols``
    is empty. The argmin kernel scopes centroids by at most ONE group
    column (the PQ subspace index), so composite keys raise."""
    if len(group_cols) > 1:
        raise ValueError(
            f"{op}: composite group keys {tuple(group_cols)} are not "
            "supported — the argmin kernel scopes centroids by one "
            "group column"
        )
    if group_cols:
        return panel_from_frame(
            cents, "cid", "centroid", f"{op} centroids", group_col=group_cols[0]
        )
    return {0: panel_from_frame(cents, "cid", "centroid", f"{op} centroids")}


def _assign(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest centroid per vector (id, group_cols..., cid, dist) via
    the Arrow kernel (operators/arrow_kernels.argmin_centroids_arrow):
    dim-sequential squared L2, ties to the lowest cid, with the k
    centroids collected once (bounded — k is small by construction).
    With one group column (e.g. a PQ subspace index) the centroid set
    and the argmin are scoped per group; composite group keys raise
    ``ValueError``."""
    return argmin_centroids_arrow(
        emb,
        _centroid_groups(cents, group_cols, "clustering._assign"),
        id_col, vec_col, group_cols,
    )


def kmeans_centroids(
    emb: DataFrame,
    init: DataFrame,
    rounds: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Train centroids with ``rounds`` deterministic Lloyd updates from
    an explicit ``init`` frame of (group_cols..., cid, centroid) — the
    coarse-quantizer / PQ-codebook trainer for operators/ann (the r7
    verdict's top item: replace trainless sampled quantizers with
    trained ones while keeping every arithmetic step oracle-portable).

    Each round: broadcast-assign (sequential-fold L2, ties to lowest
    cid) then decimal-mean update per (group, cid, dim) — one
    map-side-combinable groupBy, order-independent sums, one final
    double division. A cid that loses all members simply drops out of
    the next round (both engines GROUP BY only non-empty cells).
    Returns (group_cols..., cid, centroid<array<double>>).

    The training corpus is REPARTITIONED by id first (``layout.pin``,
    r11): the N×C assign pass is map-side work that inherits the input
    partitioning, and a skewed source layout (one fat parquet row
    group) serializes the trainer onto one task per round — at sf10
    with the scheduled C=512 that straggler was an hour of single-core
    Lloyd. ``pin`` sizes the count from the plan's estimate (up to
    defaultParallelism) and leaves an input below one target partition
    on its scan; it reads no partition count, so it runs no job even
    on a shuffle-rooted input (the PQ codebook trainer's subvec frame
    carries a window + join), and an adjacent redundant repartition
    (``kmeans_assign`` pins the same frame first) is collapsed by
    Catalyst's CollapseRepartition for free. Content-neutral by
    design: the decimal-mean updates are order-independent sums
    (module doc), so trained centroids are bit-identical under any
    partitioning.

    Optimization r14: the Lloyd loop is driver-stepped — each round is
    ONE Spark job (Arrow argmin kernel carrying the vector through ->
    posexplode -> decimal-mean aggregate -> bounded collect of the
    k x dim means), and the next round's centroids ride into the
    kernel closure instead of re-executing the previous round's
    subtree inside a broadcast exchange. The decimal-mean aggregation
    itself is untouched (that is the cross-engine-exact step), so
    trained centroids are bit-identical to the unrolled-plan form; the
    returned frame is a LITERAL (createDataFrame of the k rows), which
    makes every downstream broadcast/collect of it free.

    EAGER-EXECUTION CONTRACT (ADVICE r14): the driver-stepped loop
    runs one Spark job per round AT CALL TIME — call it only when
    training should actually run, and never on a streaming-rooted
    frame (raised below; the pre-r14 lazy form silently deferred)."""
    import numpy as np

    if emb.isStreaming or init.isStreaming:
        raise ValueError(
            "kmeans_centroids is eager (one Spark job per Lloyd round "
            "at call time) and cannot train on a streaming frame — "
            "train on the batch corpus and freeze the centroids"
        )

    spark = emb.sparkSession
    emb = pin(emb, id_col)
    groups = _centroid_groups(init, group_cols, "clustering.kmeans_centroids")
    for _ in range(rounds):
        assigned = argmin_centroids_arrow(
            emb, groups, id_col, vec_col, group_cols, carry_vec=True
        )
        means = (
            assigned.select(
                *[F.col(g) for g in group_cols],
                F.col("cid"),
                F.posexplode(vec_col).alias("dim", "val"),
            )
            .groupBy(*group_cols, "cid", "dim")
            .agg(davg(F.col("val").cast("double")).alias("avg"))
            .collect()
        )
        by_key: dict[tuple[int, int], list[tuple[int, float]]] = {}
        for r in means:
            g = int(r[0]) if group_cols else 0
            by_key.setdefault((g, r["cid"]), []).append((r["dim"], r["avg"]))
        groups = {}
        for g in sorted({k[0] for k in by_key}):
            cids = sorted(k[1] for k in by_key if k[0] == g)
            mat = np.array(
                [[v for _, v in sorted(by_key[(g, cid)])] for cid in cids],
                dtype=np.float64,
            )
            groups[g] = (np.array(cids, dtype=np.int64), mat)
    rows = [
        ((int(g),) if group_cols else ()) + (int(cid), [float(x) for x in cvec])
        for g, (cids, mat) in sorted(groups.items())
        for cid, cvec in zip(cids, mat)
    ]
    schema = (
        f"{group_cols[0]} int, " if group_cols else ""
    ) + "cid bigint, centroid array<double>"
    return spark.createDataFrame(rows, schema)


def kmeans_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    update_rounds: int = 1,
) -> DataFrame:
    """Fixed-iteration Lloyd k-means: deterministic seed centroids, then
    ``update_rounds`` x (assign -> decimal-mean update), then a final
    assignment. Returns (id, cid, dist) against the final centroids."""
    emb = pin(emb, id_col)
    init = emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("centroid"),
    )
    cents = kmeans_centroids(emb, init, update_rounds, id_col, vec_col)
    return _assign(emb, cents, id_col, vec_col)
