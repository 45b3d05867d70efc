"""Graph operators: co-occurrence edge extraction + fixed-point PageRank.

Net-new surface (the reference has no graph stage; its closest analogue
is the item-item co-occurrence implicit in similarity_matrix.py): a
basket co-purchase graph over lineitem and an iterative PageRank on it.

Design for 100 TB:

- Edge extraction is a per-basket self-join. TPC-H orders hold a
  bounded number of lineitems (<= 7), so the quadratic step is
  per-group-bounded — the same shape as ``basket_pair_lift``. For
  unbounded baskets, cap items per basket first (top-N by quantity).
- PageRank runs in *fixed-point integer arithmetic* (scale 1e12).
  Float PageRank sums contributions in partition order — results drift
  across engines, partition counts, and runs. Integer division and
  integer sums are exact and associative, so every iteration is
  bit-reproducible ANYWHERE (and DuckDB can replay it as an oracle).
  At web scale normalize the seed mass (SCALE // n_nodes) so the total
  mass — and therefore every intermediate sum — stays within int64.
- The edge list is shuffled to its join key once and frozen behind a
  ``materialize_barrier`` (localCheckpoint locally, reliable
  checkpoint on a cluster via ``checkpoint_dir``): each iteration
  re-reads the materialized edges instead of re-running the extraction
  plan, and the iterative lineage never grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators.barrier import materialize_barrier
from bigdatafinalproject_spark.operators.layout import pin

SCALE = 10**12
TELEPORT = 150_000_000_000  # 0.15 * SCALE
DAMP_NUM, DAMP_DEN = 17, 20  # 0.85 as an exact rational


# The most distinct parts one order may hold in copurchase_edges. Its
# in-row explode emits n² pairs per order, so one hot order becomes one
# task's n² rows; TPC-H orders hold at most 7 items, and 1,000 keeps a
# single order at a million pairs.
_ORDER_SET_CAP = 1_000

# The most rows a node-sized relation (ranks, BFS frontier or visited
# set) may hold and still be broadcast, about a 64 MB relation; past it
# the iterative joins keep the sort-merge form.
_BROADCAST_ROWS = 2_000_000


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected (both directions materialized) distinct co-purchase
    edges: parts appearing in the same order. Per-order item counts are
    bounded, so the quadratic step is per-group, never global.

    r15 (guide §2.4 — remove shuffles outright): one ``collect_set``
    aggregation per order plus an in-row double explode replaces the
    old distinct-items SELF-JOIN. Same distinct (src, dst) set — the
    per-order part set is deduped map-side by the partial collect_set,
    pairs are generated within the row (bounded: TPC-H orders hold
    <= 7 lineitems), and the final distinct is unchanged. Plan: 2
    exchanges (groupBy orderkey, distinct) instead of 4 (distinct
    items, two join re-shuffles, distinct) and no SortMergeJoin.

    An order whose part set exceeds ``_ORDER_SET_CAP`` fails the query
    with an error naming its ``l_orderkey``."""
    sets = lineitem.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("_ps")
    )
    hot = F.raise_error(F.format_string(
        "copurchase_edges: order l_orderkey=%s has more than "
        f"{_ORDER_SET_CAP} distinct parts", "l_orderkey",
    ))
    sets = sets.select(
        F.when(F.size("_ps") > _ORDER_SET_CAP, hot).otherwise(F.col("_ps"))
        .alias("_ps")
    )
    return (
        sets.select(F.explode("_ps").alias("src"), "_ps")
        .select("src", F.explode("_ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank_fixed_point(
    edges: DataFrame, iters: int = 3, checkpoint_dir: str | None = None
) -> DataFrame:
    """PageRank with damping 0.85, ``iters`` synchronous iterations,
    integer fixed-point arithmetic (see module docstring).

    PR_0(v) = SCALE;  PR_{k+1}(v) = TELEPORT
        + (17 * sum_{u->v} (PR_k(u) DIV deg(u))) DIV 20

    Every operation is exact int64 math — the update is associative and
    engine-portable. Undirected input means no dangling nodes.

    Skew bound: the only hot-key shuffle is the groupBy(dst) sum — a
    celebrity node receiving deg(hub) contributions is absorbed by
    map-side partial aggregation (SUM is associative), so per-reducer
    work is O(distinct keys per partition), not O(hub degree); the
    integer math additionally makes results bit-identical under any
    partitioning (both pinned by tests/test_graph_skew.py on a
    hub-degree-2000 star).

    Returns (node, pr, pr_norm) where pr_norm = pr / 1e12.

    r15 plan fixes (guide §2.4/§3.1, from the REST/plan profile):

    - ``pr_0`` now derives from the BARRIERED edge list. It used to
      derive from ``deg``, whose plan roots at the raw extraction —
      the scans + distinct + self-join re-executed once more just to
      seed the ranks.
    - The localCheckpoint returns ``UnknownPartitioning``, so the
      per-iteration ``ed JOIN pr`` was a SortMergeJoin that
      re-exchanged the FULL edge list by src every iteration (the
      plan's dominant shuffles). ``pr`` is NODE-sized — we know that,
      the optimizer does not (its post-aggregation estimate is
      edge-sized) — so when the node count (counted once, from the
      node-sized barriered seed) fits a broadcast budget
      (``_BROADCAST_ROWS``, 2M rows ≈ 64 MB relation), every
      iteration joins by BROADCAST and the edge list is never
      re-shuffled; past the budget the SMJ form is kept
      (node tables at 100 TB scale are data-sized — an unconditional
      hint would be a driver/executor OOM). Join strategy cannot
      change the result: the update is exact int64 arithmetic,
      associative and partitioning-invariant.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ed = materialize_barrier(pin(edges.join(deg, "src"), "src"), checkpoint_dir)
    pr = materialize_barrier(
        ed.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"),
            F.lit(SCALE).cast("long").alias("pr"),
        ),
        checkpoint_dir,
    )
    bcast = pr.count() <= _BROADCAST_ROWS  # node-sized count of barriered blocks
    for _ in range(iters):
        prj = pr.withColumnRenamed("node", "src")
        contrib = ed.join(F.broadcast(prj) if bcast else prj, "src").select(
            F.col("dst"), F.expr("pr DIV d").alias("c")
        )
        pr = contrib.groupBy("dst").agg(
            F.expr(
                f"CAST({TELEPORT} + (({DAMP_NUM} * SUM(c)) DIV {DAMP_DEN}) AS BIGINT)"
            ).alias("pr")
        ).select(F.col("dst").alias("node"), "pr")
    return pr.select(
        "node", "pr", (F.col("pr") / F.lit(float(SCALE))).alias("pr_norm")
    )


def triangle_count(edges: DataFrame, mode: str = "arrays") -> DataFrame:
    """Exact triangle count via degree-ordered orientation (the
    node-iterator++ algorithm): orient every undirected edge from its
    lower-(degree, id) endpoint to the higher, enumerate two-out-edge
    wedges at each pivot, and close them against the oriented edge set.

    Each triangle has exactly one node with out-edges to the other two
    under a total order, so it is counted exactly once. The
    orientation is the scale story: out-degree is capped at O(sqrt(E))
    even on power-law graphs — the wedge work never explodes on a
    celebrity node, where the naive (count common neighbors per edge)
    plan is quadratic in the hottest degree. (Pinned structurally by
    tests/test_graph_skew.py: a hub of raw degree 2000 orients to
    OUT-degree 0, every pivot's wedge work stays C(3, 2).)

    Two physical strategies, same count (equality pinned in tests):

    - ``mode="arrays"`` (default): per-edge ``array_intersect`` of the
      two endpoints' out-neighbor lists. The intersection happens
      WITHIN each row — no wedge materialization or extra shuffle —
      which measured ~2x faster at sf0.1 (4.8 s vs 7-9 s). Cost: rows
      are O(sqrt(E)) wide, so executor heap must hold a task's worth
      of neighborhoods (fine at 16 g, the repo default; the wedge form
      exists for tighter heaps).
    - ``mode="wedges"``: unordered out-neighbor pairs (a < b) per
      pivot, closed with one equi-join against the id-canonicalized
      (least, greatest) edge set. Constant-width rows that stream
      through ordinary shuffle joins — heap never holds a
      neighborhood — at the price of shuffling the wedge set
      (sum-of-C(outdeg, 2) rows).

    ``edges`` must hold BOTH directions of each undirected edge
    (copurchase_edges' contract). Returns a single row (n_triangles).
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("src").alias("_u"), F.col("d").alias("_du"))
    dv = deg.select(F.col("src").alias("_v"), F.col("d").alias("_dv"))
    # no broadcast hints: the degree table is node-sized and the
    # adjacency index below is edge-sized — data-sized, not
    # dimension-sized. At 100x scale a forced broadcast is a driver /
    # executor OOM; size-based AQE still broadcasts them when small.
    o = (
        edges.join(du, edges["src"] == du["_u"])
        .join(dv, edges["dst"] == dv["_v"])
        .filter(
            (F.col("_du") < F.col("_dv"))
            | ((F.col("_du") == F.col("_dv")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )
    o = materialize_barrier(pin(o, "src"), None)
    if mode == "wedges":
        x = o.select(F.col("src").alias("_p"), F.col("dst").alias("_a"))
        y = o.select(F.col("src").alias("_q"), F.col("dst").alias("_b"))
        wedges = (
            x.join(y, (x["_p"] == y["_q"]) & (x["_a"] < y["_b"]))
            .select("_a", "_b")
        )
        oc = o.select(
            F.least("src", "dst").alias("_ca"),
            F.greatest("src", "dst").alias("_cb"),
        )
        closed = wedges.join(
            oc, (wedges["_a"] == oc["_ca"]) & (wedges["_b"] == oc["_cb"])
        )
        return closed.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_triangles")
        )
    # arrays mode: out-neighbor adjacency lists, length <= O(sqrt(E))
    # by the orientation cap; count per oriented edge (u, v) is
    # |N+(u) ∩ N+(v)| — each triangle closes at exactly one edge.
    adj = o.groupBy("src").agg(F.collect_list("dst").alias("_nbrs"))
    au = adj.select(F.col("src").alias("_au"), F.col("_nbrs").alias("_nu"))
    av = adj.select(F.col("src").alias("_av"), F.col("_nbrs").alias("_nv"))
    per_edge = (
        o.join(au, o["src"] == au["_au"])
        .join(av, o["dst"] == av["_av"])
        .select(F.size(F.array_intersect("_nu", "_nv")).alias("_t"))
    )
    return per_edge.agg(F.sum("_t").cast("bigint").alias("n_triangles"))


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source BFS hop distances: frontier expansion over a
    directed edge list, ``max_hops`` synchronous rounds. ``sources``
    is a 1-column (node) frame; returns (node, dist) for every node
    within max_hops of any source (dist = fewest hops, sources at 0).

    The Pregel shape: each round shuffles ONLY the current frontier
    against the (barrier-frozen) edge list — visited nodes never
    re-expand, so total work is O(edges touched), not O(paths) (the
    path-enumeration blowup is the naive recursive-CTE cost this
    operator exists to avoid). Each round's frontier is materialized
    (localCheckpoint locally, reliable checkpoint via checkpoint_dir
    on a cluster) so the iterative lineage never grows.

    r15 (guide §3.1, same reasoning as pagerank_fixed_point): the
    barriered edge list comes back with UnknownPartitioning, so the
    per-hop frontier join re-exchanged and re-sorted the FULL edge
    list every round. The frontier and visited sets are NODE-sized
    and their exact row counts are free (each is an eagerly
    materialized barrier) — when they fit the broadcast budget
    (``_BROADCAST_ROWS``) the expansion join and the
    visited anti-join run as broadcasts and the edge list is never
    shuffled; larger frontiers keep the SMJ form. Join strategy
    cannot change the result (set semantics throughout).
    """
    edges = materialize_barrier(
        pin(edges.select("src", "dst"), "src"), checkpoint_dir
    )
    known = materialize_barrier(
        sources.select(F.col(sources.columns[0]).alias("node")).withColumn(
            "dist", F.lit(0)
        ),
        checkpoint_dir,
    )
    frontier = known
    n_front = n_known = frontier.count()
    for hop in range(1, max_hops + 1):
        f = frontier.select("node")
        fb = F.broadcast(f) if n_front <= _BROADCAST_ROWS else f
        seen = known.select("node")
        seenb = F.broadcast(seen) if n_known <= _BROADCAST_ROWS else seen
        nxt = (
            fb.join(edges, fb["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seenb, "node", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        nxt = materialize_barrier(nxt, checkpoint_dir)
        n_front = nxt.count()
        n_known += n_front
        known = known.unionByName(nxt)
        frontier = nxt
    return known
