"""Hub-heavy (power-law) skew stress for the graph family — the
structural twin of test_similarity_skew.py (SURVEY §7.8-3 names skew
as the declared hard part; the sf0.1→sf1 scale bench ran uniform
clones, so this pins the celebrity-node case it could not see).

Graph: one hub adjacent to every spoke, spokes chained in a path —
max raw degree equals the graph size, the worst case for any per-node
quadratic step.

- triangle_count's degree orientation points every spoke→hub edge AT
  the hub (lower (degree, id) endpoint first), so the hub's OUT-degree
  is 0 and wedge work per pivot is C(out-deg, 2) ≤ C(3, 2) — bounded
  by the path degree, not the hub degree. The naive per-edge
  common-neighbor plan would put ~C(H, 2) work on the hub.
- pagerank_fixed_point's only skewed shuffle is groupBy(dst) where the
  hub receives H contributions; SUM is associative so Spark's partial
  (map-side) aggregation absorbs the hot key before the exchange, and
  the integer fixed-point math makes the result bit-identical under
  any partitioning — asserted by repartition-invariance.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators.graph import (
    pagerank_fixed_point,
    triangle_count,
)

H = 2000  # spokes; hub raw degree = H


def _hub_graph(spark):
    """Undirected (both directions) star + spoke path.

    Triangles: exactly (hub, i, i+1) for each path edge — H-1 total.
    """
    spokes = spark.range(1, H + 1).select(F.col("id").alias("s"))
    star = spokes.select(F.lit(0).alias("src"), F.col("s").alias("dst"))
    path = (
        spark.range(1, H)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    half = star.unionByName(path)
    return half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def test_orientation_bounds_hub_wedge_work(spark):
    edges = _hub_graph(spark)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    assert deg.agg(F.max("d")).first()[0] == H  # the skew is real

    # replay the operator's orientation rule and measure out-degrees:
    # the hub must orient to OUT-degree 0, every node to <= 3
    du = deg.select(F.col("src").alias("_u"), F.col("d").alias("_du"))
    dv = deg.select(F.col("src").alias("_v"), F.col("d").alias("_dv"))
    o = (
        edges.join(du, edges["src"] == du["_u"])
        .join(dv, edges["dst"] == dv["_v"])
        .filter(
            (F.col("_du") < F.col("_dv"))
            | ((F.col("_du") == F.col("_dv")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )
    out_deg = {r.src: r.n for r in
               o.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert out_deg.get(0, 0) == 0, "hub must have no out-edges"
    assert max(out_deg.values()) <= 3, "wedge pivots must stay path-bounded"


def test_triangle_count_exact_on_hub_graph_both_modes(spark):
    edges = _hub_graph(spark)
    for mode in ("arrays", "wedges"):
        got = triangle_count(edges, mode=mode).first().n_triangles
        assert got == H - 1, f"mode={mode}: {got} != {H - 1}"


def test_pagerank_partition_invariant_under_skew(spark):
    edges = _hub_graph(spark)
    a = {
        r.node: r.pr
        for r in pagerank_fixed_point(edges.repartition(2), iters=2).collect()
    }
    b = {
        r.node: r.pr
        for r in pagerank_fixed_point(
            edges.repartition(16, "dst"), iters=2
        ).collect()
    }
    assert a == b, "integer fixed-point PR must not depend on partitioning"
    assert a[0] == max(a.values()), "hub must rank first"
    # the hot groupBy(dst) is absorbed map-side: partial aggregation
    # precedes the exchange in the physical plan
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    contrib = edges.join(deg, "src").select(
        "dst", F.expr(f"{10**12} DIV d").alias("c")
    )
    plan = (
        contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_sum" in plan, "hub-key sum must combine map-side"


def test_copurchase_edges_refuses_a_hot_order(spark):
    """One order with more distinct parts than the cap fails the edge
    build with an error naming that order's l_orderkey — the in-row
    explode would emit n² pairs from a single row. Orders at the cap
    build normally."""
    import pytest

    from bigdatafinalproject_spark.operators.graph import (
        _ORDER_SET_CAP,
        copurchase_edges,
    )

    def lineitem(n_hot):
        rows = [(1, 10), (1, 11), (2, 11), (2, 12)]
        rows += [(77, 1000 + p) for p in range(n_hot)]
        return spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")

    n = _ORDER_SET_CAP
    assert copurchase_edges(lineitem(n)).count() == 4 + n * (n - 1)
    with pytest.raises(Exception, match="l_orderkey=77 has more than"):
        copurchase_edges(lineitem(n + 1)).collect()
