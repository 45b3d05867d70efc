"""Physical-plan assertions: the scale properties SURVEY §4 demands,
checked on the actual Catalyst output (not assumed).
"""

from __future__ import annotations

from bigdatafinalproject_spark import registry
from bigdatafinalproject_spark.catalog import load_table
from bigdatafinalproject_spark.operators.ids import dense_ids
from bigdatafinalproject_spark.plans import formatted_plan
from tests.conftest import SF_DIR


def test_clean_project_pushdown_and_pruning(spark):
    """Predicates reach the parquet scan; only 3 of 11 columns read."""
    plan = formatted_plan(registry.QUERIES["clean_project"](spark, SF_DIR))
    assert "PushedFilters:" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1].split("\n")[0]
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" not in read_schema, "column pruning failed"


def test_flagship_broadcast_and_topk(spark):
    """Dim join broadcasts; orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k, no global sort)."""
    plan = formatted_plan(registry.QUERIES["popular_parts"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_star_join_broadcasts_dims(spark):
    plan = formatted_plan(registry.QUERIES["star_join_revenue_by_nation"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, "nation/region should broadcast"


def test_semi_anti_join_strategies(spark):
    for q in ("customers_with_orders_semi", "customers_without_orders_anti"):
        plan = formatted_plan(registry.QUERIES[q](spark, SF_DIR))
        assert "LeftSemi" in plan or "LeftAnti" in plan, q


def test_dense_ids_no_global_window(spark):
    """The id assignment must never collapse the key rows into a global
    single-partition window (the reference's anti-pattern). After the
    determinism fix the ranged keys are a frozen localCheckpoint
    (ExistingRDD) and the only window runs over the per-partition
    offset counts — the key rows themselves see no window at all."""
    c = load_table(spark, SF_DIR, "customer")
    plan = formatted_plan(dense_ids(c, "c_name", num_partitions=8))
    assert "ExistingRDD" in plan, "ranged keys must be a frozen checkpoint"
    assert "monotonically_increasing_id" in plan
    # the offsets window partitions/orders by _pid (#partitions rows);
    # no window over the data rows exists
    assert "_pid" in plan


def test_aggregates_partial_final(spark):
    """Hash aggregates must have a partial (map-side) phase."""
    plan = formatted_plan(registry.QUERIES["pricing_summary"](spark, SF_DIR))
    assert "partial" in plan.lower()


def test_band_join_broadcasts_nested_loop(spark):
    """The non-equi band join must broadcast the O(10)-row bands side —
    a shuffle or cartesian on the fact side would be fatal at scale."""
    plan = formatted_plan(registry.QUERIES["price_band_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_single_expand(spark):
    """GROUPING SETS plans one Expand + one shuffle, not three unioned
    aggregations (shared scan + shared partial agg)."""
    plan = formatted_plan(registry.QUERIES["grouping_sets_revenue"](spark, SF_DIR))
    assert "Expand" in plan
    assert "Union" not in plan


def test_tfidf_broadcasts_corpus_count(spark):
    """The 1-row corpus count joins by broadcast; the doc×token side
    never shuffles for it."""
    plan = formatted_plan(registry.QUERIES["doc_tfidf_top_terms"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_portable_sample_filters_before_agg(spark):
    """The hash-sample predicate must evaluate scan-side (before the
    aggregation exchange), so only ~10% of rows shuffle."""
    plan = formatted_plan(registry.QUERIES["portable_sample"](spark, SF_DIR))
    assert "md5" in plan
    # formatted plans print the tree root-first, scan last: the Filter
    # node must sit BELOW (= later in text than) the agg Exchange
    exchange_pos = plan.find("Exchange")
    filter_pos = plan.find("Filter")
    assert filter_pos != -1, "sample predicate missing from plan"
    assert exchange_pos == -1 or filter_pos > exchange_pos, (
        "hash-sample filter must run scan-side, before the shuffle"
    )


def test_contamination_broadcasts_benchmark_no_distinct_exchange(spark):
    """The benchmark shingle set must broadcast (train side unshuffled
    by the join), and shingle generation must dedup map-side — inside
    the shingles_arrow kernel (a MapInArrow node), so no
    global-distinct exchange appears on the exploded (id, shingle) rows."""
    plan = formatted_plan(registry.QUERIES["doc_contamination"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # per-doc dedup happens map-side inside the Arrow shingle kernel —
    # never as a global distinct on the exploded rows
    assert "MapInArrow" in plan
    # no HashAggregate keyed on (id, shingle) feeding an Exchange —
    # the only aggregates are the broadcast-side distinct (bounded
    # benchmark) and the final per-id rollup
    assert "Exchange hashpartitioning(shingle" not in plan


def test_resample_ffill_single_fill_window(spark):
    """Gap fill plans exactly one window (last over key, ordered by
    bucket); the spine join keys match the aggregation keys."""
    plan = formatted_plan(registry.QUERIES["events_resample_ffill"](spark, SF_DIR))
    assert plan.count("Window") >= 1
    assert "last" in plan.lower()


def test_repetition_no_shuffle(spark):
    """Repetition stats are pure per-row expressions: the plan must
    contain no Exchange at all."""
    plan = formatted_plan(registry.QUERIES["doc_repetition"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_mixture_sample_filters_at_scan(spark):
    """The mixture-rate predicate is a scan-side filter — no shuffle,
    no join for the per-language rates (literal map lookup)."""
    plan = formatted_plan(registry.QUERIES["doc_mixture_sample"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "md5" in plan


def test_standardize_broadcasts_moments(spark):
    """Per-group moments join back by broadcast; the fact side must not
    shuffle for the join."""
    plan = formatted_plan(registry.QUERIES["lineitem_standardize"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_funnel_broadcasts_stage_frames(spark):
    """Each funnel stage joins the (one row per user) previous-stage
    frame by broadcast against the filtered events scan."""
    plan = formatted_plan(registry.QUERIES["events_funnel"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2


def test_bpe_tokens_no_shuffle(spark):
    """Regex pre-tokenization is pure per-row work: no Exchange."""
    plan = formatted_plan(registry.QUERIES["doc_bpe_tokens"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_hashed_bow_partial_agg(spark):
    """The (id, slot) count must have a map-side partial phase."""
    plan = formatted_plan(registry.QUERIES["doc_hashed_bow"](spark, SF_DIR))
    assert "partial" in plan.lower()


def test_join_strategy_hints_are_honored(spark):
    """The engine can steer Catalyst's join strategy per-site: a
    shuffle_hash hint must produce ShuffledHashJoin (vs the sort-merge
    default for large equi-joins), and merge must force sort-merge —
    the control surface for skew/memory tradeoffs at scale."""
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    shj = formatted_plan(
        o.join(c.hint("shuffle_hash"), o["o_custkey"] == c["c_custkey"])
    )
    assert "ShuffledHashJoin" in shj
    smj = formatted_plan(
        o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
    )
    assert "SortMergeJoin" in smj


def test_rfm_no_window_at_all(spark):
    """customer_rfm r2: quintile bands come from broadcast percentile
    cut values — the plan must contain NO window operator (r1 ran three
    unpartitioned ntile windows over all customers)."""
    plan = formatted_plan(registry.QUERIES["customer_rfm"](spark, SF_DIR))
    assert "Window" not in plan
    assert "percentile" in plan
    assert "BroadcastExchange" in plan


def test_abc_cumsum_partitioned_windows_only(spark):
    """part_abc_analysis r2: the running total goes through
    operators/cumsum.running_sum — the data-row window is PARTITIONED
    by the frozen range-partition id (parallel), never a global sort of
    the item aggregate."""
    plan = formatted_plan(registry.QUERIES["part_abc_analysis"](spark, SF_DIR))
    assert "ExistingRDD" in plan, "range exchange must be frozen by the barrier"
    assert "hashpartitioning(_pid" in plan, "data window must partition on _pid"
    # the pre-barrier plan (not visible here) holds the only range
    # exchange; the visible plan must not re-sort everything globally
    assert "rangepartitioning(rev" not in plan


def test_recs_pool_take_ordered_no_global_sort(spark):
    """recs_wide_assembly r2: the popularity pool is orderBy().limit()
    (TakeOrderedAndProject) + a rank over the k-row result — no
    range-partitioned global sort of the item aggregate anywhere."""
    plan = formatted_plan(registry.QUERIES["recs_wide_assembly"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning(cnt" not in plan


def test_interval_join_no_nested_loop(spark):
    """The bucketed interval join must plan as an equi-join on
    (user_id, bin) — never BroadcastNestedLoopJoin / CartesianProduct
    (what a raw BETWEEN theta-join would give)."""
    plan = formatted_plan(registry.QUERIES["events_interval_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_bin" in plan, "bin key missing from the equi-join"


def test_quantized_topk_single_corpus_pass(spark):
    """Quantized ANN: stage-1 scan works on int8 arrays (quantize
    expressions present), rerank stage joins the float vectors back
    only for candidates; final top-k via partitioned window."""
    plan = formatted_plan(registry.QUERIES["ann_quantized_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("round(") >= 1, "int8 quantization not in plan"


def test_correlated_subquery_decorrelates(spark):
    """The correlated scalar subquery must decorrelate into an
    aggregate + equi-join — no per-row subquery execution, no nested
    loop."""
    plan = formatted_plan(registry.QUERIES["orders_above_customer_avg"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_tpch_q6_full_predicate_pushdown(spark):
    """Q6 is the scan-efficiency query: every one of the four
    predicates must reach the parquet reader as a PushedFilter, and
    the plan is scan -> partial/final agg with no shuffle-heavy ops."""
    df = registry.QUERIES["tpch_q6_forecast_revenue"](spark, SF_DIR)
    plan = formatted_plan(df)
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert frag in plan, f"predicate not pushed: {frag}"
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_tpch_q10_topk_and_pruned_scans(spark):
    """Q10's ORDER BY ... LIMIT 20 must compile to TakeOrderedAndProject
    (never a global sort), with the quarter and returnflag filters
    pushed into their scans."""
    df = registry.QUERIES["tpch_q10_returned_items"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_tpch_q5_broadcasts_dims_no_cartesian(spark):
    """Q5's nation/region (and the filtered supplier co-location path)
    must resolve to broadcast hash joins on the dimension sides — the
    fact table is the only side that may shuffle."""
    df = registry.QUERIES["tpch_q5_local_supplier_volume"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q9_filtered_part_broadcasts(spark):
    """Q9 filters part by name substring before joining — the filtered
    dim must broadcast (explicit hint) and the name predicate must
    reach the part scan."""
    df = registry.QUERIES["tpch_q9_product_type_profit"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "StringContains(p_name,red)" in plan or "p_name" in plan.split(
        "PushedFilters"
    )[1].split("\n")[0]
