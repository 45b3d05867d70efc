"""Workload definitions: which registered queries each workload runs.

An op is one ``registry.QUERIES[name](spark, sf_dir)`` call followed by
``toPandas()`` on the returned DataFrame. A pass runs every op of the
workload once; the seed only permutes the order inside each pass, so
every run executes the same multiset of ops.
"""

from __future__ import annotations

import random

TPCH = (
    "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_type_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_late_lines_by_priority",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q16_parts_supplier_counts",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_volume_customer",
    "tpch_q19_discounted_revenue",
    "tpch_q20_excess_stock_suppliers",
    "tpch_q21_suppliers_kept_waiting",
    "tpch_q22_global_sales_opportunity",
)

# Relational scans, joins and aggregations: Spark execution dominates,
# neither operators/arrow_kernels nor operators/ann_index runs. This is
# the bypass workload for kernel and index changes.
ANALYTICS = TPCH + (
    "leave_one_out_split",
    "kfold_assignment",
    "cold_start_filtered_count",
    "dense_customer_ids",
    "eval_rmse",
    "eval_auc",
    "recs_wide_assembly",
)

# Writes to the persisted IVF index of operators/ann_index: clone, CAS
# commit, manifest, append, minor compaction, retraction and GC, and the
# streaming foreachBatch append path. Both ops end in a search over the
# index they maintained, so the serve path and the Arrow kernels run
# too. Two ops, so that a run fits three passes (three samples of each).
INDEX_MAINTENANCE = (
    "ann_ivf_index_minor_compact",
    "stream_ivf_index_maintenance",
)

WORKLOADS: dict[str, tuple[str, ...]] = {
    "analytics": ANALYTICS,
    "index_maintenance": INDEX_MAINTENANCE,
}

# Fewest passes a run times, whatever ``--seconds`` says: one analytics
# pass already pools 29 ops, an index_maintenance pass only two.
MIN_PASSES = {"analytics": 1, "index_maintenance": 3}

# Workloads whose ops start from persisted base indexes: set-up builds
# them before the first timed op.
BUILDS_INDEXES = {"index_maintenance"}


def check_registered(names: tuple[str, ...], registered: set[str]) -> list[str]:
    """The workload's ops; raises naming every listed query that is not
    registered (the registry skips a query module that fails to import)."""
    missing = [n for n in names if n not in registered]
    if missing:
        raise LookupError(f"queries not registered: {', '.join(missing)}")
    return list(names)


def pass_order(ops: list[str], rng: random.Random) -> list[str]:
    """One pass: every op once, in an order drawn from ``rng``."""
    order = list(ops)
    rng.shuffle(order)
    return order
