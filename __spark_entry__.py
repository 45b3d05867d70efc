"""Driver contract: ``entry()``, ``queries()`` and ``oracle_sql()`` over
``bigdatafinalproject_spark.registry``, where every query and its oracle
SQL live (one per operator from SURVEY.md §2 plus the LLM-pipeline ones).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bigdatafinalproject_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver checks only the first 50 queries of queries(). _FRONT puts
# the queries whose code the latest change touched in that window; each
# change resets it (it may be empty). scripts/oracle_sweep.py checks all.
_FRONT = (
    "orders_write_audit_publish", "jdbc_roundtrip_agg",
    "stream_embedding_index", "stream_orders_cdc_apply",
    "stream_dlq_routing", "stream_cms_user_frequency",
    "stream_hll_user_distinct", "stream_jdbc_exactly_once",
    "orc_roundtrip_agg", "xml_roundtrip_agg", "jsonl_roundtrip_agg",
    "ann_mmr_diversified", "ann_pq_recall", "ann_pq_topk",
    "ann_quantized_topk", "doc_segment_dedup", "doc_semantic_dedup",
    "doc_substring_scrub", "doc_winnow_contamination", "doc_winnow_dedup",
    "doc_winnow_spans", "embedding_kmeans", "events_orders_cogroup_merge",
    "events_udaf_median", "part_pagerank", "part_bfs_reach",
    "part_triangle_count", "ann_index_append", "bucketed_join_agg",
    "hive_partitioned_prune_agg", "lineitem_compaction_roundtrip",
    "events_incremental_rollup_refresh", "orders_incremental_join_view",
    "ann_ivf_index_append", "ann_ivf_index_minor_compact",
    "ann_ivf_index_retract", "ann_ivfpq_index_append",
    "ann_ivfpq_index_compact", "ann_ivfpq_index_retract",
    "ann_pq_index_append", "ann_pq_index_compact", "ann_pq_index_retract",
    "doc_dedup_index_append", "doc_dedup_index_compact",
    "doc_dedup_index_minor_compact", "doc_dedup_index_retract",
    "stream_dedup_index_maintenance", "stream_ivf_index_maintenance",
    "stream_ivfpq_index_maintenance", "stream_pq_index_maintenance",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (popularity top-k) on /root/testdata/sf0.001."""
    return registry.QUERIES["popular_parts"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    rest = [n for n in registry.QUERIES if n not in _FRONT]
    return {n: registry.QUERIES[n] for n in (*_FRONT, *rest)}


def oracle_sql() -> dict[str, str]:
    return dict(registry.ORACLES)
