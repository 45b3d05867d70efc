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
    "ann_ivf_index_append", "ann_ivf_index_minor_compact",
    "ann_ivf_index_retract", "ann_ivf_index_search",
    "stream_ivf_index_maintenance", "ann_ivfpq_index_append",
    "ann_ivfpq_index_compact", "ann_ivfpq_index_retract",
    "ann_ivfpq_index_search", "stream_ivfpq_index_maintenance",
    "ann_ivf_topk", "ann_ivf_recall", "ann_ivfpq_topk", "ann_ivfpq_recall",
    "ann_pq_topk", "ann_pq_recall", "ann_cosine_topk", "ann_lsh_recall",
    "ann_mmr_diversified", "ann_mmr_from_index", "ann_quantized_topk",
    "rag_chunk_retrieval", "embedding_kmeans", "doc_semantic_dedup",
    "stream_dedup_index_maintenance", "leave_one_out_split",
    "kfold_assignment", "part_pagerank", "part_bfs_reach",
    "part_triangle_count",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (popularity top-k) on /root/testdata/sf0.001."""
    return registry.QUERIES["popular_parts"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    rest = [n for n in registry.QUERIES if n not in _FRONT]
    return {n: registry.QUERIES[n] for n in (*_FRONT, *rest)}


def oracle_sql() -> dict[str, str]:
    return dict(registry.ORACLES)
