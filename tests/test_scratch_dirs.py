"""Per-process scratch dirs (``catalog.scratch_dir``) are gone once the
process that made them exits."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap

from tests.conftest import REPO, SF_DIR

_CHILD = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession
    from bigdatafinalproject_spark import registry
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    for name in sys.argv[2:]:
        registry.QUERIES[name](spark, sys.argv[1]).collect()
    """
)


# the WAP publisher (a symlink to ``<path>_v<N>`` beside ``<path>_log``),
# the Derby JDBC round trip and the streaming LSH index, then one query
# per other scratch_dir caller in streaming/ and formats
_QUERIES = (
    "orders_write_audit_publish", "jdbc_roundtrip_agg",
    "stream_embedding_index", "stream_orders_cdc_apply",
    "stream_dlq_routing", "stream_cms_user_frequency",
    "stream_hll_user_distinct", "stream_jdbc_exactly_once",
    "orc_roundtrip_agg",
)


def test_child_leaves_no_pid_tagged_dir(tmp_path):
    """A vanilla-session child runs ``_QUERIES`` and exits without
    stopping Spark. No ``bdfp_*_<child pid>`` entry is left in its
    temporary directory."""
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=str(REPO))
    proc = subprocess.Popen(
        [sys.executable, "-c", _CHILD, SF_DIR, *_QUERIES],
        env=env, cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True,
    )
    _, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    own = re.compile(rf"^bdfp_.*_{proc.pid}(_|$)")
    left = sorted(n for n in os.listdir(tmp_path) if own.match(n))
    assert not left, left
