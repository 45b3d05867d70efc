"""Tests of the benchmark harness itself (no Spark session needed).

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import oracles  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, check_registered, pass_order  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_every_end_to_end_metric_has_a_name_and_unit():
    spec = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert spec == run.END_TO_END_UNITS
    assert all(name and unit for name, unit in spec.items())
    assert spec["setup_s"] == "s"


def test_per_layer_metrics_match_what_a_traced_run_reports():
    layers = run.Layers.__new__(run.Layers)
    layers.tracer = tracing.Tracer()
    layers.stream = {"batches": 0, "trigger_s": 0.0, "add_batch_s": 0.0}
    layers.spark_totals, layers.shapes, layers.op_jobs = {}, [], []
    layers.bookkeeping_s = 0.0
    rss = tracing.RssSampler(jvm_pid=0)
    reported = layers.metrics(passes=1, exec_s=1.0, rss=rss, run_s=1.0)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        k: v["unit"] for k, v in reported.items()
    }


def test_workloads_list_only_registered_oracle_bearing_queries():
    from bigdatafinalproject_spark import registry

    stored = oracles.load()
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    for name, ops in WORKLOADS.items():
        listed = check_registered(ops, set(registry.QUERIES))
        assert len(set(listed)) == len(ops), name
        for q in listed:
            assert q in registry.ORACLES, q
            assert stored[q]["oracle_md5"] == oracles.sql_md5(registry.ORACLES[q]), q


def test_unregistered_query_fails_loudly():
    with pytest.raises(LookupError, match="no_such_query"):
        check_registered(("tpch_q1_pricing_summary", "no_such_query"), {"tpch_q1_pricing_summary"})


def test_seed_permutes_order_but_never_the_set():
    ops = list(WORKLOADS["analytics"])
    orders = set()
    for seed in range(20):
        rng = random.Random(seed)
        for _ in range(3):
            order = pass_order(ops, rng)
            assert sorted(order) == sorted(ops)
            orders.add(tuple(order))
        again = random.Random(seed)
        assert pass_order(ops, again) == pass_order(ops, random.Random(seed))
    assert len(orders) > 1


def _span(i, t0, t1, parent=None):
    return tracing.Span(id=i, parent=parent, op=0, name=f"s{i}", t0=t0, t1=t1)


def test_self_time_subtracts_union_of_children():
    parent = _span(0, 0.0, 10.0)
    # overlapping children cover [1, 5]; a disjoint one covers [6, 7]
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0), _span(3, 6.0, 7.0, 0)]
    assert tracing.self_time(parent, kids) == pytest.approx(5.0)


def test_self_time_clips_children_to_the_span():
    parent = _span(0, 2.0, 6.0)
    kids = [_span(1, 0.0, 3.0, 0), _span(2, 5.0, 9.0, 0)]
    assert tracing.self_time(parent, kids) == pytest.approx(2.0)
    assert tracing.self_time(parent, []) == pytest.approx(4.0)


def test_tracer_nests_spans_and_counts_jobs():
    jobs = iter(range(100))
    tr = tracing.Tracer()
    tr.job_counter = lambda: next(jobs)
    op = tr.start("op:q", op=7)
    tr.op_span = op
    build = tr.start("build")
    inner = tr.start("ann_index.append")
    tr.end(inner)
    tr.end(build)
    tr.end(op)
    assert (build.parent, inner.parent, inner.op) == (op.id, build.id, 7)
    assert (op.jobs, build.jobs, inner.jobs) == (5, 3, 1)


def test_tail_percentile_keeps_ten_samples_beyond():
    def linear(values, p):
        x = (len(values) - 1) * p / 100
        lo = int(x)
        hi = min(lo + 1, len(values) - 1)
        return values[lo] + (values[hi] - values[lo]) * (x - lo)

    for n in (11, 29, 58, 200):
        p = run.tail_percentile(n)
        values = list(range(n))
        assert sum(v > linear(values, p) for v in values) >= 10
        assert sum(v > linear(values, p + 1) for v in values) < 10
    assert run.tail_percentile(29) == 67
    assert run.tail_percentile(10) is None


def test_harrell_davis_quantile():
    assert run.quantile([3.0], 0.5) == pytest.approx(3.0)
    assert run.quantile([1.0, 2.0], 0.5) == pytest.approx(1.5)
    # symmetric samples: the median is the centre, whatever the gaps
    assert run.quantile([0.0, 1.0, 2.0, 7.0, 8.0, 9.0], 0.5) == pytest.approx(4.5)
    values = [float(v) for v in range(29)]
    assert run.quantile(values, 0.5) == pytest.approx(14.0)
    assert 14.0 < run.quantile(values, 0.67) < 28.0
    # one gap at the middle moves the sample median by the whole gap,
    # the estimate by a fraction of it
    gap = values[:15] + [v + 5 for v in values[15:]]
    assert run.quantile(gap, 0.5) - 14.0 < 5 / 2


def test_query_stats_never_rest_on_one_sample():
    # 29 ops, one sample each: the median and p67 of all samples
    one_pass = {f"q{i}": [float(i)] for i in range(29)}
    p50, tail, rule = run.query_stats(one_pass)
    values = [float(i) for i in range(29)]
    assert p50 == pytest.approx(run.quantile(values, 0.5))
    assert tail == pytest.approx(run.quantile(values, 0.67))
    assert rule == "p67, n=29"
    # 2 ops x 3 passes, a slow first pass: per-op medians, the slowest
    # op's median as the tail, and a failed sample left out
    passes = {"a": [9.0, 4.0, 4.2], "b": [12.0, 5.0, float("nan"), 5.4]}
    p50, tail, rule = run.query_stats(passes)
    assert p50 == pytest.approx((4.2 + 5.4) / 2)
    assert tail == pytest.approx(5.4)
    assert rule == "slowest op median, n=6"


def test_parse_metric_units():
    assert tracing.parse_metric("520 ms") == pytest.approx(0.52)
    assert tracing.parse_metric("189.1 KiB") == pytest.approx(189.1 * 1024)
    assert tracing.parse_metric("total (min, med, max (stageId: taskId))\n12.5 s (3.0 s)") == 12.5
    assert tracing.parse_metric("1,024") == 1024


def test_frame_hash_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": [float("nan"), 0.5]})
    b = pd.DataFrame({"y": [0.5, float("nan")], "x": [2, 1]})
    assert oracles.frame_hash(a) == oracles.frame_hash(b)
    assert oracles.frame_hash(a) != oracles.frame_hash(a.assign(x=[1, 3]))
