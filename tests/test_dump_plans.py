"""``scripts/dump_plans.normalise``: two dumps of one plan that differ
only in what the session chose come out byte-identical, and a
difference in the plan itself survives."""

from __future__ import annotations

import importlib.util
import tempfile

from tests.conftest import REPO

_spec = importlib.util.spec_from_file_location(
    "dump_plans", REPO / "scripts" / "dump_plans.py"
)
dump_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(dump_plans)

# tpch_q21's distinct-aggregate Expand as two sessions formatted it:
# other expression ids, plan ids, RDD and temp-path numbers, and the
# two groups (with their gid literals and columns) in the other order
_A = """\
(1) Scan ExistingRDD
Output [3]: [k#61L, s#62L, late#63]
Arguments: [k#61L, s#62L, late#63], MapPartitionsRDD[5] at localCheckpoint at NativeMethodAccessorImpl.java:0
Location: InMemoryFileIndex [file:{tmp}/bdfp_idx_cfc1c0f830_12797/codes/b000000000000.20916-140286374083456]

(2) Expand
Input [3]: [k#61L, s#62L, late#63]
Arguments: [[k#61L, CASE WHEN late#63 THEN s#62L END, null, 1], [k#61L, null, s#62L, 2]], [k#61L, CASE WHEN late THEN s END#86L, s#87L, gid#85]

(3) Exchange
Input [4]: [k#61L, CASE WHEN late THEN s END#86L, s#87L, gid#85]
Arguments: hashpartitioning(k#61L, CASE WHEN late THEN s END#86L, s#87L, gid#85, 4), ENSURE_REQUIREMENTS, [plan_id=134]

(4) HashAggregate
Input [4]: [k#61L, CASE WHEN late THEN s END#86L, s#87L, gid#85]
Keys [1]: [k#61L]
Functions [2]: [partial_count(s#87L) FILTER (WHERE (gid#85 = 2)), partial_count(CASE WHEN late THEN s END#86L) FILTER (WHERE (gid#85 = 1))]
"""

_B = """\
(1) Scan ExistingRDD
Output [3]: [k#1061L, s#1062L, late#1063]
Arguments: [k#1061L, s#1062L, late#1063], MapPartitionsRDD[66] at localCheckpoint at NativeMethodAccessorImpl.java:0
Location: InMemoryFileIndex [file:{tmp}/bdfp_idx_cfc1c0f830_4411/codes/b000000000000.4411-139912345678901]

(2) Expand
Input [3]: [k#1061L, s#1062L, late#1063]
Arguments: [[k#1061L, s#1062L, null, 1], [k#1061L, null, CASE WHEN late#1063 THEN s#1062L END, 2]], [k#1061L, s#1098L, CASE WHEN late THEN s END#1099L, gid#1097]

(3) Exchange
Input [4]: [k#1061L, s#1098L, CASE WHEN late THEN s END#1099L, gid#1097]
Arguments: hashpartitioning(k#1061L, s#1098L, CASE WHEN late THEN s END#1099L, gid#1097, 4), ENSURE_REQUIREMENTS, [plan_id=9]

(4) HashAggregate
Input [4]: [k#1061L, s#1098L, CASE WHEN late THEN s END#1099L, gid#1097]
Keys [1]: [k#1061L]
Functions [2]: [partial_count(s#1098L) FILTER (WHERE (gid#1097 = 1)), partial_count(CASE WHEN late THEN s END#1099L) FILTER (WHERE (gid#1097 = 2))]
"""


def _plans():
    tmp = tempfile.gettempdir()
    return _A.format(tmp=tmp), _B.format(tmp=tmp)


def test_session_dependent_parts_normalise_away():
    a, b = _plans()
    na = dump_plans.normalise(a)
    assert na == dump_plans.normalise(b)
    assert dump_plans.normalise(na) == na
    assert "MapPartitionsRDD[<n>] at localCheckpoint" in na
    assert "file:<tmp>/bdfp_idx_cfc1c0f830_<n>/codes/b000000000000.<n>-<n>" in na
    assert "[plan_id=1]" in na


def test_a_changed_plan_still_differs():
    a, _ = _plans()
    changed = a.replace("partial_count(s#87L)", "partial_sum(s#87L)")
    assert dump_plans.normalise(changed) != dump_plans.normalise(a)
    # which group a gid filter selects is part of the plan
    swapped = a.replace("(gid#85 = 2)), partial_count(CASE", "(gid#85 = 1)), partial_count(CASE")
    assert dump_plans.normalise(swapped) != dump_plans.normalise(a)
