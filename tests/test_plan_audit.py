"""Unit pins for tools/plan_audit.py's plan-string heuristics — the
regex over Spark's Window rendering is subtle (two bracket groups is
partitioned-without-order OR unpartitioned-with-order, disambiguated
by ASC/DESC in the second group), and a wrong parse either spams
false flags (the first draft flagged four correctly-partitioned
windows) or misses the single-partition pathology it exists for."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo/tools")

from plan_audit import SCAN_THRESHOLD, audit_plan


def test_scan_blowup_threshold():
    ok = "x\n" + "Scan parquet t\n" * SCAN_THRESHOLD
    assert audit_plan(ok) == []
    bad = "x\n" + "Scan parquet t\n" * (SCAN_THRESHOLD + 1)
    assert any(f.startswith("SCAN_BLOWUP") for f in audit_plan(bad))


def test_row_udf_flagged_arrow_not():
    assert any(
        f.startswith("ROW_UDF") for f in audit_plan("+- BatchEvalPython [f(x)]")
    )
    assert any(f.startswith("ROW_UDF") for f in audit_plan("+- PythonUDF f(x)"))
    # Arrow-batched kernels are the repo's accepted path
    assert audit_plan("+- ArrowEvalPython [f(x)]") == []
    assert audit_plan("+- MapInPandas f(x)") == []


def test_partitioned_window_not_flagged():
    # partitioned + ordered (3 groups)
    p3 = "Window [row_number() w], [cluster#54], [score#1 DESC NULLS LAST]"
    assert audit_plan(p3) == []
    # partitioned, no order (2 groups, second is KEYS — no ASC/DESC)
    p2 = "Window [count(1) w], [region#250, segment#251]"
    assert audit_plan(p2) == []


def test_unpartitioned_window_flagged_unless_bounded():
    # 2 groups, second carries ASC/DESC -> order spec -> unpartitioned
    glob = "Window [row_number() w], [score#1 DESC NULLS LAST]\n+- Sort\n+- Exchange SinglePartition\n+- Scan parquet t"
    assert any(f.startswith("GLOBAL_WINDOW") for f in audit_plan(glob))
    # same window over an aggregate-bounded input is accepted
    bounded = glob.replace("+- Sort", "+- HashAggregate(keys=[k])")
    assert audit_plan(bounded) == []
    bounded2 = glob.replace("+- Sort", "+- TakeOrderedAndProject(limit=5)")
    assert audit_plan(bounded2) == []


def test_second_global_window_not_masked_by_first_bounded_one():
    """ADVICE r13: the first draft stopped at the first unpartitioned
    window — a BOUNDED (accepted) global window early in the plan
    masked an unbounded one later."""
    bounded = (
        "Window [rank() w], [score#1 DESC NULLS LAST]\n"
        "+- HashAggregate(keys=[k])\n"
    )
    unbounded = (
        "Window [row_number() w], [score#9 DESC NULLS LAST]\n"
        "+- Sort\n+- Exchange SinglePartition\n" + "+- Scan parquet t\n" * 5
    )
    assert audit_plan(bounded + unbounded) == [
        "GLOBAL_WINDOW: 1 unpartitioned window(s) w/o bounded input"
    ]


def test_cartesian_flags():
    assert any(
        f.startswith("CARTESIAN") for f in audit_plan("+- CartesianProduct")
    )
    bnlj = "+- BroadcastNestedLoopJoin BuildRight, Inner\n+- Scan parquet t"
    assert any(f.startswith("CARTESIAN") for f in audit_plan(bnlj))
    # the broadcast-scalar-total pattern: BNLJ over an aggregate
    ok = bnlj + "\n+- HashAggregate(keys=[], functions=[sum(v)])"
    assert audit_plan(ok) == []
    # ADVICE low #2: BuildLeft with ONE detected child root (the first
    # child printed deeper than the second) scans the first-child
    # subtree, the build side — never the last root's, the stream side
    build_left = (
        "BroadcastNestedLoopJoin BuildLeft, Inner\n"
        "  :  +- HashAggregate(keys=[], functions=[count(1)])\n"
        "  :     +- Scan parquet documents\n"
        "+- Scan parquet documents\n"
    )
    assert audit_plan(build_left) == []
    unbounded = build_left.replace(
        "HashAggregate(keys=[], functions=[count(1)])", "Project [doc_id]"
    )
    assert any(f.startswith("CARTESIAN") for f in audit_plan(unbounded))


def test_bnlj_not_rescued_by_distant_aggregate():
    """ADVICE r13: the old whole-plan aggregate test accepted nearly
    any BNLJ (almost every plan aggregates SOMEWHERE); the test is now
    scoped to the join's subtree lines."""
    bnlj = "+- BroadcastNestedLoopJoin BuildRight, Inner\n"
    filler = "+- Project [a, b]\n" * 20
    distant_agg = "+- HashAggregate(keys=[k], functions=[count(1)])"
    assert any(
        f.startswith("CARTESIAN")
        for f in audit_plan(bnlj + filler + distant_agg)
    )
