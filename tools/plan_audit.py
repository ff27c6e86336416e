"""Automated physical-plan anti-pattern audit over every registered
``queries()`` entry.

Born from a real find: the r13 triangle census inlined its basket
self-join into every consumer — 94 parquet scans of lineitem and zero
ReusedExchange — invisible to value checks (bit-exact at three SFs)
and to per-suite pytests, but catastrophic at 100 TB. Value
correctness says nothing about plan quality; this audit puts the
plan-shape anti-patterns the repo polices by hand behind one command:

  SCAN_BLOWUP     more parquet scans than any legitimate multi-table
                  join here needs (TPC-H q5 = 8; threshold 10) —
                  the derived-frame re-derivation pathology.
  ROW_UDF         BatchEvalPython / PythonUDF in the plan: a
                  row-at-a-time Python UDF in the hot path (the repo
                  rule is Arrow kernels only — ArrowEvalPython /
                  mapInPandas are fine and NOT flagged).
  GLOBAL_WINDOW   a WindowExec whose partition spec is empty AND
                  whose input is not already aggregate/limit-bounded
                  (heuristic: flags plans where the global window's
                  subtree contains no HashAggregate/TakeOrdered/
                  Limit barrier — every row moves to ONE partition).
  CARTESIAN       CartesianProduct (never acceptable) or a
                  BroadcastNestedLoopJoin whose build side is not a
                  1-row aggregate/parameter frame (heuristic: BNLJ
                  flagged only when the plan has no aggregate under
                  the broadcast — the broadcast-scalar-total pattern
                  is the accepted use).

Usage: python tools/plan_audit.py [sf_dir]        # default sf0.001
Exit code 1 if any query raises a finding (prints all findings).
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCAN_THRESHOLD = 10


def audit_plan(plan: str) -> list[str]:
    findings = []
    n_scan = plan.count("Scan parquet")
    if n_scan > SCAN_THRESHOLD:
        findings.append(f"SCAN_BLOWUP: {n_scan} parquet scans")
    if "BatchEvalPython" in plan or re.search(r"\bPythonUDF\b", plan):
        findings.append("ROW_UDF: row-at-a-time Python eval in plan")
    if "CartesianProduct" in plan:
        findings.append("CARTESIAN: CartesianProduct in plan")
    # global window: Window renders its bracket groups as
    #   partitioned + ordered:   Window [<fns>], [<keys>], [<order>]
    #   partitioned, no order:   Window [<fns>], [<keys>]
    #   UNPARTITIONED, ordered:  Window [<fns>], [<order>]
    #   fully global:            Window [<fns>]
    # so with two groups, the second is an ORDER spec (every entry
    # carries ASC/DESC) iff the window is unpartitioned.
    # ADVICE r13: check EVERY Window match (the first draft broke after
    # the first one and never saw later global windows in the same plan)
    n_global = 0
    for m in re.finditer(r"Window (\[[^\]]*\])(?:, (\[[^\]]*\]))?(?:, (\[[^\]]*\]))?", plan):
        g2, g3 = m.group(2), m.group(3)
        unpartitioned = (
            g2 is None
            or (g3 is None and re.search(r"\b(ASC|DESC)\b", g2) is not None)
        )
        if unpartitioned:
            # accept when an aggregate/limit barrier feeds it (tiny by
            # construction); plans list children AFTER the window node,
            # so look in the remainder of the plan text
            tail = plan[m.end() : m.end() + 4000]
            if not re.search(
                r"HashAggregate|SortAggregate|TakeOrderedAndProject"
                r"|CollectLimit|GlobalLimit|LocalLimit|WindowGroupLimit",
                tail,
            ):
                n_global += 1
    if n_global:
        findings.append(
            f"GLOBAL_WINDOW: {n_global} unpartitioned window(s) w/o bounded input"
        )
    # ADVICE r13: scope the aggregate test to each BNLJ's OWN subtree,
    # not the whole plan — almost every plan contains an aggregate
    # SOMEWHERE, which made the old whole-plan test accept nearly any
    # BNLJ. r15: the subtree is walked by TREE DEPTH, not a fixed
    # 15-line window — the accepted broadcast-scalar-total pattern can
    # legally print its 1-row aggregate arbitrarily far below the join
    # node when the STREAM side is deep (ngram_lm_score's three-join
    # probe side pushed the n_total aggregate past the old window and
    # manufactured a finding). Specifically: only the BUILD side (the
    # join's LAST child subtree) must contain the bounding aggregate —
    # an aggregate on the stream side never bounds the broadcast.
    lines = plan.split("\n")

    def _depth(s: str) -> int:
        # length of the tree-glyph prefix (spaces, ':', '+', '-') —
        # NOT the '*(n)' codegen tag, which follows the glyphs and
        # varies in width between siblings
        return len(re.match(r"^[ :+\-]*", s).group(0))

    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        d = _depth(line)
        subtree_end = i + 1
        while subtree_end < len(lines) and _depth(lines[subtree_end]) > d:
            subtree_end += 1
        kids = lines[i + 1 : subtree_end]
        if kids:
            # real treeString output: children are indented below the
            # node; the BUILD side (BuildLeft → first child subtree,
            # BuildRight → last) is where the bounding aggregate must
            # live — a stream-side aggregate never bounds the broadcast
            child_d = min(_depth(x) for x in kids)
            roots = [j for j, x in enumerate(kids) if _depth(x) == child_d]
            if "BuildLeft" in line and len(roots) > 1:
                build = "\n".join(kids[roots[0] : roots[1]])
            elif "BuildLeft" in line:
                # one detected root (collapsed or log-extracted child
                # text): the first child subtree is everything above
                # that root, or the whole block when the root leads —
                # never the last root's subtree, the stream side
                build = "\n".join(kids[: roots[0]] or kids)
            else:
                build = "\n".join(kids[roots[-1] :])
        else:
            # flat (synthetic/log-extract) plan text: keep the r13
            # nearby-window semantics
            build = "\n".join(lines[i + 1 : i + 16])
        if not re.search(r"HashAggregate|SortAggregate", build):
            findings.append(
                "CARTESIAN: BNLJ without an aggregate-bounded side"
            )
            break
    return findings


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    bad = 0
    total = 0
    for name, fn in E.queries().items():
        total += 1
        try:
            plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 - audit must report, not die
            bad += 1
            print(f"ERROR     {name}: {str(exc)[:100]}")
            continue
        for f in audit_plan(plan):
            bad += 1
            print(f"FLAG      {name}: {f}")
    print(f"\nplan audit: {total} queries, {bad} findings")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
