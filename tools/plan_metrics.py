"""Per-query physical-plan shape metrics — the r14 optimization
round's plan-diff companion to tools/job_count.py. Wall-clock on this
round's sandbox varies ~2x run to run, but the executed plan is
deterministic, so scan/exchange/sort/join-node counts are the honest
before/after evidence for "fewer passes, fewer shuffles" claims
(guide §1.2 step 1, §2.4, §7.2).

Counts are taken from the FINAL (AQE-resolved) plan after one
execution, like tools/dump_plans.py.

Usage: python tools/plan_metrics.py out.json <query> [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def metrics(plan: str) -> dict:
    return {
        "scans": plan.count("Scan parquet") + plan.count("Scan text"),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "reused_exchanges": plan.count("ReusedExchange"),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "arrow_evals": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "batch_eval_python": plan.count("BatchEvalPython"),
        "aqe_reads": plan.count("AQEShuffleRead"),
    }


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    import __spark_entry__ as E
    from data_pengadaan_agent_spark.session import get_spark

    spark = get_spark("plan_metrics")
    qs = E.queries()
    out = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"plan_metrics:{name}")
        df = fn(spark, sf)
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out[name] = metrics(plan)
        print(f"{name}: {out[name]}", file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"n": len(out)}))
    spark.stop()


if __name__ == "__main__":
    main()
