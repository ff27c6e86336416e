"""Local warm-lap measurement harness for the r14 optimization round.

bench.py's driver contract records the COLD lap when the host is slow
enough that the cold lap blows the 300 s warm-lap budget (this round's
sandbox runs ~3.7x slower than the rounds-4..13 reference hosts, so
that is the path it takes here). Optimization work needs stable warm
numbers and subset runs, so this harness does exactly bench.py's
methodology — same warmup, lap 1 warms, lap 2 recorded, timing = plan
build + execution + collect — without the stdout-contract machinery.

Usage:
  python tools/lap_local.py out.json                # all queries
  python tools/lap_local.py out.json q1 q2 ...      # subset, 3 warm laps
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as E
    from data_pengadaan_agent_spark.session import get_spark
    from data_pengadaan_agent_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    spark = get_spark("lap_local")
    load_table(spark, sf_dir, "lineitem").count()
    load_table(spark, sf_dir, "orders").groupBy(
        F.date_format("o_orderdate", "yyyy-MM")
    ).count().collect()
    spark.range(8).mapInPandas(lambda it: it, schema="id long").count()

    qs = E.queries()
    if names:
        qs = {n: qs[n] for n in names}
    laps = 3 if names else 2

    records: dict[str, list[float]] = {n: [] for n in qs}
    for lap_i in range(laps):
        for name, fn in qs.items():
            spark.sparkContext.setJobDescription(f"lap{lap_i}:{name}")
            t0 = time.time()
            try:
                len(fn(spark, sf_dir).collect())
                records[name].append(round(time.time() - t0, 3))
            except Exception as e:
                records[name].append(-1.0)
                print(f"# {name} FAILED: {e}", file=sys.stderr)
    # warm = median of the laps after the first
    result = {}
    for name, ts in records.items():
        warm = sorted(ts[1:])[len(ts[1:]) // 2] if len(ts) > 1 else ts[0]
        result[name] = {"cold": ts[0], "warm": warm, "all": ts}
    total_warm = round(sum(v["warm"] for v in result.values() if v["warm"] >= 0), 3)
    doc = {
        "sf_dir": sf_dir,
        "total_warm": total_warm,
        "n": len(result),
        "queries": dict(
            sorted(result.items(), key=lambda kv: -kv[1]["warm"])
        ),
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({"total_warm": total_warm, "n": len(result)}))
    spark.stop()


if __name__ == "__main__":
    main()
