"""Count Spark jobs (and wall time) per queries() entry — the r14
optimization round's noise-free companion metric: the sandbox host's
wall-clock varies ~2x run to run, but the number of Spark jobs a query
launches is deterministic, and on tiny SFs per-job fixed cost (task
scheduling, codegen, Python round-trips) dominates the lap — so "fewer
jobs, fewer exchanges" is both the measurable and the 100 TB-relevant
objective (guide §1.2 step 1, §2.4).

Usage: python tools/job_count.py <query> [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as E
    from data_pengadaan_agent_spark.session import get_spark
    from data_pengadaan_agent_spark.sources.catalog import load_table

    spark = get_spark("job_count")
    sc = spark.sparkContext
    load_table(spark, sf_dir, "lineitem").count()
    spark.range(8).mapInPandas(lambda it: it, schema="id long").count()

    tracker = sc.statusTracker()

    def last_job_id() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    qs = E.queries()
    out = {}
    for name in names:
        fn = qs[name]
        # warm lap first so JIT/codegen noise doesn't inflate the timing;
        # job counts are taken from the SECOND (warm) execution.
        fn(spark, sf_dir).collect()
        j0, t0 = last_job_id(), time.time()
        len(fn(spark, sf_dir).collect())
        dt = round(time.time() - t0, 3)
        j1 = last_job_id()
        out[name] = {"jobs": j1 - j0, "warm_sec": dt}
        print(f"{name}: jobs={j1 - j0} warm={dt}s", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
