"""Capture `.explain("formatted")` output for named queries() entries
to files — the r14 optimization round's evidence artifacts
(plans/r14/<query>_{before,after}.txt).

Usage: python tools/explain_to_file.py <outdir> <suffix> <query> [query ...]
       python tools/explain_to_file.py plans/r14 before graph_triangles bloom_new_rows

The plan is captured AFTER executing the query once (noop-style: the
DataFrame the entry returns is collected), so AQE's final plan is what
lands in the file — matching how PLANS.md is generated.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as E
    from data_pengadaan_agent_spark.session import get_spark

    spark = get_spark("explain_to_file")
    qs = E.queries()
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"explain:{name}")
        df = fn(spark, sf)
        df.collect()  # resolve AQE's final plan
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain(formatted), executed at {sf}\n")
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
