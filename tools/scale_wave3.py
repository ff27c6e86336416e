"""Scale-lap the third wave of continuation-2 ops: KMV cube (build /
cube-only estimate / overlap), zonemap (executor footer sweep + pruned
scan), incremental components (merge onto growing bases — the
base-independence axis).

Fixtures: the shared /tmp/spark_graft_scale replicas (lineitem with
shifted order+part keys per replica). Warm pass first, then timed;
exponent = log(t_hi/t1)/log(hi).
Usage: python tools/scale_wave3.py        (x1/x4/x16)
       python tools/scale_wave3.py x64    (x1/x16/x64)
"""

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = "/tmp/spark_graft_scale"
BASE = "/root/testdata/sf0.1"

import duckdb

X64 = len(sys.argv) > 1 and sys.argv[1] == "x64"
SPANS = (1, 16, 64) if X64 else (1, 4, 16)

_con = duckdb.connect()
for k in SPANS:
    d = f"{ROOT}/docs_x{k}"
    os.makedirs(d, exist_ok=True)
    lp = f"{d}/lineitem.parquet"
    if not os.path.exists(lp):
        _con.execute(f"""
        COPY (SELECT l_orderkey + r*1000000 AS l_orderkey,
                     l_partkey + r*1000000 AS l_partkey,
                     l_suppkey, l_quantity, l_extendedprice, l_discount,
                     l_returnflag, l_linestatus
              FROM read_parquet('{BASE}/lineitem.parquet'),
                   (SELECT unnest(range({k})) AS r))
        TO '{lp}' (FORMAT PARQUET, ROW_GROUP_SIZE 65536)""")
print("fixtures ready", flush=True)

from pyspark.sql import functions as F  # noqa: E402

from data_pengadaan_agent_spark.operators import graph as G  # noqa: E402
from data_pengadaan_agent_spark.operators import kmv as KV  # noqa: E402
from data_pengadaan_agent_spark.operators import zonemap as ZM  # noqa: E402
from data_pengadaan_agent_spark.session import get_spark  # noqa: E402

spark = get_spark("scale-wave3")
spark.range(8).mapInPandas(lambda it: it, schema="id long").count()

line = {k: spark.read.parquet(f"{ROOT}/docs_x{k}/lineitem.parquet") for k in SPANS}

res = {}


def lap(name, fn, spans=SPANS, warm=True):
    if warm:
        fn(1)
    times = {}
    for k in spans:
        t0 = time.time()
        n = fn(k)
        times[k] = time.time() - t0
        print(f"{name} x{k}: {times[k]:.2f} s  ({n} rows)", flush=True)
    top, bot = spans[-1], spans[0]
    exp = math.log(times[top] / times[bot]) / math.log(top / bot)
    res[name] = (times, round(exp, 2))
    print(f"{name} exponent x{bot}->x{top}: {exp:.2f}", flush=True)


KIDX = {k: f"{ROOT}/kmv_x{k}" for k in SPANS}


def _kmv_build(k):
    shutil.rmtree(KIDX[k], ignore_errors=True)
    KV.build_kmv_cube(
        line[k], KIDX[k], dims=["l_returnflag", "l_linestatus"],
        key_col="l_partkey", k=64,
    )
    return k


lap("kmv_build", _kmv_build, warm=False)
lap(
    "kmv_distinct",
    lambda k: KV.kmv_distinct(spark, KIDX[k], ["l_returnflag", "l_linestatus"]).count(),
)
lap(
    "kmv_overlap",
    lambda k: KV.kmv_overlap(spark, KIDX[k], "l_returnflag", "A", "N").count(),
)

ZD = {k: f"{ROOT}/zm_data_x{k}" for k in SPANS}
ZI = {k: f"{ROOT}/zm_idx_x{k}" for k in SPANS}
for k in SPANS:
    if not os.path.exists(ZD[k]):
        line[k].repartitionByRange(8 * k, "l_extendedprice").write.parquet(ZD[k])


def _zm_build(k):
    shutil.rmtree(ZI[k], ignore_errors=True)
    return ZM.build_zonemap(spark, ZD[k], ZI[k], ["l_extendedprice"])


lap("zm_build", _zm_build, warm=False)
lap(
    "zm_scan",
    lambda k: ZM.zonemap_pruned_scan(
        spark, ZD[k], ZI[k], {"l_extendedprice": (90000.0, 95000.0)}
    ).count(),
)

# incremental components on the BASE axis: the same x1 edge batch
# merged into singleton labelings of growing vertex populations
edges_x1 = G.copurchase_edges(line[1], min_co=2).localCheckpoint(eager=True)
for k in (1, SPANS[-1]):
    labels = (
        line[k].select(F.col("l_partkey").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    t0 = time.time()
    n = G.merge_components(labels, edges_x1).count()
    print(f"merge_components onto x{k} base: {time.time() - t0:.2f} s "
          f"({n} labeled)", flush=True)


print()
for name, (times, exp) in res.items():
    print(f"{name:14s} exp={exp:+.2f}  " +
          "  ".join(f"x{k}:{t:.2f}s" for k, t in times.items()))
