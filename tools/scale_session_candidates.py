"""Scale-lap the round-11-continuation candidates (standing
discipline: every new operator gets a measured scaling exponent
before it reaches the driver gate).

- trgm index (operators/trgm): build per span; substring_search with a
  DENSE pattern ('window' — matches grow linearly, honest
  linear-output case) and a SELECTIVE one ('spark window dup' — the
  pruned case); trgm_similar full-threshold scan; append on the BASE
  axis (same 2k-doc shard onto the x1 vs x16 index — the
  base-independence contract).
- fuzzy_dup_pairs (operators/fuzzy): 24-char name corpus + planted
  1-substitution variants, growing with the span — candidates and
  output both ~linear if the pigeonhole blocking holds (the thing the
  lap certifies; all-pairs would be quadratic and unmistakable).
- weighted_sample (operators/sampling): one scan + TakeOrdered(n) —
  expect ~flat wall clock (startup-dominated) with linear scan bytes.

Fixtures: the scale_r11 mutated-replica documents (reused/idempotent).
Warm pass first, then timed; exponent = log(t_hi/t1)/log(hi).
Usage: python tools/scale_session_candidates.py        (x1/x4/x16)
       python tools/scale_session_candidates.py x64    (x1/x16/x64)
"""

import math
import os
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
    p = f"{d}/documents.parquet"
    if not os.path.exists(p):
        _con.execute(f"""
        COPY (SELECT doc_id + r*5000 AS doc_id,
                     array_to_string(list_transform(string_split(text, ' '),
                       t -> t || substr(md5(t || CAST(r AS VARCHAR)), 1, 1)), ' ') AS text,
                     lang, source, n_chars
              FROM read_parquet('{BASE}/documents.parquet'),
                   (SELECT unnest(range({k})) AS r))
        TO '{p}' (FORMAT PARQUET, ROW_GROUP_SIZE 16384)""")
print("fixtures ready", flush=True)

from pyspark.sql import functions as F  # noqa: E402

from data_pengadaan_agent_spark.operators import fuzzy as FZ  # noqa: E402
from data_pengadaan_agent_spark.operators import sampling as SA  # noqa: E402
from data_pengadaan_agent_spark.operators import trgm as TG  # noqa: E402
from data_pengadaan_agent_spark.session import get_spark  # noqa: E402

spark = get_spark("scale-session")
spark.range(8).mapInPandas(lambda it: it, schema="id long").count()

docs = {k: spark.read.parquet(f"{ROOT}/docs_x{k}/documents.parquet") for k in SPANS}


def _names(k):
    base = docs[k].filter(F.col("doc_id") % 8 == 0).select(
        "doc_id", F.expr("substring(lower(text), 1, 24)").alias("nm")
    )
    variant = base.select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"),
        F.concat(
            F.expr("substring(nm, 1, 4)"), F.lit("q"), F.expr("substring(nm, 6)")
        ).alias("nm"),
    )
    return base.unionByName(variant)


IDX = {k: f"{ROOT}/trgm_x{k}" for k in SPANS}

# --- per-span: build, dense search, selective search, similar ---
import shutil  # noqa: E402

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


def _build(k):
    shutil.rmtree(IDX[k], ignore_errors=True)
    TG.build_trgm_index(docs[k], IDX[k], n_buckets=64)
    return k


lap("trgm_build", _build, warm=False)
lap(
    "trgm_search_dense",
    lambda k: TG.substring_search(spark, IDX[k], docs[k], ["window"]).count(),
)
lap(
    "trgm_search_selective",
    lambda k: TG.substring_search(
        spark, IDX[k], docs[k], ["spark window dup"]
    ).count(),
)
lap(
    "trgm_similar",
    lambda k: TG.trgm_similar(
        spark, IDX[k], "the fast key order sort table scan merge", 250_000
    ).count(),
)

# --- append on the BASE axis: same shard onto x1 vs top base ---
top = SPANS[-1]
shard = (
    docs[1]
    .filter(F.col("doc_id") % 40 == 0)
    .select((F.col("doc_id") + 900_000_000).alias("doc_id"), "text")
    .localCheckpoint(eager=True)
)
for k in (1, top):
    t0 = time.time()
    n = TG.append_trgm_index(shard, IDX[k])
    print(f"trgm_append onto x{k} base: {time.time() - t0:.2f} s ({n} docs)",
          flush=True)

lap("fuzzy_dup_pairs", lambda k: FZ.fuzzy_dup_pairs(
    _names(k), max_dist=1, text_col="nm", id_col="doc_id").count())
lap("weighted_sample", lambda k: SA.weighted_sample(
    docs[k], "n_chars", 1000).count())

# --- heavy hitters: token frequencies, the high-cardinality shape ---
from data_pengadaan_agent_spark.operators import heavy as HH  # noqa: E402
from data_pengadaan_agent_spark.operators import textan as X  # noqa: E402

# the mutated-replica fixture is ideal here: each replica suffixes
# every token with a hash char, so the vocabulary GROWS ~linearly with
# the span (x64 ≈ 2.5k distinct/replica) while the planted base tokens
# stay globally heavy — real pruning pressure at capacity 1024
lap("heavy_hitters", lambda k: HH.heavy_hitters(
    docs[k].select(F.explode(X.tokens("text")).alias("v")),
    "v", k=10, capacity=1024).count())

# --- sketch cube: build per span; rollup reads cube rows only ---
from data_pengadaan_agent_spark.operators import sketchcube as SC  # noqa: E402

CUBE = {k: f"{ROOT}/cube_x{k}" for k in SPANS}


def _cube_build(k):
    shutil.rmtree(CUBE[k], ignore_errors=True)
    SC.build_distinct_cube(
        docs[k].select("doc_id", "lang", "source"),
        CUBE[k], dims=["lang", "source"], key_col="doc_id",
    )
    return k


lap("cube_build", _cube_build, warm=False)
lap("cube_rollup", lambda k: SC.distinct_rollup(spark, CUBE[k], ["lang"]).count())

# --- histogram cube: build per span; quantile rollup reads cube rows ---
from data_pengadaan_agent_spark.operators import histcube as HC  # noqa: E402

HCUBE = {k: f"{ROOT}/hcube_x{k}" for k in SPANS}


def _hcube_build(k):
    shutil.rmtree(HCUBE[k], ignore_errors=True)
    HC.build_hist_cube(
        docs[k].select("doc_id", "lang", "n_chars"),
        HCUBE[k], dims=["lang"], value_col="n_chars", lo=0.0, hi=600.0, n_bins=60,
    )
    return k


lap("hcube_build", _hcube_build, warm=False)
lap(
    "hcube_quantiles",
    lambda k: HC.hist_quantile_bins(
        spark, HCUBE[k], ["lang"], [500_000, 990_000]
    ).count(),
)

# --- distributed pareto front ---
from data_pengadaan_agent_spark.operators import relational as R  # noqa: E402

lap(
    "skyline_2d",
    lambda k: R.skyline_2d(
        docs[k].select(
            F.col("n_chars").cast("double").alias("x"),
            F.length("text").cast("bigint").alias("y"),
            "doc_id",
        ),
        "x", "y",
    ).count(),
)

# --- exact OLS trend: one partial-aggregated exchange ---
from data_pengadaan_agent_spark.operators import aggregates as AG  # noqa: E402

lap(
    "group_trend",
    lambda k: AG.group_trend(
        docs[k].select(
            "lang",
            (F.col("doc_id") % 10000).alias("x"),
            F.col("n_chars").alias("y"),
        ),
        "lang", "x", "y",
    ).count(),
)

print({n: v for n, v in res.items()}, flush=True)
spark.stop()
