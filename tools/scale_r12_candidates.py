"""Scale-lap the round-10-built r12-pool candidate (the standing
discipline: every new operator gets a measured scaling exponent
before it reaches the driver gate).

Product quantization (operators/pq), embeddings x1/x4/x16 (the
scale_daily_shard perturbed-replica fixtures — vectors stay distinct,
geometry stays organic):

  train_pq    m=4 ksub=4 iters=2 — one partial-aggregated exchange per
              update round; cost should be ~linear in the corpus
  pq_encode   one Arrow scan; ~linear
  pq_adc_topk codegen LUT select + TakeOrdered over the CODES; ~linear
              in rows but with a per-row constant ~32x smaller than a
              raw-vector scan (the compression point) — also reported:
              bytes scanned for codes vs raw embeddings

Warm pass first, then timed; exponent = log(t_hi/t1)/log(hi).
Usage: python tools/scale_r12_candidates.py        (x1/x4/x16)
       python tools/scale_r12_candidates.py x64    (x1/x16/x64 stress)
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
    e = f"{ROOT}/emb_x{k}"
    os.makedirs(e, exist_ok=True)
    q = f"{e}/embeddings.parquet"
    if not os.path.exists(q):
        _con.execute(f"""
        COPY (SELECT vec_id + r*2000 AS vec_id,
                     list_transform(embedding,
                       x -> CAST(x + 0.0003 * r AS FLOAT)) AS embedding
              FROM read_parquet('{BASE}/embeddings.parquet'),
                   (SELECT unnest(range({k})) AS r))
        TO '{q}' (FORMAT PARQUET, ROW_GROUP_SIZE 16384)""")
print("fixtures ready", flush=True)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from data_pengadaan_agent_spark.operators import pq as PQ  # noqa: E402

spark = (
    SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)


def lap(fn, warm=True):
    if warm:
        fn()
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


results: dict[str, dict[int, float]] = {
    "train": {}, "encode": {}, "adc": {}, "adc_batch8": {},
    "ivfpq_build": {}, "ivfpq_query": {}, "ivfpq_append": {},
    "ivfpq_batch8": {},
}
for k in SPANS:
    emb = spark.read.parquet(f"{ROOT}/emb_x{k}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    t_train, cb = lap(lambda: PQ.train_pq(emb, dim=64, m=4, ksub=4, iters=2))
    results["train"][k] = t_train
    codes_path = f"{ROOT}/pq_codes_x{k}"
    t_enc, _ = lap(
        lambda: PQ.pq_encode(emb, cb).write.mode("overwrite").parquet(codes_path)
    )
    results["encode"][k] = t_enc
    codes = spark.read.parquet(codes_path)
    qvec = emb.filter(emb.vec_id == 0).select("embedding").first()[0]
    t_adc, top = lap(lambda: PQ.pq_adc_topk(codes, cb, qvec, k=10).collect())
    results["adc"][k] = t_adc
    # batched ADC with a FIXED |Q|=8 across corpus sizes: one codes
    # scan for all queries, the exchange bounded by partitions*|Q|*k
    qrows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(emb.vec_id % 250 == 0).limit(8).collect()
    ]
    t_b, _ = lap(lambda: PQ.pq_adc_batch(codes, cb, qrows, k=10).collect())
    results["adc_batch8"][k] = t_b
    raw_b = sum(
        os.path.getsize(os.path.join(f"{ROOT}/emb_x{k}", f))
        for f in os.listdir(f"{ROOT}/emb_x{k}")
    )
    code_b = sum(
        os.path.getsize(os.path.join(codes_path, f))
        for f in os.listdir(codes_path)
        if f.endswith(".parquet")
    )
    print(
        f"x{k}: n={n} train={t_train:.2f}s encode={t_enc:.2f}s "
        f"adc={t_adc:.2f}s top1={top[0]['vec_id']} "
        f"codes_bytes={code_b} raw_bytes={raw_b} "
        f"compression={raw_b / max(code_b, 1):.1f}x",
        flush=True,
    )

    # IVF-PQ: build (coarse assign + residual train/encode +
    # partitioned write) and the pruned n_probe=2 query
    ivfpq_path = f"{ROOT}/ivfpq_x{k}"
    t_build0 = time.time()
    coarse, rcb = PQ.build_ivfpq_table(
        emb, ivfpq_path, dim=64, kc=4, m=4, ksub=4, iters=2
    )
    results["ivfpq_build"][k] = time.time() - t_build0
    t_q, topr = lap(
        lambda: PQ.ivfpq_adc_topk(
            spark, ivfpq_path, coarse, rcb, qvec, k=10, n_probe=2
        ).collect()
    )
    results["ivfpq_query"][k] = t_q
    # base-independence: the SAME fixed x1-derived shard appended onto
    # the x{k} base — cost must not grow with the base (frozen
    # geometry, ids anti-join on a pruned column, append-only writes)
    shard = (
        spark.read.parquet(f"{ROOT}/emb_x1/embeddings.parquet")
        .select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(0.001)).alias(
                "embedding"
            ),
        )
    )
    t0 = time.time()
    n_app = PQ.append_ivfpq_table(shard, ivfpq_path)
    results["ivfpq_append"][k] = time.time() - t0
    # batched pruned ADC, same FIXED |Q|=8: the union of the queries'
    # probed lists is the only scan — cost tracks the probed share of
    # the corpus, and the 8 queries share that one scan
    t_ib, _ = lap(
        lambda: PQ.ivfpq_adc_batch(
            spark, ivfpq_path, coarse, rcb, qrows, k=10, n_probe=2
        ).collect()
    )
    results["ivfpq_batch8"][k] = t_ib
    print(
        f"x{k}: ivfpq build={results['ivfpq_build'][k]:.2f}s "
        f"query={t_q:.2f}s top1={topr[0]['vec_id']} "
        f"append({n_app})={results['ivfpq_append'][k]:.2f}s "
        f"batch8={t_ib:.2f}s",
        flush=True,
    )

hi = SPANS[-1]
for name, r in results.items():
    exp = math.log(r[hi] / r[1]) / math.log(hi)
    pts = " ".join(f"x{k}={r[k]:.2f}s" for k in SPANS)
    print(f"{name}: {pts} exp={exp:.2f}")
