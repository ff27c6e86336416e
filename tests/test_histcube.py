"""Histogram cube: exact-integer merge laws (bin counts add), the
quantile-bin contract (the reported bin CONTAINS the exact quantile),
clamped edge bins, registry-gated appends, and geometry freezing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import histcube as HC


def _vals(spark, n=1000):
    # deterministic skewed values in [0, 100): quadratic ramp
    rows = [
        (i, "a" if i % 3 else "b", ((i * i) % 10_000) / 100.0) for i in range(n)
    ]
    rows += [(n + 1, "a", None)]
    return spark.createDataFrame(rows, "id LONG, g STRING, v DOUBLE")


def test_bin_counts_match_direct_bucketing(spark, tmp_path):
    df = _vals(spark)
    path = str(tmp_path / "hc")
    HC.build_hist_cube(df, path, dims=["g"], value_col="v", lo=0.0, hi=100.0, n_bins=20)
    got = {
        (r["g"], r["bin"]): r["cnt"]
        for r in HC.hist_rollup(spark, path, ["g"]).collect()
    }
    want = {
        (r["g"], r["bin"]): r["c"]
        for r in df.filter(F.col("v").isNotNull())
        .withColumn("bin", HC.bin_col("v", 0.0, 100.0, 20))
        .groupBy("g", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    }
    assert got == want
    # global rollup sums the groups exactly
    tot = {
        r["bin"]: r["cnt"] for r in HC.hist_rollup(spark, path).collect()
    }
    for b in tot:
        assert tot[b] == sum(c for (g, bb), c in got.items() if bb == b)


def test_quantile_bin_contains_exact_quantile(spark, tmp_path):
    """The defining contract: for every group and q, the exact q-th
    value (nearest-rank definition: smallest x with rank·1e6 >= q·n)
    falls inside [bin_lo, bin_hi) of the reported bin."""
    df = _vals(spark)
    path = str(tmp_path / "hc")
    HC.build_hist_cube(df, path, dims=["g"], value_col="v", lo=0.0, hi=100.0, n_bins=20)
    qs = [100_000, 500_000, 900_000, 1_000_000]
    got = {
        (r["g"], r["q_ppm"]): (r["bin"], r["bin_lo"], r["bin_hi"])
        for r in HC.hist_quantile_bins(spark, path, ["g"], qs).collect()
    }
    rows = df.filter(F.col("v").isNotNull()).collect()
    for g in ("a", "b"):
        vals = sorted(r["v"] for r in rows if r["g"] == g)
        n = len(vals)
        for q in qs:
            rank = -(-q * n // 1_000_000)  # ceil(q*n/1e6), nearest-rank
            exact = vals[rank - 1]
            b, blo, bhi = got[(g, q)]
            assert blo <= exact < bhi or (b == 19 and exact >= blo), (
                g, q, exact, blo, bhi
            )


def test_out_of_range_clamps_to_edge_bins(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", -50.0), (2, "a", 999.0), (3, "a", 5.0)],
        "id LONG, g STRING, v DOUBLE",
    )
    path = str(tmp_path / "hc")
    HC.build_hist_cube(df, path, dims=["g"], value_col="v", lo=0.0, hi=10.0, n_bins=10)
    got = {r["bin"]: r["cnt"] for r in HC.hist_rollup(spark, path, ["g"]).collect()}
    assert got == {0: 1, 9: 1, 5: 1}  # -50 -> bin 0, 999 -> bin 9, 5 -> bin 5


def test_append_registry_gated_and_composes(spark, tmp_path):
    df = _vals(spark, n=600)
    shard = spark.createDataFrame(
        [(10_000 + i, "b", float(i % 100)) for i in range(200)],
        "id LONG, g STRING, v DOUBLE",
    )
    path, full = str(tmp_path / "hc"), str(tmp_path / "full")
    HC.build_hist_cube(df, path, dims=["g"], value_col="v", lo=0.0, hi=100.0, n_bins=20)
    assert HC.append_hist_cube(shard, path, "day1") > 0
    assert HC.append_hist_cube(shard, path, "day1") == 0  # replay no-op
    HC.build_hist_cube(
        df.unionByName(shard), full, dims=["g"], value_col="v", lo=0.0, hi=100.0,
        n_bins=20,
    )
    for gb in (["g"], None):
        a = {tuple(r) for r in HC.hist_rollup(spark, path, gb).collect()}
        b = {tuple(r) for r in HC.hist_rollup(spark, full, gb).collect()}
        assert a == b
    qa = [tuple(r) for r in HC.hist_quantile_bins(spark, path, ["g"], [500_000]).collect()]
    qb = [tuple(r) for r in HC.hist_quantile_bins(spark, full, ["g"], [500_000]).collect()]
    assert qa == qb
    with pytest.raises(ValueError, match="batch_id"):
        HC.append_hist_cube(shard, path, "")
    with pytest.raises(ValueError, match="batch_id"):
        HC.append_hist_cube(shard, path, "__build__")


def test_validation_and_meta_contract(spark, tmp_path):
    df = _vals(spark, n=50)
    path = str(tmp_path / "hc")
    with pytest.raises(ValueError, match="at least one dim"):
        HC.build_hist_cube(df, path, dims=[], value_col="v", lo=0.0, hi=1.0)
    with pytest.raises(ValueError, match="lo < hi"):
        HC.build_hist_cube(df, path, dims=["g"], value_col="v", lo=1.0, hi=1.0)
    with pytest.raises(ValueError, match="n_bins"):
        HC.build_hist_cube(df, path, dims=["g"], value_col="v", lo=0.0, hi=1.0, n_bins=1)
    HC.build_hist_cube(df, path, dims=["g"], value_col="v", lo=0.0, hi=100.0)
    with pytest.raises(ValueError, match="not in cube dims"):
        HC.hist_rollup(spark, path, ["nope"])
    with pytest.raises(ValueError, match="q_ppm"):
        HC.hist_quantile_bins(spark, path, ["g"], [0])
    import shutil

    shutil.rmtree(f"{path}/meta")
    with pytest.raises(ValueError, match="no readable meta"):
        HC.hist_rollup(spark, path)


@pytest.mark.slow
def test_streaming_hist_cube_sink_counts_equal_batch(spark, tmp_path):
    """The eighth streaming form: file-per-trigger ingest gives bin
    counts and quantile bins identical to a from-scratch build over
    everything — exactly-once via the epoch-id batch registry."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from data_pengadaan_agent_spark.streaming import windows as SW

    base = _vals(spark, n=300)
    path, full = str(tmp_path / "hc"), str(tmp_path / "full")
    HC.build_hist_cube(base, path, dims=["g"], value_col="v", lo=0.0, hi=100.0, n_bins=20)

    src = str(tmp_path / "src")
    os.makedirs(src)
    shards = [
        [(5_000 + i, "a", float((7 * i) % 100)) for i in range(40)],
        [(6_000 + i, "b", float((13 * i) % 100)) for i in range(60)],
    ]
    for n, (rows, mtime) in enumerate(zip(shards, (1_700_000_000, 1_700_000_100))):
        tbl = pa.table({
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "g": pa.array([r[1] for r in rows], pa.string()),
            "v": pa.array([r[2] for r in rows], pa.float64()),
        })
        p = os.path.join(src, f"f{n}.parquet")
        papq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    stream = (
        spark.readStream.schema("id long, g string, v double")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = SW.foreach_batch_cube_sink(
        stream, str(tmp_path / "ckpt"),
        lambda b, e: HC.append_hist_cube(b, path, f"epoch_{e}"),
    )
    q.processAllAvailable()
    q.stop()

    everything = base.unionByName(
        spark.createDataFrame(
            [r for rows in shards for r in rows], "id LONG, g STRING, v DOUBLE"
        )
    )
    HC.build_hist_cube(everything, full, dims=["g"], value_col="v", lo=0.0, hi=100.0, n_bins=20)
    for gb in (["g"], None):
        a = {tuple(r) for r in HC.hist_rollup(spark, path, gb).collect()}
        b = {tuple(r) for r in HC.hist_rollup(spark, full, gb).collect()}
        assert a == b
    qa = [tuple(r) for r in HC.hist_quantile_bins(spark, path, ["g"], [500_000, 990_000]).collect()]
    qb = [tuple(r) for r in HC.hist_quantile_bins(spark, full, ["g"], [500_000, 990_000]).collect()]
    assert qa == qb and len(qa) == 4


def test_nan_values_do_not_pollute_bin_zero(spark, tmp_path):
    """Self-review r12: floor(NaN) casts to 0 in Spark, so NaN mass
    silently landed in bin 0 and corrupted every low quantile — NaN
    now drops like NULL at the cube boundary."""
    import data_pengadaan_agent_spark.operators.histcube as H

    rows = [("g", float("nan"))] * 3 + [("g", 10.0)]
    df = spark.createDataFrame(rows, "d STRING, v DOUBLE")
    path = str(tmp_path / "nancube")
    H.build_hist_cube(df, path, dims=["d"], value_col="v", lo=0.0, hi=100.0,
                      n_bins=64)
    cube = spark.read.parquet(f"{path}/cube").collect()
    assert {(r.bin, r.cnt) for r in cube} == {(6, 1)}  # only the real 10.0


def test_quantile_comparison_survives_near_max_bigint_counts(spark, tmp_path):
    """100 TB headroom (self-review r14): the quantile test multiplies
    cum_cnt by 10^6 and q_ppm by total — as plain bigints those ANSI-
    throw once a group passes ~9.2e12 rows. The comparison is now
    DECIMAL(38,0); fabricated cube rows with ~4.6e18 counts per bin
    must still answer, and with equal mass in bins 3 and 11 the median
    bin is 3."""
    df = spark.createDataFrame([(1, "a", 1.0)], "id LONG, g STRING, v DOUBLE")
    path = str(tmp_path / "hc_big")
    HC.build_hist_cube(df, path, dims=["g"], value_col="v", lo=0.0, hi=16.0, n_bins=16)
    big = 4_600_000_000_000_000_000  # 4.6e18; two bins sum inside int64
    spark.createDataFrame(
        [("a", 3, big), ("a", 11, big)], "g STRING, bin INT, cnt LONG"
    ).write.mode("overwrite").parquet(HC._paths(path)[0])
    rows = HC.hist_quantile_bins(
        spark, path, ["g"], q_ppm=[500_000, 1_000_000]
    ).collect()
    got = {r["q_ppm"]: (r["bin"], r["total"]) for r in rows}
    assert got == {500_000: (3, 2 * big), 1_000_000: (11, 2 * big)}
