"""KMV cube: coupon-mode exactness, the estimator formula, the set
algebra (append replay absorbed, rollup == union rebuild bit-for-bit,
compaction invariance), accuracy within the design bound, and the
streaming form's parity with the batch path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import kmv as K
from data_pengadaan_agent_spark.operators.sampling import _KNUTH, _M31, _M32


def _frame(spark, rows):
    return spark.createDataFrame(rows, "g STRING, key LONG")


def _py_hash(x):
    return (x % _M31) * _KNUTH % _M32


def test_coupon_mode_is_exact(spark, tmp_path):
    path = str(tmp_path / "kmv")
    rows = [("a", i) for i in range(40)] + [("b", i) for i in range(10)]
    K.build_kmv_cube(_frame(spark, rows), path, dims=["g"], key_col="key", k=64)
    got = {r.g: (r.n_samples, r.est_distinct)
           for r in K.kmv_distinct(spark, path, ["g"]).collect()}
    assert got == {"a": (40, 40), "b": (10, 10)}


def test_estimator_formula_and_accuracy(spark, tmp_path):
    path = str(tmp_path / "kmv")
    n = 5000
    rows = [("a", i) for i in range(n)]
    K.build_kmv_cube(_frame(spark, rows), path, dims=["g"], key_col="key", k=64)
    r = K.kmv_distinct(spark, path, ["g"]).collect()[0]
    assert r.n_samples == 64
    hk = sorted(_py_hash(i) for i in range(n))[63]
    assert r.est_distinct == 63 * (1 << 32) // hk
    # within the ~1/sqrt(k-2) design band (generous 3x)
    assert abs(r.est_distinct - n) / n < 3 / (62 ** 0.5)


def test_append_replay_and_rollup_merge_law(spark, tmp_path):
    path = str(tmp_path / "kmv")
    a = [("a", i) for i in range(2000)]
    b = [("b", i + 1500) for i in range(2000)]
    K.build_kmv_cube(_frame(spark, a), path, dims=["g"], key_col="key", k=64)
    K.append_kmv_cube(_frame(spark, b), path)
    state1 = sorted(map(tuple, K.kmv_state(spark, path, ["g"]).drop("_r").collect()))
    K.append_kmv_cube(_frame(spark, b), path)  # full replay
    assert sorted(map(tuple, K.kmv_state(spark, path, ["g"]).drop("_r").collect())) == state1
    # rollup == rebuild with one global dim (exact set identity)
    direct = str(tmp_path / "kmv_all")
    K.build_kmv_cube(
        _frame(spark, a + b).withColumn("g", F.lit("all")),
        direct, dims=["g"], key_col="key", k=64,
    )
    rolled = sorted(r.hv for r in K.kmv_state(spark, path, []).collect())
    rebuilt = sorted(r.hv for r in K.kmv_state(spark, direct, ["g"]).collect())
    assert rolled == rebuilt
    # the global estimate covers the union (3500 distinct keys)
    est = K.kmv_distinct(spark, path, []).collect()[0].est_distinct
    assert abs(est - 3500) / 3500 < 3 / (62 ** 0.5)


def test_compaction_is_state_identical(spark, tmp_path):
    path = str(tmp_path / "kmv")
    K.build_kmv_cube(
        _frame(spark, [("a", i) for i in range(500)]), path,
        dims=["g"], key_col="key", k=32,
    )
    for s in range(3):
        K.append_kmv_cube(_frame(spark, [("a", i + 400 * s) for i in range(500)]), path)
    before = sorted(map(tuple, K.kmv_state(spark, path, ["g"]).drop("_r").collect()))
    n = K.compact_kmv_cube(spark, path)
    after = sorted(map(tuple, K.kmv_state(spark, path, ["g"]).drop("_r").collect()))
    assert before == after
    raw = spark.read.parquet(f"{path}/samples")
    assert raw.count() == n <= 32
    assert K._read_meta(spark, path) == (["g"], "key", 32)


def test_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="no readable meta"):
        K.kmv_distinct(spark, str(tmp_path / "nope"), [])
    with pytest.raises(ValueError, match="at least one dim"):
        K.build_kmv_cube(_frame(spark, [("a", 1)]), str(tmp_path / "x"),
                         dims=[], key_col="key")
    path = str(tmp_path / "ok")
    K.build_kmv_cube(_frame(spark, [("a", 1)]), path, dims=["g"], key_col="key")
    with pytest.raises(ValueError, match="not in cube dims"):
        K.kmv_state(spark, path, ["nope"])


def test_streaming_kmv_sink_parity(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as papq

    from data_pengadaan_agent_spark.streaming import windows as SW

    streamed, batched = str(tmp_path / "s"), str(tmp_path / "b")
    seed = _frame(spark, [("a", i) for i in range(100)])
    K.build_kmv_cube(seed, streamed, dims=["g"], key_col="key", k=16)
    K.build_kmv_cube(seed, batched, dims=["g"], key_col="key", k=16)

    src = str(tmp_path / "src")
    os.makedirs(src)
    shard1 = [("a", 200 + i) for i in range(50)]
    shard2 = [("b", 300 + i) for i in range(50)] + shard1[:10]  # replayed keys

    def write_file(name, rows, mtime):
        p = os.path.join(src, name)
        papq.write_table(
            pa.table({
                "g": pa.array([g for g, _ in rows]),
                "key": pa.array([x for _, x in rows], pa.int64()),
            }),
            p,
        )
        os.utime(p, (mtime, mtime))

    write_file("f1.parquet", shard1, 1_700_000_000)
    write_file("f2.parquet", shard2, 1_700_000_100)
    stream = (
        spark.readStream.schema("g string, key long")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = SW.foreach_batch_cube_sink(
        stream, str(tmp_path / "ckpt"), lambda b, _: K.append_kmv_cube(b, streamed)
    )
    q.processAllAvailable()
    q.stop()

    K.append_kmv_cube(_frame(spark, shard1), batched)
    K.append_kmv_cube(_frame(spark, shard2), batched)
    a = sorted(map(tuple, K.kmv_state(spark, streamed, ["g"]).drop("_r").collect()))
    b = sorted(map(tuple, K.kmv_state(spark, batched, ["g"]).drop("_r").collect()))
    assert a == b
    est = {r.g: r.est_distinct for r in K.kmv_distinct(spark, streamed, ["g"]).collect()}
    assert est["b"] == 50  # coupon-exact for the new group


def test_overlap_coupon_exact_and_estimates(spark, tmp_path):
    """Two groups, union below k: shared / jaccard / union are EXACT.
    Then a capacity-mode sanity band on bigger disjoint+overlap sets."""
    path = str(tmp_path / "kmv_ov")
    rows = [("A", i) for i in range(30)] + [("B", i + 20) for i in range(30)]
    K.build_kmv_cube(_frame(spark, rows), path, dims=["g"], key_col="key", k=64)
    r = K.kmv_overlap(spark, path, "g", "A", "B").collect()[0]
    # |A|=30, |B|=30, |A∩B|=10, |A∪B|=50 — all under k: exact
    assert (r.n_union_samples, r.shared, r.est_union, r.est_intersection) == (
        50, 10, 50, 10,
    )
    assert r.jaccard_ppm == 10 * 1_000_000 // 50

    big = str(tmp_path / "kmv_big")
    rows = [("A", i) for i in range(4000)] + [("B", i + 2000) for i in range(4000)]
    K.build_kmv_cube(_frame(spark, rows), big, dims=["g"], key_col="key", k=64)
    r = K.kmv_overlap(spark, big, "g", "A", "B").collect()[0]
    # true: union 6000, intersection 2000, jaccard 1/3
    assert abs(r.est_union - 6000) / 6000 < 0.5
    assert 0 < r.jaccard_ppm < 1_000_000
    with pytest.raises(ValueError, match="not in cube dims"):
        K.kmv_overlap(spark, big, "nope", "A", "B")


def test_overlap_empty_union_is_zero_row(spark, tmp_path):
    path = str(tmp_path / "kmv_empty")
    K.build_kmv_cube(_frame(spark, [("X", 1)]), path, dims=["g"], key_col="key", k=8)
    r = K.kmv_overlap(spark, path, "g", "A", "B").collect()[0]
    assert tuple(r) == (0, 0, 0, 0, 0)


def test_build_rejects_non_integral_key(spark, tmp_path):
    """Self-review r12: split_hash_col hashes via cast('long') — a
    string key would cast to NULL on ANSI-off deployments and every
    key would silently vanish from the sketch. Loud, early refusal."""
    df = spark.createDataFrame([("g", "abc")], "g STRING, k STRING")
    with pytest.raises(ValueError, match="integral"):
        K.build_kmv_cube(df, str(tmp_path / "kv"), dims=["g"], key_col="k")
