"""Scalar quantization: train → encode → symmetric integer top-k.

Determinism contract: min/max training is order-free exact; the
encode expression is ONE subtraction and ONE multiply on doubles plus
an explicit floor(x + 0.5), spelled identically on Spark, DuckDB, and
driver-side Python — cross-engine equality is structural. Scores are
exact BIGINT sums; ties rank by id.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import sq as SQ


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


FIX = [
    (0, [0.0, 10.0, -5.0, 1.0]),
    (1, [1.0, 0.0, 5.0, 1.0]),
    (2, [0.5, 5.0, 0.0, 1.0]),
    (3, [0.25, 2.5, -2.5, 1.0]),
    (4, [0.75, 7.5, 2.5, 1.0]),
]


def test_train_sq_exact_min_max_and_constant_dim(spark):
    mins, scales = SQ.train_sq(_vecs(spark, FIX), dim=4)
    assert mins == [0.0, 0.0, -5.0, 1.0]
    assert scales[0] == 255.0 / 1.0
    assert scales[1] == 255.0 / 10.0
    assert scales[2] == 255.0 / 10.0
    assert scales[3] == 0.0  # constant dimension


def test_sq_encode_matches_python_reference_and_clamps(spark):
    df = _vecs(spark, FIX)
    mins, scales = SQ.train_sq(df, dim=4)
    got = {r["vec_id"]: list(r["codes"]) for r in SQ.sq_encode(df, mins, scales).collect()}
    for vid, v in FIX:
        want = [
            max(0, min(255, int(math.floor((x - mn) * sc + 0.5))))
            for x, mn, sc in zip(v, mins, scales)
        ]
        assert got[vid] == want, (vid, got[vid], want)
    # extremes encode to the endpoints, constant dim to 0
    assert got[0] == [0, 255, 0, 0]
    # out-of-range values clamp instead of overflowing
    out = _vecs(spark, [(99, [5.0, -3.0, 100.0, 1.0])])
    codes = SQ.sq_encode(out, mins, scales).collect()[0]["codes"]
    assert list(codes) == [255, 0, 255, 0]
    assert SQ.encode_query([5.0, -3.0, 100.0, 1.0], mins, scales) == [255, 0, 255, 0]


def test_sq_topk_integer_scores_and_tie_to_lowest_id(spark):
    df = _vecs(spark, FIX + [(5, FIX[2][1])])  # 5 duplicates vec 2
    mins, scales = SQ.train_sq(df, dim=4)
    codes = SQ.sq_encode(df, mins, scales)
    q = SQ.encode_query(FIX[2][1], mins, scales)
    rows = SQ.sq_topk(codes, q, k=3).collect()
    got = [(r["rank"], r["vec_id"], r["sq_score"]) for r in rows]
    # the query IS vec 2: exact match score 0; its duplicate ties and
    # the lower id wins rank 1
    assert got[0] == (1, 2, 0) and got[1] == (2, 5, 0)
    # scores replay in numpy exactly
    cb = {r["vec_id"]: np.array(list(r["codes"]), dtype=np.int64) for r in codes.collect()}
    qa = np.array(q, dtype=np.int64)
    for _, vid, s in got:
        assert s == int(((cb[vid] - qa) ** 2).sum())


def test_sq_topk_plan_pure_codegen_no_shuffle_before_topk(spark):
    """The SQ selling point: the whole scan+score is ONE
    WholeStageCodegen over the codes with a TakeOrderedAndProject on
    top — no exchange before the top-k, no Python worker anywhere."""
    df = _vecs(spark, FIX)
    mins, scales = SQ.train_sq(df, dim=4)
    codes = SQ.sq_encode(df, mins, scales)
    q = SQ.encode_query(FIX[0][1], mins, scales)
    plan = (
        SQ.sq_topk(codes, q, k=3)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    head = plan.split("TakeOrderedAndProject")[0]
    assert "Exchange" not in head


def test_sq_validation(spark):
    df = _vecs(spark, FIX)
    with pytest.raises(ValueError, match="dim and levels"):
        SQ.train_sq(df, dim=0)
    mins, scales = SQ.train_sq(df, dim=4)
    with pytest.raises(ValueError, match="query dim"):
        SQ.encode_query([1.0], mins, scales)
    with pytest.raises(ValueError, match="equal length"):
        SQ.sq_encode(df, mins, scales[:2])


def test_sq_quant_report_exact_and_clamp_counter(spark):
    df = _vecs(spark, FIX)
    mins, scales = SQ.train_sq(df, dim=4)
    rep = SQ.sq_quantization_report(df, mins, scales).collect()[0]
    assert rep["n_vecs"] == len(FIX) and rep["n_clamped"] == 0
    # replay the exact integer error in python
    total = 0
    worst = 0
    for _, v in FIX:
        err = 0.0
        for x, mn, sc in zip(v, mins, scales):
            c = max(0, min(255, int(math.floor((x - mn) * sc + 0.5))))
            dec = mn if sc == 0.0 else c / sc + mn
            err += (x - dec) * (x - dec)
        micro = int(math.floor(err * 1e6 + 0.5))
        total += micro
        worst = max(worst, micro)
    assert rep["err_micro_sum"] == total and rep["err_micro_max"] == worst
    # drifted shard: values outside the trained range raise the clamp
    # counter — the retrain signal
    drift = _vecs(spark, [(10, [9.0, -1.0, 0.0, 1.0]), (11, [0.1, 1.0, 0.0, 1.0])])
    rep2 = SQ.sq_quantization_report(drift, mins, scales).collect()[0]
    assert rep2["n_clamped"] == 2 and rep2["n_vecs"] == 2


def test_ivf_sq_composition_partition_pruned(spark, tmp_path):
    """SQ composes with the IVF list layout using ONLY existing
    pieces (the sq.py docstring's claim, substantiated): assign each
    vector a coarse list (ivf_assignments), write sq codes PARTITIONED
    BY the list, probe one list with a literal filter — the scan
    carries a PartitionFilter and sq_topk ranks only that list's
    codes, bit-equal to brute-force SQ restricted to the list."""
    import re

    from data_pengadaan_agent_spark.operators.similarity import (
        ivf_assignments,
    )

    rows = [
        (i, [float((i * 37 + j * 11) % 19) - 9.0 for j in range(8)])
        for i in range(40)
    ]
    df = _vecs(spark, rows)
    mins, scales = SQ.train_sq(df, dim=8)
    assign = ivf_assignments(df, "embedding", 8, n_centroids=2)
    codes = SQ.sq_encode(df, mins, scales).join(assign, "vec_id")
    path = str(tmp_path / "ivfsq")
    codes.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

    qvec = rows[7][1]
    by_vec = {r["vec_id"]: r["centroid_id"] for r in assign.collect()}
    qlist = by_vec[7]
    bucket = spark.read.parquet(path).filter(F.col("centroid_id") == qlist)
    got = SQ.sq_topk(bucket, SQ.encode_query(qvec, mins, scales), k=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "centroid_id" in pf.group(1), plan[:1500]

    # equals brute-force SQ restricted to that list
    list_ids = {v for v, c in by_vec.items() if c == qlist}
    brute = SQ.sq_topk(
        SQ.sq_encode(
            df.join(
                spark.createDataFrame(
                    [(int(v),) for v in list_ids], "vec_id long"
                ),
                "vec_id",
                "left_semi",
            ),
            mins,
            scales,
        ),
        SQ.encode_query(qvec, mins, scales),
        k=5,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, brute.collect())
    )
    assert got.count() == 5


def test_sq_table_lifecycle_build_append_replay(spark, tmp_path):
    """The persisted SQ index (5th index family with the full
    lifecycle): build commits the quantizer LAST; append uses the
    FROZEN quantizer (never retrains), is ids-first replay-safe, and
    append ∪ base answers equal a rebuild's for in-range vectors."""
    df = _vecs(spark, FIX)
    path = str(tmp_path / "sq")
    mins, scales = SQ.build_sq_table(df, path, dim=4)
    assert (mins, scales) == SQ.train_sq(df, dim=4)
    shard = _vecs(spark, [(10, [0.3, 3.0, -1.0, 1.0]), (11, [0.6, 6.0, 2.0, 1.0])])
    assert SQ.append_sq_table(shard, path) == 2
    # replay is a no-op
    assert SQ.append_sq_table(shard, path) == 0
    assert spark.read.parquet(path).count() == len(FIX) + 2
    # quantizer frozen (not retrained by the append)
    m2, s2, lv = SQ.load_sq_quantizer(spark, path)
    assert (m2, s2, lv) == (mins, scales, 255)
    # probe sees the shard; codes equal fresh encodes under the
    # frozen quantizer
    q = SQ.encode_query(shard.collect()[0]["embedding"], mins, scales)
    got = {r["vec_id"] for r in SQ.sq_topk(spark.read.parquet(path), q, k=3).collect()}
    assert 10 in got
    want = {
        r["vec_id"]: list(r["codes"])
        for r in SQ.sq_encode(shard, mins, scales).collect()
    }
    stored = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(path).filter(F.col("vec_id") >= 10).collect()
    }
    assert stored == want
    # build dedups repeated ids (the ivfpq contract)
    dup_path = str(tmp_path / "sqdup")
    SQ.build_sq_table(df.union(df), dup_path, dim=4)
    codes = spark.read.parquet(dup_path)
    assert codes.count() == codes.select("vec_id").distinct().count() == len(FIX)


def test_sq_table_crash_audit_repair_compact(spark, tmp_path):
    """Writer-failure injection for the SQ index: append's codes write
    dies after the ids commit → audit flags, replay is a no-op, repair
    refuses an incomplete source, a covering repair converges (answers
    equal the never-crashed twin), compaction refuses dirty and works
    clean; a crash mid-compact leaves a loudly-invalid index."""
    good, crashed = str(tmp_path / "good"), str(tmp_path / "crashed")
    for p in (good, crashed):
        SQ.build_sq_table(_vecs(spark, FIX), p, dim=4)
    shard = _vecs(spark, [(10, [0.3, 3.0, -1.0, 1.0]), (11, [0.6, 6.0, 2.0, 1.0])])
    SQ.append_sq_table(shard, good)

    real_encode = SQ.sq_encode

    def _die(*a, **k):
        raise RuntimeError("injected writer failure")

    SQ.sq_encode = _die
    try:
        with pytest.raises(RuntimeError, match="injected"):
            SQ.append_sq_table(shard, crashed)
    finally:
        SQ.sq_encode = real_encode
    flagged = {
        (r["vec_id"], r["state"])
        for r in SQ.audit_sq_table(spark, crashed).collect()
    }
    assert flagged == {(10, "missing_codes"), (11, "missing_codes")}
    assert SQ.append_sq_table(shard, crashed) == 0  # replay no-op
    with pytest.raises(ValueError, match="source frame"):
        SQ.repair_sq_table(shard.filter(F.col("vec_id") == 10), crashed)
    with pytest.raises(ValueError, match="inconsistent"):
        SQ.compact_sq_table(spark, crashed)
    assert SQ.repair_sq_table(shard, crashed) == 2
    assert SQ.audit_sq_table(spark, crashed).count() == 0
    assert SQ.repair_sq_table(shard, crashed) == 0  # replay no-op

    mins, scales, _ = SQ.load_sq_quantizer(spark, crashed)
    q = SQ.encode_query(shard.collect()[0]["embedding"], mins, scales)
    want = sorted(map(tuple, SQ.sq_topk(
        spark.read.parquet(good), q, k=7).collect()))
    got = sorted(map(tuple, SQ.sq_topk(
        spark.read.parquet(crashed), q, k=7).collect()))
    assert got == want

    # compaction: files drop, answers identical, appends keep working
    import glob

    files_before = len(glob.glob(f"{crashed}/*.parquet"))
    removed = SQ.compact_sq_table(spark, crashed)
    files_after = len(glob.glob(f"{crashed}/*.parquet"))
    assert removed == files_before - files_after and files_after < files_before
    assert sorted(map(tuple, SQ.sq_topk(
        spark.read.parquet(crashed), q, k=7).collect())) == want
    assert SQ.append_sq_table(
        _vecs(spark, [(20, [0.9, 9.0, 4.0, 1.0])]), crashed
    ) == 1

    # uncommitted build / mid-compact crash shape: quantizer absent
    import shutil

    shutil.rmtree(f"{crashed}_quant")
    with pytest.raises(ValueError, match="quantizer"):
        SQ.load_sq_quantizer(spark, crashed)
    with pytest.raises(ValueError, match="quantizer"):
        SQ.append_sq_table(shard, crashed)
