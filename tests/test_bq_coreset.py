"""Binary quantization (operators/bq) and greedy k-center coreset
selection (operators/coreset).

BQ determinism contract: midrange thresholds from exact min/max, a
strict ``x > t`` bit test, 63-bit word packing (pure positive BIGINT
sums of distinct powers of two — never the int64 sign bit), Hamming
via bit_count(xor), integer micro-unit L2 for the re-rank; ties by id
everywhere. k-center: all distances exact integers on the micro grid,
seed = lowest id, argmax ties to the lowest id — one deterministic
trajectory checked against a NumPy reference.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import bq as BQ
from data_pengadaan_agent_spark.operators import coreset as CS


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


# ---------------------------------------------------------------- BQ


def test_train_bq_midrange(spark):
    thr = BQ.train_bq(_vecs(spark, FIX), dim=4)
    assert thr == [0.5, 5.0, 0.0, 1.0]


def _np_words(bits):
    words = []
    for w in range(BQ.n_words(len(bits))):
        chunk = bits[w * BQ.BITS_PER_WORD : (w + 1) * BQ.BITS_PER_WORD]
        words.append(sum(int(b) << j for j, b in enumerate(chunk)))
    return words


def test_bq_encode_matches_numpy_packing(spark):
    df = _vecs(spark, FIX)
    thr = BQ.train_bq(df, dim=4)
    got = {
        r["vec_id"]: list(r["words"])
        for r in BQ.bq_encode(df, thr).collect()
    }
    for vid, v in FIX:
        bits = [1 if x > t else 0 for x, t in zip(v, thr)]
        assert got[vid] == _np_words(bits), vid


def test_bq_words_never_negative_at_full_width(spark):
    # 63 bits all set stays positive: packing never touches bit 63
    dim = 2 * BQ.BITS_PER_WORD  # two full words
    lo = [0.0] * dim
    hi = [1.0] * dim
    df = _vecs(spark, [(0, lo), (1, hi)])
    thr = BQ.train_bq(df, dim=dim)  # midrange 0.5 -> hi all ones
    rows = {r["vec_id"]: list(r["words"]) for r in BQ.bq_encode(df, thr).collect()}
    assert rows[0] == [0, 0]
    assert rows[1] == [(1 << BQ.BITS_PER_WORD) - 1] * 2
    assert all(w >= 0 for ws in rows.values() for w in ws)


def test_bq_topk_matches_numpy_hamming(spark):
    rng = np.random.RandomState(7)
    vecs = [(i, rng.uniform(-1, 1, 8).tolist()) for i in range(40)]
    df = _vecs(spark, vecs)
    thr = BQ.train_bq(df, dim=8)
    qwords = BQ.encode_query_bq(vecs[3][1], thr)
    got = [
        (r["rank"], r["vec_id"], r["hamming"])
        for r in BQ.bq_topk(BQ.bq_encode(df, thr), qwords, k=5).collect()
    ]
    # NumPy reference
    qb = [1 if x > t else 0 for x, t in zip(vecs[3][1], thr)]
    ref = []
    for vid, v in vecs:
        vb = [1 if x > t else 0 for x, t in zip(v, thr)]
        ref.append((sum(a != b for a, b in zip(vb, qb)), vid))
    ref.sort()
    want = [(i + 1, vid, h) for i, (h, vid) in enumerate(ref[:5])]
    assert got == want
    assert got[0][1] == 3 and got[0][2] == 0  # the query itself


def test_bq_rerank_exact_micro_l2(spark):
    rng = np.random.RandomState(11)
    vecs = [(i, rng.uniform(-1, 1, 8).tolist()) for i in range(60)]
    df = _vecs(spark, vecs)
    thr = BQ.train_bq(df, dim=8)
    q = vecs[5][1]
    got = [
        (r["rank"], r["vec_id"], r["l2_micro"])
        for r in BQ.bq_rerank_topk(
            df, thr, q, k=4, shortlist=60
        ).collect()  # full-corpus shortlist -> exact top-4 by micro L2
    ]
    qm = [math.floor(x * 1e6 + 0.5) for x in q]
    ref = []
    for vid, v in vecs:
        vm = [math.floor(x * 1e6 + 0.5) for x in v]
        ref.append((sum((a - b) ** 2 for a, b in zip(vm, qm)), vid))
    ref.sort()
    want = [(i + 1, vid, d) for i, (d, vid) in enumerate(ref[:4])]
    assert got == want
    assert got[0] == (1, 5, 0)


def test_bq_topk_batch_equals_single_query_calls(spark):
    """The batch miner is exactly |Q| single-query bq_topk calls in
    one scan: per qid, identical (rank, id, hamming) rows; and the
    executed plan carries the Partial WindowGroupLimit ahead of the
    one qid exchange (the <= partitions x |Q| x k contract)."""
    rng = np.random.RandomState(21)
    vecs = [(i, rng.uniform(-1, 1, 8).tolist()) for i in range(50)]
    df = _vecs(spark, vecs)
    thr = BQ.train_bq(df, dim=8)
    codes = BQ.bq_encode(df, thr)
    queries = [
        (vid, BQ.encode_query_bq(dict(vecs)[vid], thr)) for vid in (3, 17, 40)
    ]
    batch = BQ.bq_topk_batch(codes, queries, k=4)
    got = {
        qid: sorted(
            (r["rank"], r["vec_id"], r["hamming"])
            for r in batch.filter(F.col("qid") == qid).collect()
        )
        for qid, _ in queries
    }
    for qid, qw in queries:
        single = sorted(
            (r["rank"], r["vec_id"], r["hamming"])
            for r in BQ.bq_topk(codes, qw, k=4).collect()
        )
        assert got[qid] == single, qid
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    with pytest.raises(ValueError):
        BQ.bq_topk_batch(codes, [], k=4)


def test_bq_rerank_shortlist_bounds_stage2(spark):
    # With shortlist=1, stage 2 sees only the Hamming-nearest point
    df = _vecs(spark, FIX)
    thr = BQ.train_bq(df, dim=4)
    out = BQ.bq_rerank_topk(df, thr, FIX[0][1], k=3, shortlist=1).collect()
    assert len(out) == 1


def test_encode_query_bq_dim_mismatch():
    with pytest.raises(ValueError):
        BQ.encode_query_bq([1.0, 2.0], [0.0])


def test_ivf_bq_composition_partition_pruned(spark, tmp_path):
    """BQ composes with the IVF list layout using ONLY existing
    pieces (the ivf-sq composition argument verbatim): assign each
    vector a coarse list, write BQ words PARTITIONED BY the list,
    probe one list with a literal filter — the scan carries a
    PartitionFilter and bq_topk ranks only that list's words,
    bit-equal to brute-force BQ restricted to the list."""
    import re

    from data_pengadaan_agent_spark.operators.similarity import (
        ivf_assignments,
    )

    rows = [
        (i, [float((i * 37 + j * 11) % 19) - 9.0 for j in range(8)])
        for i in range(40)
    ]
    df = _vecs(spark, rows)
    thr = BQ.train_bq(df, dim=8)
    assign = ivf_assignments(df, "embedding", 8, n_centroids=2)
    words = BQ.bq_encode(df, thr).join(assign, "vec_id")
    path = str(tmp_path / "ivfbq")
    words.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

    qvec = rows[7][1]
    by_vec = {r["vec_id"]: r["centroid_id"] for r in assign.collect()}
    qlist = by_vec[7]
    bucket = spark.read.parquet(path).filter(F.col("centroid_id") == qlist)
    qw = BQ.encode_query_bq(qvec, thr)
    got = BQ.bq_topk(bucket, qw, k=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "centroid_id" in pf.group(1), plan[:1500]

    list_ids = {v for v, c in by_vec.items() if c == qlist}
    brute = BQ.bq_topk(
        BQ.bq_encode(
            df.join(
                spark.createDataFrame(
                    [(int(v),) for v in list_ids], "vec_id long"
                ),
                "vec_id",
                "left_semi",
            ),
            thr,
        ),
        qw,
        k=5,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, brute.collect())
    )
    assert got.count() == 5


def test_bq_table_lifecycle_build_append_replay(spark, tmp_path):
    """The persisted BQ index (6th index family with the full
    lifecycle — the sq.py contract with thresholds as the frozen
    geometry): build commits the thresholds LAST; append uses the
    FROZEN thresholds (never retrains), is ids-first replay-safe, and
    appended words equal fresh encodes under the frozen thresholds."""
    df = _vecs(spark, FIX)
    path = str(tmp_path / "bq")
    thr = BQ.build_bq_table(df, path, dim=4)
    assert thr == BQ.train_bq(df, dim=4)
    shard = _vecs(spark, [(10, [0.3, 3.0, -1.0, 1.0]), (11, [0.6, 6.0, 2.0, 1.0])])
    assert BQ.append_bq_table(shard, path) == 2
    assert BQ.append_bq_table(shard, path) == 0  # replay no-op
    assert spark.read.parquet(path).count() == len(FIX) + 2
    assert BQ.load_bq_thresholds(spark, path) == thr  # frozen
    qw = BQ.encode_query_bq(shard.collect()[0]["embedding"], thr)
    got = {
        r["vec_id"]
        for r in BQ.bq_topk(spark.read.parquet(path), qw, k=3).collect()
    }
    assert 10 in got
    want = {
        r["vec_id"]: list(r["words"])
        for r in BQ.bq_encode(shard, thr).collect()
    }
    stored = {
        r["vec_id"]: list(r["words"])
        for r in spark.read.parquet(path)
        .filter(F.col("vec_id") >= 10)
        .collect()
    }
    assert stored == want
    # build dedups repeated ids
    dup_path = str(tmp_path / "bqdup")
    BQ.build_bq_table(df.union(df), dup_path, dim=4)
    words = spark.read.parquet(dup_path)
    assert words.count() == words.select("vec_id").distinct().count() == len(FIX)


def test_bq_table_crash_audit_repair_compact(spark, tmp_path):
    """Writer-failure injection for the BQ index: append's words
    write dies after the ids commit → audit flags, replay is a no-op,
    repair refuses an incomplete source, a covering repair converges
    (answers equal the never-crashed twin), compaction refuses dirty
    and works clean; a crash mid-compact leaves a loudly-invalid
    index."""
    good, crashed = str(tmp_path / "good"), str(tmp_path / "crashed")
    for p in (good, crashed):
        BQ.build_bq_table(_vecs(spark, FIX), p, dim=4)
    shard = _vecs(spark, [(10, [0.3, 3.0, -1.0, 1.0]), (11, [0.6, 6.0, 2.0, 1.0])])
    BQ.append_bq_table(shard, good)

    real_encode = BQ.bq_encode

    def _die(*a, **k):
        raise RuntimeError("injected writer failure")

    BQ.bq_encode = _die
    try:
        with pytest.raises(RuntimeError, match="injected"):
            BQ.append_bq_table(shard, crashed)
    finally:
        BQ.bq_encode = real_encode
    flagged = {
        (r["vec_id"], r["state"])
        for r in BQ.audit_bq_table(spark, crashed).collect()
    }
    assert flagged == {(10, "missing_words"), (11, "missing_words")}
    assert BQ.append_bq_table(shard, crashed) == 0  # replay no-op
    with pytest.raises(ValueError, match="source frame"):
        BQ.repair_bq_table(shard.filter(F.col("vec_id") == 10), crashed)
    with pytest.raises(ValueError, match="inconsistent"):
        BQ.compact_bq_table(spark, crashed)
    assert BQ.repair_bq_table(shard, crashed) == 2
    assert BQ.audit_bq_table(spark, crashed).count() == 0
    assert BQ.repair_bq_table(shard, crashed) == 0  # replay no-op

    thr = BQ.load_bq_thresholds(spark, crashed)
    qw = BQ.encode_query_bq(shard.collect()[0]["embedding"], thr)
    want = sorted(
        map(tuple, BQ.bq_topk(spark.read.parquet(good), qw, k=7).collect())
    )
    got = sorted(
        map(tuple, BQ.bq_topk(spark.read.parquet(crashed), qw, k=7).collect())
    )
    assert got == want

    import glob

    files_before = len(glob.glob(f"{crashed}/*.parquet"))
    removed = BQ.compact_bq_table(spark, crashed)
    files_after = len(glob.glob(f"{crashed}/*.parquet"))
    assert removed == files_before - files_after and files_after < files_before
    assert (
        sorted(
            map(
                tuple,
                BQ.bq_topk(spark.read.parquet(crashed), qw, k=7).collect(),
            )
        )
        == want
    )
    assert (
        BQ.append_bq_table(_vecs(spark, [(20, [0.9, 9.0, 4.0, 1.0])]), crashed)
        == 1
    )

    import shutil

    shutil.rmtree(f"{crashed}_thr")
    with pytest.raises(ValueError, match="thresholds"):
        BQ.load_bq_thresholds(spark, crashed)
    with pytest.raises(ValueError, match="thresholds"):
        BQ.append_bq_table(shard, crashed)


# ----------------------------------------------------- k-center


def _np_kcenter(vecs, k, dp=6):
    """Reference greedy trajectory on the micro grid."""
    scale = 10**dp
    pts = {
        vid: [math.floor(float(x) * scale + 0.5) for x in v]
        for vid, v in vecs
    }
    ids = sorted(pts)
    picked = [(1, ids[0], 0)]
    mind = {}
    newest = ids[0]
    for t in range(1, k):
        for vid in ids:
            d = sum((a - b) ** 2 for a, b in zip(pts[vid], pts[newest]))
            mind[vid] = min(mind.get(vid, d), d)
        taken = {p[1] for p in picked}
        far = max(
            (vid for vid in ids if vid not in taken),
            key=lambda vid: (mind[vid], -vid),
        )
        picked.append((t + 1, far, mind[far]))
        newest = far
    return picked


def test_kcenter_matches_numpy_reference(spark):
    rng = np.random.RandomState(3)
    vecs = [(i, rng.uniform(-1, 1, 6).tolist()) for i in range(50)]
    got = [
        (r["sel_rank"], r["vec_id"], r["dist_micro"])
        for r in CS.kcenter_coreset(_vecs(spark, vecs), k=6).collect()
    ]
    assert sorted(got) == _np_kcenter(vecs, k=6)


def test_kcenter_radii_non_increasing(spark):
    rng = np.random.RandomState(9)
    vecs = [(i, rng.uniform(-1, 1, 4).tolist()) for i in range(30)]
    rows = sorted(
        CS.kcenter_coreset(_vecs(spark, vecs), k=5).collect(),
        key=lambda r: r["sel_rank"],
    )
    radii = [r["dist_micro"] for r in rows[1:]]
    assert radii == sorted(radii, reverse=True)


def test_kcenter_duplicate_points_zero_radius_lowest_id(spark):
    vecs = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])]
    rows = sorted(
        CS.kcenter_coreset(_vecs(spark, vecs), k=3).collect(),
        key=lambda r: r["sel_rank"],
    )
    assert [(r["vec_id"], r["dist_micro"]) for r in rows] == [
        (0, 0),
        (1, 0),
        (2, 0),
    ]


def test_kcenter_k1_and_empty(spark):
    one = CS.kcenter_coreset(_vecs(spark, FIX[:2]), k=1).collect()
    assert [(r["sel_rank"], r["vec_id"], r["dist_micro"]) for r in one] == [
        (1, 0, 0)
    ]
    with pytest.raises(ValueError):
        CS.kcenter_coreset(_vecs(spark, []), k=2)
    with pytest.raises(ValueError):
        CS.kcenter_coreset(_vecs(spark, FIX), k=0)
    with pytest.raises(ValueError):  # k > distinct ids
        CS.kcenter_coreset(_vecs(spark, FIX[:2]), k=3)


def test_coverage_report_consistent_with_selection(spark):
    rng = np.random.RandomState(5)
    vecs = [(i, rng.uniform(-1, 1, 4).tolist()) for i in range(40)]
    df = _vecs(spark, vecs)
    k = 5
    sel = sorted(
        CS.kcenter_coreset(df, k=k + 1).collect(), key=lambda r: r["sel_rank"]
    )
    chosen = [r["vec_id"] for r in sel[:k]]
    centers = [
        [math.floor(x * 1e6 + 0.5) for x in dict(vecs)[vid]] for vid in chosen
    ]
    rep = CS.coverage_report(df, centers).collect()[0]
    # the (k+1)-th greedy pick's radius IS the max coverage radius of
    # the first k centers — the defining identity of the trajectory
    assert rep["max_radius_micro"] == sel[k]["dist_micro"]
    assert rep["n_points"] == 40
    assert 1 <= rep["n_centers_used"] <= k


def test_kcenter_coverage_sampled_deterministic_and_consistent(spark):
    rng = np.random.RandomState(13)
    vecs = [(i, rng.uniform(-1, 1, 4).tolist()) for i in range(80)]
    df = _vecs(spark, vecs)
    a = CS.kcenter_coverage_sampled(df, k=3, sample_frac=0.5).collect()[0]
    b = CS.kcenter_coverage_sampled(
        df.repartition(7), k=3, sample_frac=0.5
    ).collect()[0]
    assert tuple(a) == tuple(b)  # stable under repartitioning
    assert a["n_points"] == 80
    assert 0 < a["n_sample"] < 80
    assert a["max_radius_micro"] > 0
    assert 1 <= a["n_centers_used"] <= 3
    # (no ordering claim vs full-corpus greedy: greedy is a
    # 2-approximation, so a sampled selection can legitimately cover
    # the corpus BETTER than the exact trajectory — observed on this
    # very fixture)
    with pytest.raises(ValueError):
        CS.kcenter_coverage_sampled(df, k=3, sample_frac=0.0)


def test_coverage_report_argmin_ties_lowest_index(spark):
    df = _vecs(spark, [(0, [0.0, 0.0])])
    # two identical centers: the point must assign to index 0
    centers = [[0, 0], [0, 0]]
    rep = CS.coverage_report(df, centers).collect()[0]
    assert rep["n_centers_used"] == 1
    with pytest.raises(ValueError):
        CS.coverage_report(df, [])


def test_coverage_sampled_deterministic_under_duplicate_ids(spark):
    """Self-review r12: coverage must be measured against the vectors
    the greedy trajectory actually selected — a re-fetch by id from
    the raw frame could resolve a DUPLICATE id to a different vector,
    nondeterministically. Pinned: duplicate ids with different
    embeddings give identical reports across partitionings."""
    from data_pengadaan_agent_spark.operators import coreset as CS

    rows = [(i, [float(i % 7), float(i % 5), 0.0, 1.0]) for i in range(60)]
    rows += [(i, [9.0, 9.0, 9.0, 9.0]) for i in range(0, 60, 3)]  # dup ids
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    a = CS.kcenter_coverage_sampled(df, k=3, sample_frac=1.0).collect()
    b = CS.kcenter_coverage_sampled(
        df.repartition(11, "vec_id"), k=3, sample_frac=1.0
    ).collect()
    c = CS.kcenter_coverage_sampled(df.orderBy(F.desc("vec_id")), k=3,
                                    sample_frac=1.0).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] == [tuple(r) for r in c]


def test_kcenter_loop_releases_superseded_state(spark):
    """Self-review r14: the greedy loop frees each pass's superseded
    (vid, q, mind) checkpoint — growth is one live state frame, not
    k-1 full vector-frame copies."""
    from data_pengadaan_agent_spark.operators import coreset as CS

    df = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    rows = CS.kcenter_coreset(df, k=8).collect()
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert len(rows) == 8
    assert after - before <= 1  # the live state only
