"""HLL distinct-count cube: the pinned invariants are exact
equalities even though the estimate is approximate — the merge law
(cube rollup == one sketch over raw rows), append idempotence by
sketch algebra, low-cardinality exactness (coupon mode), and
compaction invariance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import sketchcube as SC


def _events(spark, n=400, users=37):
    rows = [
        (i, f"u{i % users}", "view" if i % 3 else "click", f"2024-01-{1 + i % 5:02d}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "event_id LONG, user STRING, typ STRING, day STRING")


def _direct(df, group_by, key="user", lg_k=12):
    agg = F.hll_sketch_estimate(
        F.hll_sketch_agg(F.col(key).cast("string"), F.lit(lg_k))
    ).alias("distinct_est")
    if group_by:
        return {
            tuple(r[g] for g in group_by): r["distinct_est"]
            for r in df.groupBy(*group_by).agg(agg).collect()
        }
    return {(): df.agg(agg).collect()[0]["distinct_est"]}


def _rollup(spark, path, group_by):
    return {
        tuple(r[g] for g in group_by): r["distinct_est"]
        for r in SC.distinct_rollup(spark, path, group_by).collect()
    } if group_by else {
        (): SC.distinct_rollup(spark, path).collect()[0]["distinct_est"]
    }


def test_merge_law_every_rollup_equals_direct_sketch(spark, tmp_path):
    """The composition property the cube exists for: rolling up
    pre-aggregated per-(typ, day) sketches gives the SAME estimate as
    sketching the raw rows at that granularity — a deterministic
    equality (register state is order/duplication-insensitive), not a
    tolerance check."""
    ev = _events(spark)
    path = str(tmp_path / "cube")
    SC.build_distinct_cube(ev, path, dims=["typ", "day"], key_col="user")
    for gb in (["typ", "day"], ["typ"], ["day"], []):
        assert _rollup(spark, path, gb) == _direct(ev, gb)


def test_low_cardinality_estimates_are_exact(spark, tmp_path):
    """37 users is deep in coupon mode at lg_k=12: estimates equal
    EXACT distinct counts, so the cube's numbers are verifiable
    against plain COUNT(DISTINCT) here."""
    ev = _events(spark)
    path = str(tmp_path / "cube")
    SC.build_distinct_cube(ev, path, dims=["typ", "day"], key_col="user")
    exact = {
        (r["typ"],): r["c"]
        for r in ev.groupBy("typ").agg(
            F.countDistinct("user").cast("double").alias("c")
        ).collect()
    }
    assert _rollup(spark, path, ["typ"]) == exact
    assert _rollup(spark, path, None)[()] == 37.0


def test_append_composes_and_replay_is_harmless(spark, tmp_path):
    """Appends extend estimates exactly as if built from the union of
    corpora, and a REPLAYED append (same shard twice — the crash/retry
    case) changes no estimate: union(s, s) = s. n_rows counts arrivals
    (at-least-once), documented and pinned."""
    ev = _events(spark)
    shard = spark.createDataFrame(
        [(10_000 + i, f"w{i % 11}", "view", "2024-02-01") for i in range(50)],
        "event_id LONG, user STRING, typ STRING, day STRING",
    )
    path, full = str(tmp_path / "cube"), str(tmp_path / "full")
    SC.build_distinct_cube(ev, path, dims=["typ", "day"], key_col="user")
    assert SC.append_distinct_cube(shard, path) == 1  # one (view, 02-01) group
    SC.build_distinct_cube(ev.unionByName(shard), full, dims=["typ", "day"], key_col="user")
    for gb in (["typ"], ["day"], []):
        assert _rollup(spark, path, gb) == _rollup(spark, full, gb)
    before = _rollup(spark, path, ["typ", "day"])
    n_before = {
        tuple(r[g] for g in ("typ", "day")): r["n_rows"]
        for r in SC.distinct_rollup(spark, path, ["typ", "day"]).collect()
    }
    SC.append_distinct_cube(shard, path)  # replay
    assert _rollup(spark, path, ["typ", "day"]) == before
    n_after = {
        tuple(r[g] for g in ("typ", "day")): r["n_rows"]
        for r in SC.distinct_rollup(spark, path, ["typ", "day"]).collect()
    }
    assert n_after[("view", "2024-02-01")] == 2 * n_before[("view", "2024-02-01")]


def test_compact_preserves_every_estimate(spark, tmp_path):
    ev = _events(spark)
    path = str(tmp_path / "cube")
    SC.build_distinct_cube(ev, path, dims=["typ"], key_col="user")
    for i in range(3):
        shard = spark.createDataFrame(
            [(50_000 + 100 * i + j, f"z{i}_{j % 5}", "view", "x") for j in range(20)],
            "event_id LONG, user STRING, typ STRING, day STRING",
        )
        SC.append_distinct_cube(shard, path)
    before = _rollup(spark, path, ["typ"])
    removed = SC.compact_distinct_cube(spark, path)
    assert removed == 3  # 4 'view' rows merge to 1
    assert _rollup(spark, path, ["typ"]) == before
    assert SC.append_distinct_cube(
        spark.createDataFrame(
            [(90_000, "late", "view", "x")],
            "event_id LONG, user STRING, typ STRING, day STRING",
        ),
        path,
    ) == 1


def test_validation_and_meta_contract(spark, tmp_path):
    ev = _events(spark)
    path = str(tmp_path / "cube")
    with pytest.raises(ValueError, match="at least one dim"):
        SC.build_distinct_cube(ev, path, dims=[], key_col="user")
    with pytest.raises(ValueError, match="lg_k"):
        SC.build_distinct_cube(ev, path, dims=["typ"], key_col="user", lg_k=2)
    SC.build_distinct_cube(ev, path, dims=["typ"], key_col="user")
    with pytest.raises(ValueError, match="not in cube dims"):
        SC.distinct_rollup(spark, path, ["day"])
    import shutil

    shutil.rmtree(f"{path}/meta")
    with pytest.raises(ValueError, match="no readable meta"):
        SC.distinct_rollup(spark, path)
    with pytest.raises(ValueError, match="no readable meta"):
        SC.append_distinct_cube(ev, path)


def test_streaming_cube_sink_estimates_equal_batch(spark, tmp_path):
    """The seventh streaming form: file-per-trigger ingest into the
    cube gives the same estimates as a from-scratch build over
    everything — idempotent-union replay semantics end to end."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from data_pengadaan_agent_spark.streaming import windows as SW

    ev = _events(spark, n=200, users=23)
    path, full = str(tmp_path / "cube"), str(tmp_path / "full")
    SC.build_distinct_cube(ev, path, dims=["typ", "day"], key_col="user")

    src = str(tmp_path / "src")
    os.makedirs(src)
    shards = [
        [(9_000 + i, f"s1u{i % 7}", "view", "2024-03-01") for i in range(30)],
        [(9_100 + i, f"s2u{i % 9}", "click", "2024-03-02") for i in range(40)],
    ]
    for n, (rows, mtime) in enumerate(zip(shards, (1_700_000_000, 1_700_000_100))):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user": pa.array([r[1] for r in rows], pa.string()),
            "typ": pa.array([r[2] for r in rows], pa.string()),
            "day": pa.array([r[3] for r in rows], pa.string()),
        })
        p = os.path.join(src, f"f{n}.parquet")
        papq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    stream = (
        spark.readStream.schema("event_id long, user string, typ string, day string")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = SW.foreach_batch_cube_sink(
        stream, str(tmp_path / "ckpt"), lambda b, _: SC.append_distinct_cube(b, path)
    )
    q.processAllAvailable()
    q.stop()

    everything = ev.unionByName(
        spark.createDataFrame(
            [r for rows in shards for r in rows],
            "event_id LONG, user STRING, typ STRING, day STRING",
        )
    )
    SC.build_distinct_cube(everything, full, dims=["typ", "day"], key_col="user")
    for gb in (["typ", "day"], ["typ"], []):
        assert _rollup(spark, path, gb) == _rollup(spark, full, gb)
