"""Count-Min cube: the upper-bound guarantee (est >= true, always),
exactness in the collision-free regime, the merge law (rollup counters
== union-rebuild counters, bit-for-bit), driver-side slot law parity
(py_slots == the column expressions), registry-gated append replay,
meta gating, and the streaming form's parity with batch appends."""

from __future__ import annotations

import collections
import os

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import cmscube as C


def _toks(spark, rows):
    return spark.createDataFrame(rows, "lang STRING, tok STRING")


@pytest.fixture()
def corpus(spark):
    rows = [("en", t) for t in ["a", "a", "a", "b", "b", "c"]] + [
        ("de", t) for t in ["a", "c", "c", "d"]
    ]
    return _toks(spark, rows)


def test_upper_bound_and_exact_when_collision_free(spark, corpus, tmp_path):
    path = str(tmp_path / "cms")
    C.build_cms_cube(corpus, path, dims=["lang"], key_col="tok", d=4, w=2048)
    got = {
        (r.lang, r.key): r.est
        for r in C.cms_estimate(spark, path, ["a", "b", "c", "d", "zz"], ["lang"]).collect()
    }
    exact = collections.Counter((l, t) for l, t in corpus.collect())
    for (lang, key), est in got.items():
        assert est >= exact.get((lang, key), 0)
    # w=2048 over 4 distinct keys: no collisions — estimates are exact
    assert got[("en", "a")] == 3 and got[("en", "b")] == 2
    assert got[("de", "c")] == 2 and got[("de", "b")] == 0
    assert got[("en", "zz")] == 0 and got[("de", "zz")] == 0


def test_small_w_still_upper_bound(spark, corpus, tmp_path):
    path = str(tmp_path / "cms_tiny")
    C.build_cms_cube(corpus, path, dims=["lang"], key_col="tok", d=2, w=2)
    exact = collections.Counter((l, t) for l, t in corpus.collect())
    for r in C.cms_estimate(spark, path, ["a", "b", "c", "d"], ["lang"]).collect():
        assert r.est >= exact.get((r.lang, r.key), 0)


def test_merge_law_rollup_equals_union_rebuild(spark, corpus, tmp_path):
    """CMS merge IS counter addition: the global rollup of the
    per-lang cube equals (bit-for-bit) the counters of a cube built
    with one global dim."""
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    C.build_cms_cube(corpus, p1, dims=["lang"], key_col="tok", d=3, w=64)
    C.build_cms_cube(
        corpus.withColumn("g", F.lit("all")), p2, dims=["g"], key_col="tok", d=3, w=64
    )
    rolled = {
        (r.row, r.col): r.cnt for r in C.cms_rollup(spark, p1, []).collect()
    }
    direct = {
        (r.row, r.col): r.cnt
        for r in C.cms_rollup(spark, p2, ["g"]).drop("g").collect()
    }
    assert rolled == direct


def test_py_slots_match_column_law(spark, tmp_path):
    """One single-occurrence key per slot: the cube rows land exactly
    where py_slots says (driver law == executor law)."""
    path = str(tmp_path / "cms_one")
    C.build_cms_cube(
        _toks(spark, [("en", "probe")]), path, dims=["lang"], key_col="tok",
        d=4, w=512,
    )
    want = {(j, c) for j, c in C.py_slots("probe", 4, 512, 424242)}
    got = {(r.row, r.col) for r in C.cms_rollup(spark, path, []).collect()}
    assert got == want


def test_append_registry_replay_and_growth(spark, corpus, tmp_path):
    path = str(tmp_path / "cms_app")
    C.build_cms_cube(corpus, path, dims=["lang"], key_col="tok", d=4, w=2048)
    before = {(r.lang, r.key): r.est for r in
              C.cms_estimate(spark, path, ["a"], ["lang"]).collect()}
    shard = _toks(spark, [("en", "a"), ("en", "a")])
    assert C.append_cms_cube(shard, path, "b1") > 0
    assert C.append_cms_cube(shard, path, "b1") == 0  # replay no-op
    after = {(r.lang, r.key): r.est for r in
             C.cms_estimate(spark, path, ["a"], ["lang"]).collect()}
    assert after[("en", "a")] == before[("en", "a")] + 2
    assert after[("de", "a")] == before[("de", "a")]
    with pytest.raises(ValueError, match="batch_id"):
        C.append_cms_cube(shard, path, "__build__")


def test_meta_gates_and_validation(spark, corpus, tmp_path):
    with pytest.raises(ValueError, match="no readable meta"):
        C.cms_estimate(spark, str(tmp_path / "nope"), ["a"], [])
    with pytest.raises(ValueError, match="at least one dim"):
        C.build_cms_cube(corpus, str(tmp_path / "x"), dims=[], key_col="tok")
    with pytest.raises(ValueError, match="d >= 1"):
        C.build_cms_cube(corpus, str(tmp_path / "x"), dims=["lang"],
                         key_col="tok", d=0)
    path = str(tmp_path / "ok")
    C.build_cms_cube(corpus, path, dims=["lang"], key_col="tok", d=2, w=16)
    with pytest.raises(ValueError, match="not in cube dims"):
        C.cms_rollup(spark, path, ["nope"])
    with pytest.raises(ValueError, match="empty key list"):
        C.cms_estimate(spark, path, [], ["lang"])


@pytest.mark.slow
def test_streaming_cms_sink_parity(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as papq

    from data_pengadaan_agent_spark.streaming import windows as SW

    streamed, batched = str(tmp_path / "s"), str(tmp_path / "b")
    seedrows = _toks(spark, [("en", "a")])
    C.build_cms_cube(seedrows, streamed, dims=["lang"], key_col="tok", d=3, w=64)
    C.build_cms_cube(seedrows, batched, dims=["lang"], key_col="tok", d=3, w=64)

    src = str(tmp_path / "src")
    os.makedirs(src)
    shard1 = [("en", "a"), ("en", "b")]
    shard2 = [("de", "a"), ("en", "b")]

    def write_file(name, rows, mtime):
        p = os.path.join(src, name)
        papq.write_table(
            pa.table({
                "lang": pa.array([l for l, _ in rows]),
                "tok": pa.array([t for _, t in rows]),
            }),
            p,
        )
        os.utime(p, (mtime, mtime))

    write_file("f1.parquet", shard1, 1_700_000_000)
    write_file("f2.parquet", shard2, 1_700_000_100)
    stream = (
        spark.readStream.schema("lang string, tok string")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = SW.foreach_batch_cube_sink(
        stream, str(tmp_path / "ckpt"),
        lambda b, e: C.append_cms_cube(b, streamed, f"epoch_{e}"),
    )
    q.processAllAvailable()
    q.stop()

    C.append_cms_cube(_toks(spark, shard1), batched, "s1")
    C.append_cms_cube(_toks(spark, shard2), batched, "s2")
    a = {(r.lang, r.row, r.col): r.cnt
         for r in C.cms_rollup(spark, streamed, ["lang"]).collect()}
    b = {(r.lang, r.row, r.col): r.cnt
         for r in C.cms_rollup(spark, batched, ["lang"]).collect()}
    assert a == b


def test_estimate_null_dim_group_keeps_upper_bound(spark, tmp_path):
    """Self-review r12: _cube_rows keeps NULL-dim groups (their
    counters are real), but a plain equi-join in cms_estimate never
    matched NULL = NULL — those groups silently estimated 0, breaking
    the one guarantee the sketch sells (est >= true count, always).
    Null-safe join pinned: the NULL group estimates exactly in the
    collision-free regime."""
    rows = [("en", t) for t in ["a", "a", "b"]] + [
        (None, t) for t in ["a", "a", "a", "a", "c"]
    ]
    df = _toks(spark, rows)
    path = str(tmp_path / "cms_null")
    C.build_cms_cube(df, path, dims=["lang"], key_col="tok", d=4, w=2048)
    got = {
        (r.lang, r.key): r.est
        for r in C.cms_estimate(spark, path, ["a", "b", "c"], ["lang"]).collect()
    }
    assert got[(None, "a")] == 4
    assert got[(None, "c")] == 1
    assert got[(None, "b")] == 0
    assert got[("en", "a")] == 2 and got[("en", "b")] == 1
