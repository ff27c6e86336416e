"""Bloom-index family: the no-false-negative invariant (bits ⊇ keys at
every reachable state), bloom_new_rows ≡ the direct anti-join, ingest
replay convergence WITHOUT a batch registry (bit_or algebra), the
words-first/keys-last crash ordering, audit/repair of the one bad
state, bit-identical compaction, the exact bit contents vs a Python
reference of the frozen probe law, and the streaming form's parity
with the batch path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import bloom as B

_K1, _K2, _K3 = 2654435761, 2246822519, 3266489917
_M31, _M32 = 1 << 31, 1 << 32


def _py_probe(key: int, n_buckets: int, n_words: int, k: int):
    """Independent Python reference of the frozen probe law."""
    m = n_words * 63
    f = key % _M31  # keys in tests are nonneg; pmod == % here
    h1 = (f * _K1) % _M32
    h2 = ((f + 1) * _K2) % _M32 * 2 + 1
    bucket = ((f * _K3) % _M32) % n_buckets
    return bucket, [((h1 + i * h2) % m) for i in range(k)]


def _grouped(spark, path):
    return {
        (r.bucket, r.word_idx): r.word
        for r in B.grouped_words(spark, path).collect()
    }


@pytest.fixture()
def idx(spark, tmp_path):
    path = str(tmp_path / "bloom")
    corpus = spark.range(0, 300).select(F.col("id").alias("key"))
    B.build_bloom_index(corpus, path, key_col="key", n_buckets=4, n_words=64, k=5)
    return path, corpus


def test_no_false_negatives(spark, idx):
    path, corpus = idx
    probed = B.probe_bloom(spark, path, corpus, "key")
    assert probed.filter(~F.col("maybe")).count() == 0


def test_new_rows_equals_direct_anti_join(spark, idx):
    path, corpus = idx
    # negative and >2^31 keys exercise the pmod fold
    extra = spark.createDataFrame(
        [(-5,), (-1,), (1 << 40,), (250,), (299,), (300,), (12345,)], "key LONG"
    )
    batch = spark.range(200, 400).select(F.col("id").alias("key")).unionByName(extra)
    got = sorted(r.key for r in B.bloom_new_rows(spark, path, batch, "key").collect())
    want = sorted(r.key for r in batch.join(corpus, "key", "left_anti").collect())
    assert got == want and len(want) > 0


def test_carry_columns_survive(spark, idx):
    path, _ = idx
    batch = spark.range(295, 305).select(
        F.col("id").alias("key"), (F.col("id") * 7).alias("payload")
    )
    rows = {r.key: r.payload for r in B.bloom_new_rows(spark, path, batch, "key").collect()}
    assert rows == {i: i * 7 for i in range(300, 305)}


def test_ingest_replay_converges_without_registry(spark, idx):
    path, _ = idx
    batch = spark.range(250, 450).select(F.col("id").alias("key"))
    n1 = B.ingest_bloom_batch(spark, path, batch, "key")
    state1 = _grouped(spark, path)
    keys1 = sorted(
        r.key for r in spark.read.parquet(f"{path}/keys").distinct().collect()
    )
    # full replay of the same batch: no new keys, bit state identical
    n2 = B.ingest_bloom_batch(spark, path, batch, "key")
    assert (n1, n2) == (150, 0)
    assert _grouped(spark, path) == state1
    assert (
        sorted(r.key for r in spark.read.parquet(f"{path}/keys").distinct().collect())
        == keys1
    )


def test_crash_between_words_and_keys_converges(spark, idx):
    """The reachable crash state: words appended, keys write lost.
    bits ⊇ keys still holds (no false negatives), the half-ingested
    keys re-classify as NEW (maybe → verify → absent), and the replay
    completes the ingest — convergence from the worst crash point."""
    path, _ = idx
    batch = spark.range(300, 350).select(F.col("id").alias("key"))
    n_buckets, n_words, k, _ = B._read_meta(spark, path)
    # simulate the crash: words landed, keys did not
    B._word_rows(batch, "key", n_buckets, n_words, k).write.mode("append").partitionBy(
        "bucket"
    ).parquet(f"{path}/words")
    assert B.audit_bloom_index(spark, path, "key").count() == 0  # invariant holds
    new = sorted(r.key for r in B.bloom_new_rows(spark, path, batch, "key").collect())
    assert new == list(range(300, 350))  # still classified new
    assert B.ingest_bloom_batch(spark, path, batch, "key") == 50  # replay completes
    assert B.ingest_bloom_batch(spark, path, batch, "key") == 0


def test_audit_flags_keys_without_bits_and_repair_heals(spark, idx):
    """The UNREACHABLE-by-design state (keys-before-words would be a
    bug): registered keys the filter denies = standing false
    negatives. Injected directly; audit flags exactly those keys;
    repair re-derives their bits; the filter is whole again."""
    path, _ = idx
    spark.range(1000, 1010).select(F.col("id").alias("key")).write.mode(
        "append"
    ).parquet(f"{path}/keys")
    flagged = B.audit_bloom_index(spark, path, "key")
    assert sorted(r.key for r in flagged.collect()) == list(range(1000, 1010))
    assert set(r.state for r in flagged.collect()) == {"missing_bits"}
    assert B.repair_bloom_index(spark, path, "key") == 10
    assert B.audit_bloom_index(spark, path, "key").count() == 0
    probed = B.probe_bloom(
        spark, path, spark.range(1000, 1010).select(F.col("id").alias("key")), "key"
    )
    assert probed.filter(~F.col("maybe")).count() == 0
    assert B.repair_bloom_index(spark, path, "key") == 0  # clean audit = no-op


def test_compaction_is_bit_identical_and_physical_only(spark, idx):
    path, _ = idx
    B.ingest_bloom_batch(
        spark, path, spark.range(300, 500).select(F.col("id").alias("key")), "key"
    )
    before = _grouped(spark, path)
    n = B.compact_bloom_index(spark, path, "key")
    after = _grouped(spark, path)
    assert before == after and n == len(after)
    # physically one row per live slot now
    raw = spark.read.parquet(f"{path}/words")
    assert raw.count() == raw.select("bucket", "word_idx").distinct().count()
    # geometry AND the frozen key column survived the meta swap
    assert B._read_meta(spark, path) == (4, 64, 5, "key")
    # keys deduped
    keys = spark.read.parquet(f"{path}/keys")
    assert keys.count() == keys.distinct().count() == 500


def test_bit_contents_match_python_reference(spark, tmp_path):
    path = str(tmp_path / "bloom_ref")
    keys = [0, 1, 17, 255, 2**31 - 1, 12345, 999_999_937]
    df = spark.createDataFrame([(x,) for x in keys], "key LONG")
    B.build_bloom_index(df, path, key_col="key", n_buckets=3, n_words=16, k=4)
    want: dict[tuple[int, int], int] = {}
    for x in keys:
        bucket, positions = _py_probe(x, 3, 16, 4)
        for pos in positions:
            slot = (bucket, pos // 63)
            want[slot] = want.get(slot, 0) | (1 << (pos % 63))
    assert _grouped(spark, path) == want
    rep = {r.bucket: (r.n_keys, r.set_bits) for r in
           B.bloom_fill_report(spark, path, "key").collect()}
    by_bucket: dict[int, set] = {}
    for x in keys:
        bucket, positions = _py_probe(x, 3, 16, 4)
        by_bucket.setdefault(bucket, set())
    for (b, w), word in want.items():
        by_bucket[b] = by_bucket.get(b, set()) | {
            (w, j) for j in range(63) if word >> j & 1
        }
    for b, bits in by_bucket.items():
        n_keys = sum(1 for x in keys if _py_probe(x, 3, 16, 4)[0] == b)
        assert rep[b] == (n_keys, len(bits))


def test_probe_plan_broadcasts_small_filter(spark, idx):
    path, corpus = idx
    plan = (
        B.probe_bloom(spark, path, corpus, "key")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_meta_gates_every_reader(spark, tmp_path):
    with pytest.raises(ValueError, match="no readable meta"):
        B.probe_bloom(
            spark,
            str(tmp_path / "nope"),
            spark.range(3).select(F.col("id").alias("key")),
            "key",
        )
    with pytest.raises(ValueError, match="n_buckets"):
        B.build_bloom_index(
            spark.range(3).select(F.col("id").alias("key")),
            str(tmp_path / "bad"),
            key_col="key",
            n_buckets=0,
        )


def test_empty_and_all_dup_batches(spark, idx):
    path, corpus = idx
    assert B.ingest_bloom_batch(spark, path, corpus.limit(0), "key") == 0
    assert B.ingest_bloom_batch(spark, path, corpus, "key") == 0


def test_streaming_bloom_sink_parity_and_replay(spark, tmp_path):
    """NINTH streaming form: two single-file triggers (the second
    replays an already-ingested key) leave the streamed index
    bit-identical to the batch-ingested twin, with exactly-once key
    counts and an at-least-once epoch ack."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from data_pengadaan_agent_spark.streaming import windows as SW

    streamed, batched = str(tmp_path / "s_idx"), str(tmp_path / "b_idx")
    corpus = spark.range(0, 100).select(F.col("id").alias("key"))
    B.build_bloom_index(corpus, streamed, key_col="key", n_buckets=4, n_words=64, k=5)
    B.build_bloom_index(corpus, batched, key_col="key", n_buckets=4, n_words=64, k=5)

    src = str(tmp_path / "src")
    os.makedirs(src)
    shard1 = [90, 150, 151]
    shard2 = [151, 152]  # 151 replays across epochs

    def write_file(name, keys, mtime):
        p = os.path.join(src, name)
        papq.write_table(pa.table({"key": pa.array(keys, pa.int64())}), p)
        os.utime(p, (mtime, mtime))

    write_file("f1.parquet", shard1, 1_700_000_000)
    write_file("f2.parquet", shard2, 1_700_000_100)
    stream = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = SW.foreach_batch_bloom_sink(
        stream, streamed, str(tmp_path / "ack"), str(tmp_path / "ckpt"), key_col="key"
    )
    q.processAllAvailable()
    q.stop()

    for keys in (shard1, shard2):
        B.ingest_bloom_batch(
            spark,
            batched,
            spark.createDataFrame([(x,) for x in keys], "key LONG"),
            "key",
        )
    assert _grouped(spark, streamed) == _grouped(spark, batched)
    s_keys = sorted(
        r.key for r in spark.read.parquet(f"{streamed}/keys").distinct().collect()
    )
    assert s_keys == sorted(set(range(100)) | {150, 151, 152})
    acks = spark.read.parquet(str(tmp_path / "ack"))
    assert acks.count() == 2
    assert {r.batch_id: r.n_new for r in acks.collect()} == {0: 2, 1: 1}
    assert B.audit_bloom_index(spark, streamed, "key").count() == 0


def test_null_keys_are_dropped_not_churned(spark, idx):
    """A NULL key has no identity: its probe rows explode to nothing,
    so it could never be registered and would re-classify as 'new' on
    every ingest forever — the ingest path drops NULLs up front."""
    path, _ = idx
    batch = spark.createDataFrame([(None,), (500,)], "key LONG")
    assert B.ingest_bloom_batch(spark, path, batch, "key") == 1
    assert B.ingest_bloom_batch(spark, path, batch, "key") == 0  # no NULL churn
    keys = spark.read.parquet(f"{path}/keys")
    assert keys.filter("key IS NULL").count() == 0


def test_build_drops_null_keys_and_guards_key_type(spark, tmp_path):
    """Self-review r12: (a) a NULL key registered at BUILD time (the
    ingest path already dropped them) wrote a keys/ row with no bits —
    a permanent missing_bits alarm repair could never converge away;
    (b) a non-integral key column would hash to NULL silently on
    ANSI-off deployments (every key 'definitely new' forever) — both
    now refuse/drop loudly at the entry points."""
    path = str(tmp_path / "bnull")
    df = spark.createDataFrame([(1,), (None,), (2,)], "key LONG")
    B.build_bloom_index(df, path, key_col="key", n_buckets=2, n_words=16, k=3)
    keys = spark.read.parquet(f"{path}/keys")
    assert keys.filter("key IS NULL").count() == 0
    assert B.audit_bloom_index(spark, path, "key").count() == 0
    assert B.repair_bloom_index(spark, path, "key") == 0  # converged, no-op
    sdf = spark.createDataFrame([("abc",)], "key STRING")
    with pytest.raises(ValueError, match="integral"):
        B.build_bloom_index(sdf, str(tmp_path / "bstr"), key_col="key")
    with pytest.raises(ValueError, match="integral"):
        B.bloom_new_rows(spark, path, sdf, "key")


def test_meta_freezes_key_col(spark, idx, tmp_path):
    """Meta v2 (VERDICT r12 ask #3): key_col is frozen at build like
    the kmv/cms meta contract. A post-build call keyed on a DIFFERENT
    column — the miskeyed-append bug previously caught only by
    convention — fails loudly; omitting key_col resolves to the
    frozen one; a v1 meta (no key_col) is rejected as a whole."""
    path, corpus = idx
    wrong = corpus.withColumnRenamed("key", "other_key")
    with pytest.raises(ValueError, match="frozen on key column 'key'"):
        B.bloom_new_rows(spark, path, wrong, "other_key")
    with pytest.raises(ValueError, match="frozen on key column 'key'"):
        B.ingest_bloom_batch(spark, path, wrong, "other_key")
    with pytest.raises(ValueError, match="frozen on key column 'key'"):
        B.probe_bloom(spark, path, wrong, "other_key")
    with pytest.raises(ValueError, match="frozen on key column 'key'"):
        B.audit_bloom_index(spark, path, "other_key")
    # None resolves to the frozen column — full default-key lifecycle
    assert B.bloom_new_rows(spark, path, corpus).count() == 0
    assert B.audit_bloom_index(spark, path).count() == 0
    assert B.repair_bloom_index(spark, path) == 0
    assert B.bloom_fill_report(spark, path).count() == 4
    # v1 meta (geometry only, no key_col) is loudly invalid
    v1 = str(tmp_path / "bloom_v1")
    B.build_bloom_index(corpus, v1, key_col="key", n_buckets=2, n_words=16, k=3)
    spark.createDataFrame(
        [(2, 16, 3)], "n_buckets int, n_words int, k int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{v1}/meta")
    with pytest.raises(ValueError, match="key_col freeze"):
        B.bloom_new_rows(spark, v1, corpus, "key")


def test_meta_v3_n_keys_marker_maintained(spark, idx):
    """r15 count marker (VERDICT r14 ask #8): n_keys is exact after
    build, refreshed by ingest (recount semantics — crash states
    self-heal at the next ingest, even an all-duplicate no-op), and
    carried through compaction unchanged."""
    path, corpus = idx
    meta4, n_keys = B.read_meta_counts(spark, path)
    assert meta4 == (4, 64, 5, "key")
    assert n_keys == 300
    # ingest 50 new + 50 dup keys -> marker reflects the registry
    batch = spark.range(250, 350).select(F.col("id").alias("key"))
    assert B.ingest_bloom_batch(spark, path, batch, "key") == 50
    assert B.read_meta_counts(spark, path)[1] == 350
    # simulate the crash window: keys landed but meta rewrite lost —
    # the next (pure-duplicate, 0-new) ingest must re-sync the marker
    B._write_meta(spark, f"{path}/meta", 4, 64, 5, "key", 300)
    assert B.read_meta_counts(spark, path)[1] == 300
    assert B.ingest_bloom_batch(spark, path, batch, "key") == 0
    assert B.read_meta_counts(spark, path)[1] == 350
    # compaction preserves the marker
    B.compact_bloom_index(spark, path, "key")
    assert B.read_meta_counts(spark, path)[1] == 350


def test_meta_v2_rejected_loudly(spark, idx):
    """Version bump: a pre-r15 meta (no n_keys column) must fail with
    the rebuild message, never be silently trusted — the v1 key_col
    freeze policy."""
    from data_pengadaan_agent_spark.sources.catalog import local_df

    path, _ = idx
    local_df(
        spark,
        [(4, 64, 5, "key")],
        "n_buckets int, n_words int, k int, key_col string",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    with pytest.raises(ValueError, match="meta v2"):
        B._read_meta(spark, path)
    with pytest.raises(ValueError, match="meta v2"):
        B.read_meta_counts(spark, path)
