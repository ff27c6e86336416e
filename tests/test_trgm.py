"""Trigram-index family: build → append → pruned substring/similarity
search, with the repo's standard index invariants: the index path
reproduces the direct scan EXACTLY (lossless-superset + verify), the
query scan is partition-pruned to the pattern grams' buckets, appends
are replay-safe and base-independent, audit/repair close the append
crash window, and compaction is bit-identical."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import trgm as T


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mini_corpus(spark):
    rows = [
        (1, "the quick brown fox jumps"),
        (2, "a quick brown dog naps"),
        (3, "slow green turtle walks"),
        (4, "THE QUICK BROWN FOX JUMPS"),  # case-folds equal to doc 1
        (5, "xy"),  # shorter than the gram length: zero grams
        (6, "quickest brownie recipe"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _direct(docs, pattern):
    return sorted(
        r["doc_id"]
        for r in docs.filter(F.lower("text").contains(pattern.lower())).collect()
    )


def test_substring_search_matches_direct_scan(spark, tmp_path):
    docs = _mini_corpus(spark)
    path = str(tmp_path / "tidx")
    T.build_trgm_index(docs, path, n_buckets=8)
    res = T.substring_search(spark, path, docs, ["quick brown", "TURTLE"])
    got = {}
    for r in res.collect():
        got.setdefault(r["pattern"], []).append(r["doc_id"])
    assert sorted(got["quick brown"]) == _direct(docs, "quick brown") == [1, 2, 4]
    assert sorted(got["TURTLE"]) == _direct(docs, "turtle") == [3]


def test_substring_search_verification_kills_false_candidates(spark, tmp_path):
    """'own fox' has grams {own, wn , n f, ' fo', fox} — docs 1 and 4
    contain ALL of them ('brown fox') but doc 2 has own/wn only:
    candidate superset shrinks to the exact answer. And a pattern
    whose grams all exist corpus-wide but never contiguously must
    return empty, proving verification is the exactness barrier."""
    docs = _mini_corpus(spark)
    path = str(tmp_path / "tidx")
    T.build_trgm_index(docs, path, n_buckets=8)
    res = T.substring_search(spark, path, docs, ["own fox", "fox naps"])
    got = {}
    for r in res.collect():
        got.setdefault(r["pattern"], []).append(r["doc_id"])
    assert sorted(got.get("own fox", [])) == [1, 4]
    # 'fox' (docs 1,4) and ' naps' (doc 2) co-occur nowhere
    assert got.get("fox naps") is None


def test_substring_search_prunes_bucket_partitions(spark, tmp_path):
    docs = _mini_corpus(spark)
    path = str(tmp_path / "tidx")
    T.build_trgm_index(docs, path, n_buckets=8)
    import re

    plan = _plan(T.substring_search(spark, path, docs, ["quick brown"]))
    m = re.search(r"PartitionFilters: \[bucket#\d+ IN \([\d,]+\)\]", plan)
    assert m, f"pattern buckets must land in PartitionFilters; plan:\n{plan[:2000]}"
    sim_plan = _plan(T.trgm_similar(spark, path, "quick brown", 1))
    assert re.search(r"PartitionFilters: \[bucket#\d+ IN \([\d,]+\)\]", sim_plan)


def test_substring_search_rejects_sub_gram_pattern(spark, tmp_path):
    docs = _mini_corpus(spark)
    path = str(tmp_path / "tidx")
    T.build_trgm_index(docs, path, n_buckets=8)
    with pytest.raises(ValueError, match="shorter than the gram"):
        T.substring_search(spark, path, docs, ["ab"])
    with pytest.raises(ValueError, match="at least one pattern"):
        T.substring_search(spark, path, docs, [])


def test_trgm_similar_exact_integer_scores(spark, tmp_path):
    """Hand-checked similarity: pattern = doc 3's exact text gives
    sim_ppm = 1e6 (identical gram sets); a disjoint pattern never
    appears; scores are exact integer DIV."""
    docs = _mini_corpus(spark)
    path = str(tmp_path / "tidx")
    T.build_trgm_index(docs, path, n_buckets=8)
    rows = T.trgm_similar(spark, path, "slow green turtle walks", 1).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[3]["sim_ppm"] == 1_000_000
    assert by_id[3]["inter"] == by_id[3]["n_grams"]
    for r in rows:
        assert (
            r["sim_ppm"]
            == (1_000_000 * r["inter"]) // (r["n_grams"] + by_id[3]["n_grams"] - r["inter"])
        )
    assert T.trgm_similar(spark, path, "zzzzqqqq", 1).count() == 0
    with pytest.raises(ValueError, match="min_sim_ppm"):
        T.trgm_similar(spark, path, "slow green", 0)


def test_append_replay_safe_and_base_independent(spark, tmp_path):
    docs = _mini_corpus(spark)
    path = str(tmp_path / "tidx")
    T.build_trgm_index(docs, path, n_buckets=8)
    shard = spark.createDataFrame(
        [(10, "quick brown bear growls"), (1, "the quick brown fox jumps")],
        "doc_id LONG, text STRING",
    )
    assert T.append_trgm_index(shard, path) == 1  # doc 1 already registered
    assert T.append_trgm_index(shard, path) == 0  # replay no-op
    both = docs.unionByName(shard.filter(F.col("doc_id") == 10))
    got = sorted(
        r["doc_id"]
        for r in T.substring_search(spark, path, both, ["quick brown"]).collect()
    )
    assert got == [1, 2, 4, 10]
    assert T.audit_trgm_index(spark, path).count() == 0


def test_audit_flags_lost_postings_and_repair_heals(spark, tmp_path, monkeypatch):
    """Writer-failure injection replaying the append crash contract:
    the registry commits, the postings write dies. The audit flags
    exactly the shard ids (never the gram-less short doc), repair
    re-grams exactly those docs, and post-repair answers equal a
    never-crashed twin index."""
    docs = _mini_corpus(spark)
    path = str(tmp_path / "tidx")
    twin = str(tmp_path / "twin")
    T.build_trgm_index(docs, path, n_buckets=8)
    T.build_trgm_index(docs, twin, n_buckets=8)
    shard = spark.createDataFrame(
        [(10, "quick brown bear growls"), (11, "ab")],
        "doc_id LONG, text STRING",
    )

    import data_pengadaan_agent_spark.operators.trgm as tmod

    real = tmod._gram_rows
    calls = {"n": 0}

    def dying(*a, **k):
        postings, registry = real(*a, **k)

        class Boom:
            def __init__(self, df):
                self._df = df

            @property
            def write(self):
                raise RuntimeError("injected postings writer failure")

            def __getattr__(self, name):
                return getattr(self._df, name)

        calls["n"] += 1
        if calls["n"] == 1:
            return Boom(postings), registry
        return postings, registry

    monkeypatch.setattr(tmod, "_gram_rows", dying)
    with pytest.raises(RuntimeError, match="injected"):
        T.append_trgm_index(shard, path)
    monkeypatch.undo()

    flagged = {
        (r["doc_id"], r["state"]) for r in T.audit_trgm_index(spark, path).collect()
    }
    assert flagged == {(10, "missing_postings")}  # 11 has zero grams: legit

    # replay is a no-op (registry committed), so repair is the healer
    assert T.append_trgm_index(shard, path) == 0
    with pytest.raises(ValueError, match="missing flagged"):
        T.repair_trgm_index(docs, path)  # source lacks doc 10
    assert T.repair_trgm_index(docs.unionByName(shard), path) == 1
    assert T.audit_trgm_index(spark, path).count() == 0
    assert T.repair_trgm_index(shard, path) == 0  # clean audit: no-op

    T.append_trgm_index(shard, twin)
    both = docs.unionByName(shard)
    for pat in ["quick brown", "bear"]:
        a = sorted(map(tuple, T.substring_search(spark, path, both, [pat]).collect()))
        b = sorted(map(tuple, T.substring_search(spark, twin, both, [pat]).collect()))
        assert a == b and len(a) > 0


def test_compact_bit_identical_and_refuses_dirty(spark, tmp_path):
    docs = _mini_corpus(spark)
    path = str(tmp_path / "tidx")
    T.build_trgm_index(docs, path, n_buckets=4)
    for i in range(3):
        shard = spark.createDataFrame(
            [(100 + i, f"quick brown shard {i} text")], "doc_id LONG, text STRING"
        )
        T.append_trgm_index(shard, path)
    all_docs = docs.unionByName(
        spark.createDataFrame(
            [(100 + i, f"quick brown shard {i} text") for i in range(3)],
            "doc_id LONG, text STRING",
        )
    )
    before = sorted(
        map(tuple, T.substring_search(spark, path, all_docs, ["quick brown"]).collect())
    )
    removed = T.compact_trgm_index(spark, path, target_files_per_bucket=1)
    assert removed > 0
    after = sorted(
        map(tuple, T.substring_search(spark, path, all_docs, ["quick brown"]).collect())
    )
    assert before == after
    # appends keep working post-compaction
    assert (
        T.append_trgm_index(
            spark.createDataFrame([(200, "quick brown late")], "doc_id LONG, text STRING"),
            path,
        )
        == 1
    )


def test_build_is_commit_marked_and_rejects_missing_meta(spark, tmp_path):
    docs = _mini_corpus(spark)
    path = str(tmp_path / "tidx")
    T.build_trgm_index(docs, path, n_buckets=8)
    # simulate a crash-before-commit: delete meta
    import shutil

    shutil.rmtree(f"{path}/meta")
    with pytest.raises(ValueError, match="no readable meta"):
        T.substring_search(spark, path, docs, ["quick brown"])
    with pytest.raises(ValueError, match="no readable meta"):
        T.append_trgm_index(docs, path)


def test_char_grams_law(spark):
    """The gram law: distinct, lowercased, interior 3-grams; short
    strings yield EMPTY (not a descending-sequence artifact)."""
    df = spark.createDataFrame(
        [("Abcd",), ("ab",), ("",), ("aaaa",)], "text STRING"
    )
    got = [r["g"] for r in df.select(T.char_grams("text").alias("g")).collect()]
    assert got[0] == ["abc", "bcd"]
    assert got[1] == [] and got[2] == []
    assert got[3] == ["aaa"]  # set semantics: duplicate gram collapses


def test_streaming_trgm_sink_matches_batch_appends(spark, tmp_path):
    """The sixth streaming form: file-per-trigger ingest into a
    maintained trigram index equals the batch append sequence
    (first-wins duplicate rejected, audit clean, new docs immediately
    searchable), and the at-least-once epoch ack logs every arrival."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from data_pengadaan_agent_spark.streaming import windows as SW

    docs = _mini_corpus(spark)
    streamed, batched = str(tmp_path / "s_idx"), str(tmp_path / "b_idx")
    T.build_trgm_index(docs, streamed, n_buckets=8)
    T.build_trgm_index(docs, batched, n_buckets=8)

    src = str(tmp_path / "src")
    os.makedirs(src)
    shard1 = [(100, "quick brown bear growls"), (101, "purple monkey dishwasher")]
    shard2 = [(101, "REPLAYED TEXT IGNORED"), (102, "quick brown badger digs")]

    def write_file(name, rows, mtime):
        tbl = pa.table({
            "doc_id": pa.array([i for i, _ in rows], pa.int64()),
            "text": pa.array([t for _, t in rows], pa.string()),
        })
        p = os.path.join(src, name)
        papq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    write_file("f1.parquet", shard1, 1_700_000_000)
    write_file("f2.parquet", shard2, 1_700_000_100)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = SW.foreach_batch_trgm_sink(
        stream, streamed, str(tmp_path / "ack"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    sh1 = spark.createDataFrame(shard1, "doc_id LONG, text STRING")
    sh2 = spark.createDataFrame(shard2, "doc_id LONG, text STRING")
    T.append_trgm_index(sh1, batched)
    T.append_trgm_index(sh2, batched)

    all_docs = docs.unionByName(sh1).unionByName(
        sh2.filter(F.col("doc_id") == 102)
    )
    for pat in ["quick brown", "monkey dish"]:
        a = sorted(map(tuple, T.substring_search(spark, streamed, all_docs, [pat]).collect()))
        b = sorted(map(tuple, T.substring_search(spark, batched, all_docs, [pat]).collect()))
        assert a == b and len(a) > 0
    # first-wins: 101's replay text was never indexed
    assert (
        T.substring_search(spark, streamed, all_docs, ["replayed text"]).count() == 0
    )
    assert T.audit_trgm_index(spark, streamed).count() == 0
    acks = spark.read.parquet(str(tmp_path / "ack"))
    assert acks.select("_epoch").distinct().count() == 2
    assert acks.filter(F.col("doc_id") == 101).count() == 2  # at-least-once


def test_duplicated_postings_never_lose_hits(spark, tmp_path):
    """Self-review r12: duplicate posting rows (a racing/retried
    append, or a partial-commit repair re-appending) must not break
    queries — _got >= _need keeps true candidates (the old equality
    silently dropped them when _got overshot), countDistinct keeps
    trgm_similar's intersection exact, and the count-based audit
    stays clean (duplicates are not missing postings)."""
    docs = _mini_corpus(spark)
    idx = str(tmp_path / "dupidx")
    T.build_trgm_index(docs, idx, n_buckets=8)
    before_search = [
        tuple(r) for r in T.substring_search(spark, idx, docs, ["quick"]).collect()
    ]
    before_sim = [
        tuple(r) for r in T.trgm_similar(spark, idx, "the quick brown fox", 100_000).collect()
    ]
    # duplicate EVERY posting row of doc 1 (worst case)
    posts = spark.read.parquet(f"{idx}/postings").filter("doc_id = 1")
    posts.write.mode("append").partitionBy("bucket").parquet(f"{idx}/postings")
    assert T.audit_trgm_index(spark, idx).count() == 0
    after_search = [
        tuple(r) for r in T.substring_search(spark, idx, docs, ["quick"]).collect()
    ]
    after_sim = [
        tuple(r) for r in T.trgm_similar(spark, idx, "the quick brown fox", 100_000).collect()
    ]
    assert after_search == before_search and 1 in {r[1] for r in after_search}
    assert after_sim == before_sim


def test_audit_flags_partial_postings_and_repair_heals(spark, tmp_path):
    """Self-review r12: a PARTIALLY committed postings append (some
    rows visible, not all) under-recalls silently; the audit compares
    per-doc distinct hashes against the registered n_grams instead of
    mere existence. Repair re-grams the flagged doc and search finds
    it again."""
    docs = _mini_corpus(spark)
    idx = str(tmp_path / "partidx")
    T.build_trgm_index(docs, idx, n_buckets=4)
    # drop HALF of doc 2's posting rows (simulated partial commit)
    posts = spark.read.parquet(f"{idx}/postings")
    doc2_h = sorted(r.h for r in posts.filter("doc_id = 2").collect())
    keep_h = set(doc2_h[: len(doc2_h) // 2])
    pruned = posts.filter(
        (F.col("doc_id") != 2) | F.col("h").isin([int(h) for h in keep_h])
    ).localCheckpoint(eager=True)
    pruned.write.mode("overwrite").partitionBy("bucket").parquet(f"{idx}/postings")
    flagged = {(r.doc_id, r.state) for r in T.audit_trgm_index(spark, idx).collect()}
    assert flagged == {(2, "missing_postings")}
    assert T.repair_trgm_index(docs, idx) == 1
    assert T.audit_trgm_index(spark, idx).count() == 0
    got = {r.doc_id for r in T.substring_search(spark, idx, docs, ["quick"]).collect()}
    assert 2 in got


def test_repair_refuses_drifted_source_text(spark, tmp_path):
    """Self-review r12: repairing a flagged doc from a source whose
    text was EDITED since ingest would write postings disagreeing with
    the registered n_grams — refused loudly (gram-count guard)."""
    docs = _mini_corpus(spark)
    idx = str(tmp_path / "driftidx")
    T.build_trgm_index(docs, idx, n_buckets=4)
    # lose ALL of doc 3's postings
    posts = spark.read.parquet(f"{idx}/postings")
    posts.filter("doc_id != 3").localCheckpoint(eager=True).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{idx}/postings")
    drifted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 3, F.lit("totally different and longer text"))
        .otherwise(F.col("text")),
    )
    with pytest.raises(ValueError, match="drifted"):
        T.repair_trgm_index(drifted, idx)
    assert T.repair_trgm_index(docs, idx) == 1  # honest source heals
