"""Postings-index family: build → append → partition-pruned BM25.

The invariants that decide 100 TB behavior: the index path reproduces
the from-scratch batch operator BIT-EXACTLY (same integer arithmetic,
so equality is on values, not approximately), the query scan is
partition-pruned to the query terms' buckets, and appends are
validated + base-independent (existing partitions untouched).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import lexindex as LX
from data_pengadaan_agent_spark.operators import textan as X


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mini_corpus(spark):
    rows = [
        (1, "apple banana cherry apple durian"),
        (2, "banana cherry cherry fig grape"),
        (3, "apple apple apple honeydew kiwi lemon"),
        (4, "mango nectarine orange papaya quince"),
        (5, "banana fig fig grape honeydew"),
        (6, "cherry durian elderberry fig grape apple"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _queries(spark):
    return spark.createDataFrame(
        [(100, ["apple", "fig"]), (200, ["cherry"]), (300, ["zzz_oov"])],
        "qid LONG, terms ARRAY<STRING>",
    )


def test_bm25_from_index_matches_direct_batch(spark, tmp_path):
    """The index path and the from-scratch path share one integer
    contribution (textan.bm25_int_coeffs) — their outputs must be
    IDENTICAL, including scores, ranks, and the absence of the
    all-OOV query."""
    docs, qs = _mini_corpus(spark), _queries(spark)
    path = str(tmp_path / "pidx")
    LX.build_postings_index(docs, path, n_buckets=8)
    got = sorted(
        map(tuple, LX.bm25_from_index(spark, path, qs, k=3).collect())
    )
    want = sorted(map(tuple, X.bm25_retrieval_batch(qs, docs, k=3).collect()))
    assert got == want and len(got) > 0
    assert not any(r[0] == 300 for r in got)  # OOV query ranks nothing


def test_bm25_from_index_prunes_bucket_partitions(spark, tmp_path):
    """The query predicate must land in PartitionFilters (only the
    query terms' bucket directories are read), never degrade to a
    post-scan data filter."""
    docs, qs = _mini_corpus(spark), _queries(spark)
    path = str(tmp_path / "pidx")
    LX.build_postings_index(docs, path, n_buckets=8)
    plan = _plan(LX.bm25_from_index(spark, path, qs, k=3))
    part_filters = [
        seg.splitlines()[0] for seg in plan.split("PartitionFilters:")[1:]
    ]
    assert part_filters and any("bucket" in s for s in part_filters)
    assert all(
        "bucket" not in seg.splitlines()[0]
        for seg in plan.split("PushedFilters:")[1:]
    )


def test_append_postings_index_validates_and_matches_rebuild(spark, tmp_path):
    """Append drops in-shard duplicates AND already-indexed ids, then
    the queried index equals a from-scratch rebuild over the union —
    the incremental path changes WHEN work happens, never the answer."""
    docs, qs = _mini_corpus(spark), _queries(spark)
    base = docs.filter(F.col("doc_id") <= 4)
    shard = docs.filter(F.col("doc_id") >= 4)  # doc 4 overlaps the base
    path = str(tmp_path / "pidx")
    LX.build_postings_index(base, path, n_buckets=8)
    n = LX.append_postings_index(shard.union(shard), path)  # in-shard dups too
    assert n == 2  # docs 5 and 6 only
    got = sorted(
        map(tuple, LX.bm25_from_index(spark, path, qs, k=3).collect())
    )
    rebuilt = str(tmp_path / "pidx_full")
    LX.build_postings_index(docs, rebuilt, n_buckets=8)
    want = sorted(
        map(tuple, LX.bm25_from_index(spark, rebuilt, qs, k=3).collect())
    )
    assert got == want
    # idempotent: replaying the same shard appends nothing
    assert LX.append_postings_index(shard, path) == 0


def test_postings_meta_stats_marker(spark, tmp_path):
    """r15 meta v2: the meta carries exact (n_docs, Σdl) maintained by
    build and recounted-on-append, equal to the committed doclen
    aggregate at every state; a pre-stats (v1) meta is rejected with a
    loud rebuild message, never silently served."""
    docs = _mini_corpus(spark)
    base = docs.filter(F.col("doc_id") <= 4)
    shard = docs.filter(F.col("doc_id") >= 5)
    path = str(tmp_path / "pidx")
    LX.build_postings_index(base, path, n_buckets=8)

    def doclen_agg():
        r = (
            spark.read.parquet(f"{path}/doclen")
            .agg(F.count(F.lit(1)), F.sum("dl"))
            .collect()[0]
        )
        return int(r[0]), int(r[1])

    assert LX.read_meta_stats(spark, path) == (8, *doclen_agg())
    assert LX.append_postings_index(shard, path) == 2
    assert LX.read_meta_stats(spark, path) == (8, *doclen_agg())
    # replayed append (n_new == 0) leaves the stats untouched and right
    assert LX.append_postings_index(shard, path) == 0
    assert LX.read_meta_stats(spark, path) == (8, *doclen_agg())
    # ADVICE low #1: a crash after doclen+postings committed but before
    # the meta rewrite leaves the stats stale-low; the replay appends
    # nothing yet must heal them from the committed doclen
    LX._write_meta(spark, f"{path}/meta", 8, 1, 1)
    assert LX.append_postings_index(shard, path) == 0
    assert LX.read_meta_stats(spark, path) == (8, *doclen_agg())
    # a v1 meta (n_buckets only) is rejected loudly
    from data_pengadaan_agent_spark.sources.catalog import local_df

    local_df(spark, [(8,)], "n_buckets int").write.mode("overwrite").parquet(
        f"{path}/meta"
    )
    with pytest.raises(ValueError, match="meta v1"):
        LX.read_meta_stats(spark, path)
    with pytest.raises(ValueError, match="meta v1"):
        LX.bm25_from_index(spark, path, _queries(spark))


def test_postings_meta_is_commit_marker(spark, tmp_path):
    """No meta = no index: readers reject an uncommitted build (the
    crash-mid-build state) with a clear error, and bad build params
    fail fast."""
    docs = _mini_corpus(spark)
    path = str(tmp_path / "pidx")
    LX.build_postings_index(docs, path, n_buckets=8)
    # simulate a crash-mid-rebuild: meta deleted first, data half-new
    import shutil

    shutil.rmtree(str(tmp_path / "pidx" / "meta"))
    with pytest.raises(ValueError, match="meta"):
        LX.bm25_from_index(spark, path, _queries(spark))
    with pytest.raises(ValueError, match="meta"):
        LX.append_postings_index(docs, path)
    with pytest.raises(ValueError, match="n_buckets"):
        LX.build_postings_index(docs, str(tmp_path / "p2"), n_buckets=0)


def test_append_crash_contract_and_audit(spark, tmp_path):
    """doclen commits FIRST: a replay after any mid-append crash is a
    no-op (never double-counted tf/df), and the surviving lost-shard
    state — doclen committed, postings write died — is exactly what
    audit_postings_index reports. Simulated by deleting the shard's
    postings rows after a successful append."""
    import glob
    import os

    docs = _mini_corpus(spark)
    base = docs.filter(F.col("doc_id") <= 4)
    shard = docs.filter(F.col("doc_id") >= 5)
    path = str(tmp_path / "pidx")
    LX.build_postings_index(base, path, n_buckets=8)
    assert LX.audit_postings_index(spark, path).count() == 0
    before = {
        os.path.basename(f)
        for f in glob.glob(str(tmp_path / "pidx" / "postings" / "*" / "*.parquet"))
    }
    assert LX.append_postings_index(shard, path) == 2
    assert LX.audit_postings_index(spark, path).count() == 0
    # crash simulation: the shard's postings files vanish, doclen stays
    for f in glob.glob(str(tmp_path / "pidx" / "postings" / "*" / "*.parquet")):
        if os.path.basename(f) not in before:
            os.remove(f)
    audit = {
        (r["doc_id"], r["state"])
        for r in LX.audit_postings_index(spark, path).collect()
    }
    assert audit == {(5, "missing_postings"), (6, "missing_postings")}
    # the replay contract: doclen already committed -> append skips,
    # so tf/df are never double-counted (repair is targeted, not replay)
    assert LX.append_postings_index(shard, path) == 0


def test_compact_postings_index_preserves_answers(spark, tmp_path):
    """Compaction shrinks the file count after a run of appends and
    the compacted index answers BIT-identically; a stale meta-less
    state mid-swap is rejected like any uncommitted index."""
    import glob

    docs, qs = _mini_corpus(spark), _queries(spark)
    path = str(tmp_path / "pidx")
    LX.build_postings_index(docs.filter(F.col("doc_id") <= 2), path, n_buckets=4)
    for lo, hi in ((3, 4), (5, 5), (6, 6)):
        LX.append_postings_index(
            docs.filter(F.col("doc_id").between(lo, hi)), path
        )
    want = sorted(map(tuple, LX.bm25_from_index(spark, path, qs, k=3).collect()))
    n_before = len(glob.glob(str(tmp_path / "pidx" / "postings" / "*" / "*.parquet")))
    removed = LX.compact_postings_index(spark, path, target_files_per_bucket=1)
    n_after = len(glob.glob(str(tmp_path / "pidx" / "postings" / "*" / "*.parquet")))
    assert removed == n_before - n_after and n_after < n_before
    got = sorted(map(tuple, LX.bm25_from_index(spark, path, qs, k=3).collect()))
    assert got == want
    assert LX.audit_postings_index(spark, path).count() == 0
    # appends still work on the compacted index
    extra = spark.createDataFrame([(99, "apple fig zz")], "doc_id LONG, text STRING")
    assert LX.append_postings_index(extra, path) == 1


def test_compact_target_splits_buckets(spark, tmp_path):
    """target_files_per_bucket > 1 must actually spread a bucket over
    multiple files (hashing on bucket alone would collapse each bucket
    to ONE partition and silently ignore the target)."""
    import glob

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    path = str(tmp_path / "pidx")
    LX.build_postings_index(docs, path, n_buckets=2)
    qs = _queries(spark)
    want = sorted(map(tuple, LX.bm25_from_index(spark, path, qs, k=3).collect()))
    LX.compact_postings_index(spark, path, target_files_per_bucket=3)
    per_bucket = {}
    for f in glob.glob(str(tmp_path / "pidx" / "postings" / "*" / "*.parquet")):
        b = f.split("bucket=")[1].split("/")[0]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert per_bucket and any(n >= 2 for n in per_bucket.values()), per_bucket
    assert all(n <= 3 for n in per_bucket.values()), per_bucket
    got = sorted(map(tuple, LX.bm25_from_index(spark, path, qs, k=3).collect()))
    assert got == want
