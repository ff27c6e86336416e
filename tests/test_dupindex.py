"""Incremental gram-count index: build → append → shard dup spans.

The load-bearing invariant: after append, the shard's incremental
spans equal the full-recompute ``dup_spans(base ∪ shard)`` restricted
to the shard — the incremental path changes WHEN work happens, never
the answer (for the shard; the base-side asymmetry is the documented
new-vs-seen contract shared with incremental_dedup).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import dupindex as DI
from data_pengadaan_agent_spark.operators import textan as X

RUN = "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"  # 10 tokens > length=8


def _base(spark):
    return spark.createDataFrame(
        [
            (1, RUN + " base tail words here"),
            (2, "completely unique base doc two"),
        ],
        "doc_id LONG, text STRING",
    )


def _shard(spark):
    return spark.createDataFrame(
        [
            (10, "front pad " + RUN),             # duplicates base doc 1
            (11, "s1 s2 s3 s4 s5 s6 s7 s8 mid gap t1 t2 "
                 "s1 s2 s3 s4 s5 s6 s7 s8"),       # within-doc repeat
            (12, "s1 s2 s3 s4 s5 s6 s7 s8 other"),  # duplicates doc 11's run
            (13, "entirely fresh shard text"),
        ],
        "doc_id LONG, text STRING",
    )


def _spans(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_matches_full_recompute(spark, tmp_path):
    base, shard = _base(spark), _shard(spark)
    path = str(tmp_path / "gidx")
    DI.build_gram_counts(base, path, length=8, n_buckets=8)
    assert DI.append_gram_counts(shard, path) == 4
    got = _spans(DI.dup_spans_incremental(spark, path, shard))
    full = X.dup_spans(base.union(shard), length=8)
    want = _spans(full.filter(F.col("doc_id") >= 10))
    assert got == want and len(got) > 0
    ids = {r[0] for r in got}
    assert {10, 11, 12} <= ids and 13 not in ids
    # the documented asymmetry: base doc 1 became duplicated when the
    # shard arrived, and the INCREMENTAL view does not re-report it
    assert 1 in {r["doc_id"] for r in full.collect()}
    # production hash family: same spans through xxhash64 counts
    path2 = str(tmp_path / "gidx_prod")
    DI.build_gram_counts(base, path2, length=8, n_buckets=8, arith_hash=False)
    DI.append_gram_counts(shard, path2)
    assert _spans(DI.dup_spans_incremental(spark, path2, shard)) == want


def test_incremental_requires_appended_shard(spark, tmp_path):
    base, shard = _base(spark), _shard(spark)
    path = str(tmp_path / "gidx")
    DI.build_gram_counts(base, path, length=8, n_buckets=8)
    with pytest.raises(ValueError, match="append_gram_counts"):
        DI.dup_spans_incremental(spark, path, shard)


def test_append_replay_is_noop(spark, tmp_path):
    """Registry commits first: replaying a shard appends nothing and
    never doubles gram counts (doubled counts would fabricate
    duplicates corpus-wide)."""
    base, shard = _base(spark), _shard(spark)
    path = str(tmp_path / "gidx")
    DI.build_gram_counts(base, path, length=8, n_buckets=8)
    assert DI.append_gram_counts(shard, path) == 4
    before = _spans(DI.dup_spans_incremental(spark, path, shard))
    assert DI.append_gram_counts(shard, path) == 0
    assert DI.append_gram_counts(shard.union(shard), path) == 0
    assert _spans(DI.dup_spans_incremental(spark, path, shard)) == before
    # doc 13 is unique corpus-wide: replays must not have made it dup
    assert 13 not in {r[0] for r in before}


def test_meta_is_commit_marker_and_gram_law(spark, tmp_path):
    base = _base(spark)
    path = str(tmp_path / "gidx")
    DI.build_gram_counts(base, path, length=4, n_buckets=8)
    # the gram law (length=4) comes from meta, not the caller
    shard = spark.createDataFrame(
        [(20, "d1 d2 d3 d4 tail"), (21, "pre d1 d2 d3 d4")],
        "doc_id LONG, text STRING",
    )
    DI.append_gram_counts(shard, path)
    got = {r["doc_id"]: (r["span_start"], r["span_end"]) for r in
           DI.dup_spans_incremental(spark, path, shard).collect()}
    assert got == {20: (0, 3), 21: (1, 4)}
    import shutil

    shutil.rmtree(str(tmp_path / "gidx" / "meta"))
    with pytest.raises(ValueError, match="meta"):
        DI.dup_spans_incremental(spark, path, shard)
    with pytest.raises(ValueError, match="meta"):
        DI.append_gram_counts(shard, path)
    with pytest.raises(ValueError, match="length and n_buckets"):
        DI.build_gram_counts(base, str(tmp_path / "g2"), length=0)


def test_compact_gram_counts_merges_and_preserves_answers(spark, tmp_path):
    """Compaction merges per-shard count rows (SUM per hash) and
    shrinks files; incremental answers are bit-identical before and
    after, and appends keep working on the compacted index."""
    import glob

    base, shard = _base(spark), _shard(spark)
    path = str(tmp_path / "gidx")
    DI.build_gram_counts(base, path, length=8, n_buckets=4)
    DI.append_gram_counts(shard.filter(F.col("doc_id") <= 11), path)
    DI.append_gram_counts(shard.filter(F.col("doc_id") >= 12), path)
    probe = shard.filter(F.col("doc_id") >= 12)
    want = _spans(DI.dup_spans_incremental(spark, path, probe))
    files_before = len(glob.glob(str(tmp_path / "gidx" / "counts" / "*" / "*.parquet")))
    removed_files, merged_rows = DI.compact_gram_counts(spark, path)
    files_after = len(glob.glob(str(tmp_path / "gidx" / "counts" / "*" / "*.parquet")))
    assert removed_files == files_before - files_after and files_after < files_before
    # doc 12 duplicates doc 11's phrase across two appends: at least
    # that hash had multiple rows to merge
    assert merged_rows > 0
    assert _spans(DI.dup_spans_incremental(spark, path, probe)) == want
    extra = spark.createDataFrame(
        [(99, "s1 s2 s3 s4 s5 s6 s7 s8 fresh tail")], "doc_id LONG, text STRING"
    )
    assert DI.append_gram_counts(extra, path) == 1
    after = _spans(DI.dup_spans_incremental(spark, path, extra))
    assert [(r[1], r[2]) for r in after] == [(0, 7)]


@pytest.mark.slow
def test_build_dedups_repeated_doc_ids(spark, tmp_path):
    """ADVICE r9: a base corpus with repeated doc_ids must not
    double-count grams (fabricating duplicates) — the build path now
    shares the append path's dropDuplicates contract."""
    base = _base(spark)
    dup_base = base.union(base)  # every id twice
    clean, dirty = str(tmp_path / "clean"), str(tmp_path / "dirty")
    DI.build_gram_counts(base, clean, length=8, n_buckets=8)
    DI.build_gram_counts(dup_base, dirty, length=8, n_buckets=8)
    shard = _shard(spark)
    DI.append_gram_counts(shard, clean)
    DI.append_gram_counts(shard, dirty)
    assert _spans(DI.dup_spans_incremental(spark, dirty, shard)) == _spans(
        DI.dup_spans_incremental(spark, clean, shard)
    )
    # and the registry holds each id once
    docs_p = str(tmp_path / "dirty" / "docs")
    reg = spark.read.parquet(docs_p)
    assert reg.count() == reg.select("doc_id").distinct().count()


def test_audit_clean_and_flags_dead_batch(spark, tmp_path):
    """The append crash window: registry committed, counts/marker
    lost. The audit flags exactly that batch; repair heals it so the
    incremental answer equals the never-crashed index's."""
    base, shard = _base(spark), _shard(spark)
    good, crashed = str(tmp_path / "good"), str(tmp_path / "crashed")
    for p in (good, crashed):
        DI.build_gram_counts(base, p, length=8, n_buckets=8)
    assert DI.audit_gram_counts(spark, crashed).count() == 0
    DI.append_gram_counts(shard, good)

    # inject the crash: replay append's REGISTRY write only (step 1),
    # dying before counts and marker
    counts_p, docs_p, _, commits_p = DI._paths(crashed)
    batch = DI._next_batch(spark, docs_p, commits_p)
    shard.select(
        F.col("doc_id"), F.lit(batch).cast("bigint").alias("batch")
    ).write.mode("append").parquet(docs_p)

    flagged = DI.audit_gram_counts(spark, crashed).collect()
    assert [int(r["batch"]) for r in flagged] == [batch]
    assert flagged[0]["n_registry_docs"] == 4
    assert flagged[0]["n_count_rows"] == 0
    # a replayed append is a no-op (anti-join) — the grams stay lost
    assert DI.append_gram_counts(shard, crashed) == 0
    assert DI.audit_gram_counts(spark, crashed).count() == 1
    # compaction refuses to bake the dead batch in
    with pytest.raises(ValueError, match="uncommitted"):
        DI.compact_gram_counts(spark, crashed)
    # repair must see every flagged doc's text
    with pytest.raises(ValueError, match="source frame"):
        DI.repair_gram_counts(spark, crashed, shard.filter(F.col("doc_id") <= 11))
    assert DI.repair_gram_counts(spark, crashed, shard) == 1
    assert DI.audit_gram_counts(spark, crashed).count() == 0
    assert _spans(DI.dup_spans_incremental(spark, crashed, shard)) == _spans(
        DI.dup_spans_incremental(spark, good, shard)
    )


def test_repair_negates_partial_counts(spark, tmp_path):
    """The other crash point: counts landed (fully or partially) but
    the marker didn't. Repair appends NEGATING rows plus a fresh
    recompute — never double-counting — and a crashed repair is
    itself flagged and converges on re-run."""
    base, shard = _base(spark), _shard(spark)
    good, crashed = str(tmp_path / "good"), str(tmp_path / "crashed")
    for p in (good, crashed):
        DI.build_gram_counts(base, p, length=8, n_buckets=8)
    DI.append_gram_counts(shard, good)

    # inject: registry + FULL counts written, marker lost
    counts_p, docs_p, _, commits_p = DI._paths(crashed)
    batch = DI._next_batch(spark, docs_p, commits_p)
    shard.select(
        F.col("doc_id"), F.lit(batch).cast("bigint").alias("batch")
    ).write.mode("append").parquet(docs_p)
    DI._shard_counts(shard, 8, 8, True, "text", "doc_id", batch).write.mode(
        "append"
    ).partitionBy("bucket").parquet(counts_p)

    assert DI.repair_gram_counts(spark, crashed, shard) == 1
    assert DI.audit_gram_counts(spark, crashed).count() == 0
    assert _spans(DI.dup_spans_incremental(spark, crashed, shard)) == _spans(
        DI.dup_spans_incremental(spark, good, shard)
    )
    # net counts are exact: per-hash sums match the healthy index
    healthy = {
        (r["h"], r["s"])
        for r in spark.read.parquet(str(tmp_path / "good" / "counts"))
        .groupBy("h").agg(F.sum("cnt").alias("s")).collect()
    }
    repaired = {
        (r["h"], r["s"])
        for r in spark.read.parquet(counts_p)
        .groupBy("h").agg(F.sum("cnt").alias("s"))
        .filter(F.col("s") != 0).collect()
    }
    assert repaired == healthy

    # crashed REPAIR convergence: fake a dead repair batch (negations
    # landed, no marker), then a real repair heals everything
    dead_repair = DI._next_batch(spark, docs_p, commits_p)
    spark.read.parquet(counts_p).filter(F.col("batch") == batch).select(
        "h",
        (-F.col("cnt")).cast("bigint").alias("cnt"),
        F.lit(dead_repair).cast("bigint").alias("batch"),
        "bucket",
    ).write.mode("append").partitionBy("bucket").parquet(counts_p)
    assert DI.audit_gram_counts(spark, crashed).count() == 1
    assert DI.repair_gram_counts(spark, crashed, shard) == 1
    assert DI.audit_gram_counts(spark, crashed).count() == 0
    assert _spans(DI.dup_spans_incremental(spark, crashed, shard)) == _spans(
        DI.dup_spans_incremental(spark, good, shard)
    )


def test_compact_meta_keeps_explicit_schema(spark, tmp_path):
    """ADVICE r9: compaction used to recommit meta via inferred-schema
    createDataFrame(Rows), widening int columns to bigint. The meta
    schema must be byte-stable across compactions."""
    import pyarrow.parquet as pq

    base = _base(spark)
    path = str(tmp_path / "gidx")
    DI.build_gram_counts(base, path, length=8, n_buckets=4)
    meta_p = str(tmp_path / "gidx" / "meta")
    before = pq.read_table(meta_p).schema
    DI.compact_gram_counts(spark, path)
    after = pq.read_table(meta_p).schema
    assert before == after
    assert str(after.field("length").type) == "int32"
    assert str(after.field("n_buckets").type) == "int32"


def test_crashed_repair_id_never_reused_by_append(spark, tmp_path):
    """ADVICE r10 (medium): a repair that dies between its counts
    append and its marker must not have its batch id handed to the
    next append — that marker would legitimize the dead repair's
    partial negation rows and the round-after repair would negate the
    still-unmarked dead batches a SECOND time, corrupting counts with
    a clean audit. The intents sidecar (written before any counts
    touch) closes it: the id is reserved, the dead repair stays
    audit-flagged through interleaved appends, and the final state
    matches the never-crashed index exactly."""
    base, shard = _base(spark), _shard(spark)
    good, crashed = str(tmp_path / "good"), str(tmp_path / "crashed")
    for p in (good, crashed):
        DI.build_gram_counts(base, p, length=8, n_buckets=8)
    part1 = shard.filter(F.col("doc_id") <= 11)
    part2 = shard.filter(F.col("doc_id") >= 12)
    DI.append_gram_counts(part1, good)
    DI.append_gram_counts(part2, good)

    # dead APPEND: registry + full counts for part1, marker lost
    counts_p, docs_p, _, commits_p = DI._paths(crashed)
    dead_append = DI._next_batch(spark, docs_p, commits_p, index_path=crashed)
    part1.select(
        F.col("doc_id"), F.lit(dead_append).cast("bigint").alias("batch")
    ).write.mode("append").parquet(docs_p)
    DI._shard_counts(part1, 8, 8, True, "text", "doc_id", dead_append).write.mode(
        "append"
    ).partitionBy("bucket").parquet(counts_p)

    # dead REPAIR: crashes AFTER its negation/redo rows, BEFORE markers
    real_markers = DI._write_markers

    def _die(*a, **k):
        raise RuntimeError("injected writer failure")

    DI._write_markers = _die
    try:
        with pytest.raises(RuntimeError, match="injected"):
            DI.repair_gram_counts(spark, crashed, part1)
    finally:
        DI._write_markers = real_markers
    dead_repair = dead_append + 1
    count_batches = {
        int(r["batch"])
        for r in spark.read.parquet(counts_p).select("batch").distinct().collect()
    }
    assert dead_repair in count_batches  # the partial rows DID land

    # the historical failure: this append used to grab dead_repair's id
    n = DI.append_gram_counts(part2, crashed)
    assert n == 2
    appended_batch = (
        spark.read.parquet(docs_p)
        .filter(F.col("doc_id") >= 12)
        .select("batch").distinct().collect()
    )
    assert [int(r["batch"]) for r in appended_batch] == [dead_repair + 1]

    # both dead batches still flagged (the append marked ONLY its own id)
    flagged = {
        int(r["batch"]) for r in DI.audit_gram_counts(spark, crashed).collect()
    }
    assert flagged == {dead_append, dead_repair}

    # one real repair converges: audit clean, per-hash sums and the
    # incremental answer equal the never-crashed twin
    assert DI.repair_gram_counts(spark, crashed, shard) == 2
    assert DI.audit_gram_counts(spark, crashed).count() == 0
    healthy = {
        (r["h"], r["s"])
        for r in spark.read.parquet(str(tmp_path / "good" / "counts"))
        .groupBy("h").agg(F.sum("cnt").alias("s")).collect()
    }
    repaired = {
        (r["h"], r["s"])
        for r in spark.read.parquet(counts_p)
        .groupBy("h").agg(F.sum("cnt").alias("s"))
        .filter(F.col("s") != 0).collect()
    }
    assert repaired == healthy
    assert _spans(DI.dup_spans_incremental(spark, crashed, shard)) == _spans(
        DI.dup_spans_incremental(spark, good, shard)
    )


def test_intent_only_dead_repair_flagged_and_healed(spark, tmp_path):
    """A repair that dies after declaring its intent but before ANY
    counts row lands: the audit must still flag it (0 registry docs,
    0 count rows) so its id gets marked by the next repair instead of
    dangling forever; negating zero rows is a no-op."""
    base, shard = _base(spark), _shard(spark)
    path = str(tmp_path / "gidx")
    DI.build_gram_counts(base, path, length=8, n_buckets=8)
    DI.append_gram_counts(shard, path)
    spark.createDataFrame([(99,)], "batch bigint").coalesce(1).write.mode(
        "append"
    ).parquet(DI._intents_path(path))
    flagged = DI.audit_gram_counts(spark, path).collect()
    assert [(int(r["batch"]), r["n_registry_docs"], r["n_count_rows"])
            for r in flagged] == [(99, 0, 0)]
    counts_p, docs_p, _, commits_p = DI._paths(path)
    assert DI._next_batch(spark, docs_p, commits_p, index_path=path) == 100
    assert DI.repair_gram_counts(spark, path, shard) == 1
    assert DI.audit_gram_counts(spark, path).count() == 0
    # rebuild clears stale intents — no phantom flags on the fresh index
    DI.build_gram_counts(base, path, length=8, n_buckets=8)
    assert DI.audit_gram_counts(spark, path).count() == 0


def test_absent_intents_are_not_read(spark, tmp_path, monkeypatch):
    """An index that never ran a repair has no intents table: one
    ``exists`` check answers that, with no failed read (whose JVM
    stack trace every cold build used to log)."""
    from pyspark.sql import DataFrameReader

    docs = spark.createDataFrame([(1, "a b c d e f g h i j")], "doc_id LONG, text STRING")
    idx = str(tmp_path / "gidx")
    DI.build_gram_counts(docs, idx, length=4)
    real = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        assert not any(str(p).endswith("/intents") for p in paths), paths
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    assert DI._intent_batches(spark, idx) is None
    more = spark.createDataFrame([(3, "k l m n o p q r s t")], "doc_id LONG, text STRING")
    DI.append_gram_counts(more, idx)


def test_intents_read_error_propagates(spark, tmp_path):
    """Self-review r12: only a MISSING intents table means 'no repair
    ever ran' — a corrupt/unreadable intents table must raise, not
    silently disable the batch-id collision protection (a new append
    could otherwise legitimize a dead repair's partial negations)."""
    import os

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id LONG, text STRING",
    )
    idx = str(tmp_path / "gidx")
    DI.build_gram_counts(docs, idx, length=4)
    # corrupt intents: a directory with a non-parquet file
    intents = f"{idx}/intents"
    os.makedirs(intents, exist_ok=True)
    with open(f"{intents}/garbage.txt", "w") as f:
        f.write("not parquet")
    more = spark.createDataFrame([(3, "k l m n o p q r s t")],
                                 "doc_id LONG, text STRING")
    with pytest.raises(Exception):
        DI.append_gram_counts(more, idx)
