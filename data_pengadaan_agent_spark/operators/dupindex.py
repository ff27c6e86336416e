"""Incremental exact-substring dedup: the maintained gram-count index.

``textan.dup_spans`` answers "where are the duplicated spans" for a
corpus it re-tokenizes whole — the right shape for a one-shot audit,
the wrong one for a 100 TB ingest loop where a daily shard arrives
and the question is "which spans of THE SHARD duplicate anything seen
so far (or inside the shard itself)". Re-running the full operator
re-tokenizes the entire base every day. This module maintains the
only state the dup test needs — the per-gram-hash occurrence counts —
exactly the way ``lexindex`` maintains postings:

- ``build_gram_counts``: one tokenize pass over the base corpus →
  (bucket, h, cnt) rows partitioned by a hash bucket, plus a compact
  (doc_id) registry of ingested docs, plus 1-row meta (length,
  n_buckets, arith_hash — the gram law) written LAST as the commit
  marker.
- ``append_gram_counts``: per-shard ingest — validates the gram law
  from meta, drops in-shard duplicate ids, anti-joins the registry,
  commits the registry FIRST (replay after any crash is a no-op, the
  lexindex append contract), then appends the shard's per-hash count
  rows as new files tagged with a per-append batch id, then the
  batch's commit marker. Existing files are never read or rewritten:
  base-independent by construction. Readers SUM rows per hash, so
  append never needs a read-modify-write.
- ``audit_gram_counts`` / ``repair_gram_counts``: the crash-window
  closers. A batch whose marker never landed (append died between
  registry and marker) is flagged by the audit; repair appends
  NEGATING rows for whatever the dead batch did write plus a fresh
  recompute of its docs — append-only, and convergent because a
  crashed repair is itself a marker-less batch the next audit flags.
  Repair declares its batch id in a tiny ``intents`` sidecar BEFORE
  touching counts, so ``_next_batch`` (which never scans the
  corpus-gram-scale counts table) can never hand a later append a
  crashed repair's id — without it, that reuse committed a marker
  legitimizing the dead repair's partial negations and the next
  repair double-negated the still-unmarked batches (ADVICE r10).
- ``dup_spans_incremental``: duplicated spans of an ALREADY-APPENDED
  shard against everything ingested so far. The shard re-tokenizes
  (it must — positions are needed), the base never does: the count
  table joins by hash, its exchange carries 16-byte (h, cnt) rows,
  never base text. The join is pinned merge (spillable; the count
  side is corpus-gram-scale). Per-query cost is shard work + one
  scan/exchange of the compact count table — at 100 TB, store the
  counts as a BUCKETED table (``sources.readers.write_bucketed`` on
  h) and that exchange disappears too; the parquet layout here keeps
  the oracle path vanilla-session-runnable.

Same-answer guarantee: for a base B and shard S (disjoint ids), the
shard's rows of ``dup_spans(B ∪ S)`` equal
``dup_spans_incremental(path, S)`` after ``append_gram_counts(S)`` —
pinned by test and by the oracle twin, which recomputes from raw
text. One asymmetry is inherent to EVERY incremental dedup: a BASE
doc that only became duplicated when the shard arrived is not
re-reported (its spans surface on the next full audit, or by running
the shard's spans' hashes against the base — the same new-vs-seen
contract as ``incremental_dedup``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators.textan import dup_gram_hash, word_ngrams
from data_pengadaan_agent_spark.sources.catalog import (
    begin_build,
    compact,
    flagged_rows,
    local_df,
    logged,
    new_rows,
    read_meta,
    spread,
    write_meta,
)


# batch tag on compacted count rows: compaction collapses per-append
# lineage, so its output rows carry this sentinel and the audit skips
# it (compaction refuses to run while any real batch is uncommitted)
COMPACTED_BATCH = -1


def _paths(path: str) -> tuple[str, str, str, str]:
    p = path.rstrip("/")
    return f"{p}/counts", f"{p}/docs", f"{p}/meta", f"{p}/commits"


def _intents_path(path: str) -> str:
    return f"{path.rstrip('/')}/intents"


def _intent_batches(spark: SparkSession, path: str) -> DataFrame | None:
    """Batch-id INTENTS declared by repair before it touches counts
    (absent on indexes that never ran a repair). See
    ``repair_gram_counts`` for why they exist.

    Only a MISSING intents table means "no repair ever ran", and it is
    checked with one driver-side ``exists`` rather than a failed read
    (which logged a JVM stack trace on every cold build). A read error
    on a REAL intents table must propagate (self-review r12, the ivf
    codebook auto-detect rule): silently ignoring it would hand a new
    append a crashed repair's batch id and legitimize its partial
    negations, the exact ADVICE-r10 corruption the sidecar exists to
    prevent."""
    p = spark._jvm.org.apache.hadoop.fs.Path(_intents_path(path))
    if not p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p):
        return None
    return spark.read.parquet(_intents_path(path)).select("batch")


def _read_meta(spark: SparkSession, path: str) -> tuple[int, int, bool]:
    r = read_meta(spark, _paths(path)[2], "gram-count index")
    return int(r["length"]), int(r["n_buckets"]), bool(r["arith_hash"])


def _write_meta(
    spark: SparkSession, meta_p: str, length: int, n_buckets: int, arith_hash: bool
) -> None:
    # the explicit schema is the contract: re-inferring from Python
    # values widens the int columns to bigint across rewrites
    write_meta(
        spark, meta_p, "length int, n_buckets int, arith_hash boolean",
        (int(length), int(n_buckets), bool(arith_hash)),
    )


def _shard_counts(
    shard: DataFrame,
    length: int,
    n_buckets: int,
    arith_hash: bool,
    text_col: str,
    id_col: str,
    batch: int,
) -> DataFrame:
    return (
        spread(shard, id_col)
        .select(F.explode(word_ngrams(text_col, length)).alias("g"))
        .select(dup_gram_hash(F.col("g"), arith_hash).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("batch", F.lit(int(batch)).cast("bigint"))
        .withColumn(
            "bucket", F.pmod(F.col("h"), F.lit(int(n_buckets))).cast("int")
        )
    )


def _write_markers(spark: SparkSession, commits_p: str, batches: list[int]) -> None:
    local_df(spark, [(int(b),) for b in batches], "batch bigint").write.mode(
        "append"
    ).parquet(commits_p)


def _next_batch(
    spark: SparkSession,
    docs_p: str,
    commits_p: str,
    index_path: str | None = None,
) -> int:
    """Next collision-free batch id from the three TINY sidecars
    (registry, markers, repair intents) — never the corpus-gram-scale
    counts table, which is what keeps append base-independent. Every
    batch id that can exist in counts is covered: append ids land in
    the registry first, repair ids in the intents table first (ADVICE
    r10 medium — a repair that crashed between its counts append and
    its marker used to leave its id visible ONLY in counts, so the
    next append reused it and silently legitimized the dead repair's
    partial negation rows)."""
    reg = spark.read.parquet(docs_p).agg(F.max("batch")).collect()[0][0]
    com = spark.read.parquet(commits_p).agg(F.max("batch")).collect()[0][0]
    top = max(int(reg or 0), int(com or 0))
    if index_path is not None:
        intents = _intent_batches(spark, index_path)
        if intents is not None:
            i = intents.agg(F.max("batch")).collect()[0][0]
            top = max(top, int(i or 0))
    return top + 1


def build_gram_counts(
    docs: DataFrame,
    path: str,
    length: int = 8,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    arith_hash: bool = True,
) -> None:
    """Ingest the base corpus into the gram-count index. Meta (the
    gram law: length, bucket count, hash family) commits LAST; a
    rebuild deletes the old meta first — the lexindex build
    discipline, so a crash never leaves an index that silently
    under-reports duplication. The base dedups on ``id_col`` (same
    contract as the append path — a repeated doc_id must not
    double-count grams and fabricate duplicates)."""
    if length < 1 or n_buckets < 1:
        raise ValueError("build_gram_counts: length and n_buckets must be >= 1")
    counts_p, docs_p, meta_p, commits_p = _paths(path)
    spark = docs.sparkSession
    # the repair intents go too, or the fresh audit would flag phantom
    # never-committed batches
    begin_build(spark, meta_p, counts_p, docs_p, commits_p, _intents_path(path))
    docs = docs.dropDuplicates([id_col])
    _shard_counts(
        docs, length, n_buckets, arith_hash, text_col, id_col, batch=0
    ).write.mode("overwrite").partitionBy("bucket").parquet(counts_p)
    docs.select(
        F.col(id_col), F.lit(0).cast("bigint").alias("batch")
    ).write.mode("overwrite").parquet(docs_p)

    local_df(spark, [(0,)], "batch bigint").write.mode("overwrite").parquet(
        commits_p
    )
    _write_meta(spark, meta_p, length, n_buckets, arith_hash)


@logged
def append_gram_counts(
    shard: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Per-shard ingest: registry commits FIRST (README "Index
    lifecycle" — a replay can never double gram counts, which would
    fabricate duplicates corpus-wide), then the shard's count rows
    tagged with this append's batch id, then the batch's commit
    marker. A crash before the marker under-COUNTS only; it is flagged
    by ``audit_gram_counts`` and healed by ``repair_gram_counts``.
    Existing count files are never read or rewritten. Returns docs
    appended."""
    spark = shard.sparkSession
    length, n_buckets, arith_hash = _read_meta(spark, path)
    counts_p, docs_p, _, commits_p = _paths(path)
    fresh, n_new = new_rows(shard, docs_p, id_col)
    if n_new == 0:
        return 0
    batch = _next_batch(spark, docs_p, commits_p, index_path=path)
    fresh.select(
        F.col(id_col), F.lit(int(batch)).cast("bigint").alias("batch")
    ).write.mode("append").parquet(docs_p)
    _shard_counts(
        fresh, length, n_buckets, arith_hash, text_col, id_col, batch
    ).write.mode("append").partitionBy("bucket").parquet(counts_p)
    _write_markers(spark, commits_p, [batch])
    return n_new


def audit_gram_counts(spark: SparkSession, path: str) -> DataFrame:
    """Integrity audit for the append crash contract: batches present
    in the registry or the count table but missing a commit marker —
    an append (or repair) that died between its first write and its
    marker. Returns (batch, n_registry_docs, n_count_rows); empty =
    index consistent. The compacted sentinel batch is skipped (it
    only exists because compaction verified a clean audit first).
    Repair: ``repair_gram_counts`` with a source frame covering the
    flagged docs."""
    _read_meta(spark, path)
    counts_p, docs_p, _, commits_p = _paths(path)
    committed = spark.read.parquet(commits_p).select("batch").distinct()
    reg = (
        spark.read.parquet(docs_p)
        .groupBy("batch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_registry_docs"))
    )
    cnt = (
        spark.read.parquet(counts_p)
        .filter(F.col("batch") != F.lit(COMPACTED_BATCH))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_count_rows"))
    )
    present = reg.join(cnt, "batch", "full_outer")
    intents = _intent_batches(spark, path)
    if intents is not None:
        # a repair intent with no marker is a dead repair even if it
        # crashed before ANY counts row landed — flag it so the next
        # repair re-marks it and its id is never silently orphaned
        present = present.join(intents.distinct(), "batch", "full_outer")
    return (
        present.join(committed, "batch", "left_anti")
        .select(
            "batch",
            F.coalesce("n_registry_docs", F.lit(0)).alias("n_registry_docs"),
            F.coalesce("n_count_rows", F.lit(0)).alias("n_count_rows"),
        )
    )


@logged
def repair_gram_counts(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Heal every batch ``audit_gram_counts`` flags, append-only: (a)
    NEGATE whatever count rows the dead batches did land (readers SUM
    per hash, so negation cancels exactly — no file is read-modified
    or rewritten), (b) recompute the flagged docs' counts from
    ``docs`` (which must cover every flagged registry id — raises
    otherwise: silently skipping a doc would leave it permanently
    invisible to dup detection), both written under ONE new batch id,
    then (c) commit markers for the dead batches and the repair batch.
    A crash inside the repair leaves the repair batch itself
    marker-less, so the next audit flags it and a re-run negates its
    partial rows too — the procedure converges from any crash point.
    Returns the number of dead batches healed."""
    length, n_buckets, arith_hash = _read_meta(spark, path)
    counts_p, docs_p, _, commits_p = _paths(path)
    dead = [int(r["batch"]) for r in audit_gram_counts(spark, path).collect()]
    if not dead:
        return 0
    flagged_ids = (
        spark.read.parquet(docs_p)
        .filter(F.col("batch").isin([int(b) for b in dead]))
        .select(id_col)
        .distinct()
    )
    todo, _ = flagged_rows(docs, flagged_ids, id_col, "repair_gram_counts")
    repair_batch = max(
        [_next_batch(spark, docs_p, commits_p, index_path=path)]
        + [b + 1 for b in dead]
    )
    # Declare the repair's batch id in the intents sidecar BEFORE any
    # counts write (ADVICE r10 medium): _next_batch never scans the
    # corpus-gram-scale counts table (that is what keeps append
    # base-independent), so without this a repair that crashed between
    # its counts append and its marker left its id visible ONLY in
    # counts — the next append reused it and committed a marker for
    # it, silently legitimizing the dead repair's partial negation
    # rows, and the round-after repair then negated the still-unmarked
    # dead batches a SECOND time. With the intent written first, the
    # crashed repair's id is (a) never reused and (b) audit-flagged
    # until a successful repair marks it, so convergence holds from
    # any crash point with appends interleaved anywhere.
    local_df(spark, [(int(repair_batch),)], "batch bigint").write.mode(
        "append"
    ).parquet(_intents_path(path))
    negations = (
        spark.read.parquet(counts_p)
        .filter(F.col("batch").isin([int(b) for b in dead]))
        .select(
            "h",
            (-F.col("cnt")).cast("bigint").alias("cnt"),
            F.lit(int(repair_batch)).cast("bigint").alias("batch"),
            "bucket",
        )
        # materialize BEFORE the append below starts laying files into
        # the same path the negations read from
        .localCheckpoint(eager=True)
    )
    redo = _shard_counts(
        todo,
        length,
        n_buckets,
        arith_hash,
        text_col,
        id_col,
        repair_batch,
    )
    negations.unionByName(redo).write.mode("append").partitionBy(
        "bucket"
    ).parquet(counts_p)
    _write_markers(spark, commits_p, dead + [repair_batch])
    return len(dead)


def compact_gram_counts(spark: SparkSession, path: str) -> tuple[int, int]:
    """Compaction that also MERGES rows: every append lays one row per
    (shard, hash); this SUMS them to one row per hash in one file per
    bucket, shrinking both
    the file count and the row count the incremental query re-reduces.
    Readers always SUM per hash, so the answers are unchanged. The
    merged rows carry the COMPACTED_BATCH sentinel, so it refuses to
    run while the audit shows any uncommitted batch (baking a dead
    batch's partial counts in would make it unrepairable). Returns
    (files_removed, rows_merged)."""
    length, n_buckets, arith_hash = _read_meta(spark, path)
    counts_p, _, meta_p, _ = _paths(path)
    dirty = audit_gram_counts(spark, path).count()
    if dirty:
        raise ValueError(
            f"compact_gram_counts: {dirty} uncommitted batch(es) in the "
            "index — run repair_gram_counts first (compaction would bake "
            "their partial counts in irrecoverably)"
        )
    old_counts = spark.read.parquet(counts_p)
    before_rows = old_counts.count()
    merged = (
        old_counts.groupBy("bucket", "h")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .withColumn("batch", F.lit(COMPACTED_BATCH).cast("bigint"))
    )
    removed = compact(
        spark, counts_p, "compact_gram_counts", merged, part_col="bucket",
        key="h", marker=meta_p,
        recommit=lambda: _write_meta(spark, meta_p, length, n_buckets, arith_hash),
    )
    return removed, before_rows - spark.read.parquet(counts_p).count()


def dup_spans_incremental(
    spark: SparkSession,
    path: str,
    shard: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    counts_source: DataFrame | None = None,
    _meta: tuple[int, int, bool] | None = None,
) -> DataFrame:
    """Duplicated spans of an already-appended shard against the whole
    ingested history — same output contract as ``textan.dup_spans``
    restricted to the shard's ids, same exact-integer gap-merge.
    The shard must be APPENDED first (its counts live in the table,
    so within-shard repeats are counted; querying an un-appended
    shard raises — silently under-counting its self-duplication is
    the wrong failure). The gram law (length, hash family) comes
    from meta, so shard grams and table counts agree by
    construction.

    ``counts_source`` swaps in an alternative frame holding the SAME
    (h, cnt) rows — e.g. a managed table bucketed on ``h``
    (``sources.readers.write_bucketed``), which removes the
    count-side exchange of both the per-hash SUM and the merge join
    (measured payoff in NOTES.md; the probe script is in git history as
    tools/lap_bucketed_counts.py); the
    parquet layout stays the default because it keeps the index
    vanilla-session-portable.

    ``_meta``: a caller that built the index under a known gram law
    (its ensure_index spec) passes it through instead of paying the
    meta read + collect (the bloom _meta convention)."""
    length, n_buckets, arith_hash = _meta or _read_meta(spark, path)
    counts_p, docs_p, _, _ = _paths(path)
    if min_count < 2:
        raise ValueError("dup_spans_incremental: min_count must be >= 2")
    ids = shard.select(id_col).distinct()
    n_missing = ids.join(
        spark.read.parquet(docs_p).select(id_col), id_col, "left_anti"
    ).count()
    if n_missing:
        raise ValueError(
            f"dup_spans_incremental: {n_missing} shard doc(s) not in the "
            "index registry — append_gram_counts the shard first (the "
            "count table must include the shard for within-shard repeats "
            "to be counted)"
        )

    grams = spread(shard, id_col).select(
        F.col(id_col),
        F.posexplode(word_ngrams(text_col, length)).alias("pos", "g"),
    )
    hashed = grams.select(
        F.col(id_col),
        F.col("pos").cast("bigint").alias("pos"),
        dup_gram_hash(F.col("g"), arith_hash).alias("h"),
    )
    counts = (
        counts_source
        if counts_source is not None
        else spark.read.parquet(counts_p)
    )
    dup_hashes = (
        counts.groupBy("h")
        .agg(F.sum("cnt").cast("bigint").alias("_occ"))
        .filter(F.col("_occ") >= F.lit(int(min_count)))
        .select("h")
    )
    dup = hashed.join(dup_hashes.hint("merge"), "h", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + F.lit(int(length))),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_run", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy(id_col, "_run")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(int(length) - 1)).alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + F.lit(1)).alias("span_len"),
            "n_dup_grams",
        )
    )
