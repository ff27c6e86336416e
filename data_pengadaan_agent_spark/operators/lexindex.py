"""Materialized inverted (postings) index for lexical retrieval.

The operational complement of ``textan.bm25_retrieval_batch``: the
batch operator re-tokenizes the corpus on every query batch, which is
the right shape for ad-hoc mining but the wrong one for a standing
retrieval service over a 100 TB corpus — there the index is built
ONCE at ingest, appended per daily shard, and query batches read only
the term-relevant slice of it. This module is the lexical twin of the
similarity module's IVF/LSH ingest path (build → append → partition-
pruned probe), with the same crash-safety discipline:

- ``build_postings_index``: one tokenize pass → per-(doc, term) tf
  rows carrying the doc length, PARTITIONED BY a term-hash bucket
  (the bucket directory IS the coarse posting list), plus a compact
  (doc_id, dl) doclen table for corpus stats, plus a 1-row meta table
  holding the bucket law. Meta is written LAST — a crash mid-build
  leaves an index without meta, which every reader rejects, never a
  half-written index that silently serves wrong scores.
- ``append_postings_index``: per-shard incremental ingest — validates
  the bucket law from meta, drops in-shard duplicate ids, anti-joins
  the shard against the EXISTING doclen ids (reading one pruned
  column), and appends postings + doclen partitions. Existing
  postings are never rescanned or rewritten: base-independent by
  construction, like ``append_ivf_table``.
- ``bm25_from_index``: query-batch BM25 over the index. Query terms
  hash to buckets driver-side via one parameter-bounded collect (the
  query batch is broadcast-sized by the same contract as
  bm25_retrieval_batch), so the postings scan carries a LITERAL
  bucket predicate that lands in PartitionFilters — only the
  query-relevant bucket directories are read. Document frequencies
  for the query terms are EXACT from the pruned scan (every posting
  of a term lives in that term's bucket). Scores use the same
  fraction-cleared exact-integer contribution as
  bm25_retrieval_batch (``textan.bm25_int_coeffs``), so the index
  path and the from-scratch path agree bit-for-bit — pinned by test
  and by sharing one oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators.textan import bm25_int_coeffs, tokens
from data_pengadaan_agent_spark.sources.catalog import (
    read_meta,
    spread,
    swap_dirs,
    write_meta,
)


def _paths(path: str) -> tuple[str, str, str]:
    p = path.rstrip("/")
    return f"{p}/postings", f"{p}/doclen", f"{p}/meta"


def _bucket(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(int(n_buckets))).cast("int")


def read_meta_stats(spark: SparkSession, path: str) -> tuple[int, int, int]:
    """(n_buckets, n_docs, sum_dl) in ONE 1-row meta read — the r15
    corpus-stats marker: BM25's global statistics (N, Σdl) are
    properties of the INDEX, maintained by build/append (recounted
    from the committed doclen table after each append — recount, not
    increment, so crash-replay states self-heal on the next append, a
    replay that adds no rows included) and carried through compact
    (which never touches doclen). The query path scores with them
    instead of re-aggregating the corpus-sized doclen table on every
    batch. Meta v1 predates the marker and is rebuilt loudly."""
    r = read_meta(
        spark, _paths(path)[2], "postings index",
        require=(("n_docs", "the corpus-stats marker (meta v1)"),),
    )
    return int(r["n_buckets"]), int(r["n_docs"]), int(r["sum_dl"])


def _read_meta(spark: SparkSession, path: str) -> int:
    return read_meta_stats(spark, path)[0]


def _write_meta(
    spark: SparkSession, meta_p: str, n_buckets: int, n_docs: int, sum_dl: int
) -> None:
    write_meta(
        spark, meta_p, "n_buckets int, n_docs bigint, sum_dl bigint",
        (int(n_buckets), int(n_docs), int(sum_dl)),
    )


def _doclen_stats(spark: SparkSession, doclen_p: str) -> tuple[int, int]:
    """Exact (n_docs, Σdl) recounted from the committed doclen table —
    the post-write source of truth for the meta stats."""
    r = spark.read.parquet(doclen_p).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("s"),
    ).collect()[0]
    return int(r["n"]), int(r["s"])


def build_postings_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Ingest: tokenize once, write the bucket-partitioned postings
    table (bucket, t, doc_id, tf, dl), the (doc_id, dl) doclen table,
    then the 1-row meta COMMIT MARKER last. dl is denormalized onto
    every posting row so the query path never joins back to a doc
    table (the classic postings-with-doclen layout). Rebuild over an
    existing index deletes the old meta FIRST, so a crash anywhere in
    the data rewrite leaves an index readers reject rather than a new/
    old mix that serves wrong scores."""
    if n_buckets < 1:
        raise ValueError("build_postings_index: n_buckets must be >= 1")

    posts_p, doclen_p, meta_p = _paths(path)
    spark = docs.sparkSession
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    meta_fs_path = jvm_path(meta_p)
    fs = meta_fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(meta_fs_path):
        fs.delete(meta_fs_path, True)

    toks = tokens(text_col)
    base = spread(docs, id_col).select(
        F.col(id_col), F.size(toks).cast("bigint").alias("dl"), toks.alias("_tk")
    )
    postings = (
        base.select(F.col(id_col), "dl", F.explode("_tk").alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"), F.min("dl").alias("dl"))
        .withColumn("bucket", _bucket(F.col("t"), n_buckets))
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(posts_p)
    docs.select(
        F.col(id_col), F.size(toks).cast("bigint").alias("dl")
    ).write.mode("overwrite").parquet(doclen_p)
    n_docs, sum_dl = _doclen_stats(spark, doclen_p)
    _write_meta(spark, meta_p, n_buckets, n_docs, sum_dl)


def append_postings_index(
    shard: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Incremental ingest of one shard: validate against meta, drop
    in-shard duplicate ids, anti-join against the EXISTING doclen ids
    (one pruned-column scan of the compact doclen table — never the
    postings), and append. Returns the number of documents actually
    appended. Existing partitions are untouched: the append's cost is
    a function of the SHARD, not the base — the append_ivf_table
    base-independence contract."""
    spark = shard.sparkSession
    n_buckets, meta_docs, meta_dl = read_meta_stats(spark, path)
    posts_p, doclen_p, meta_p = _paths(path)

    fresh = shard.dropDuplicates([id_col])
    seen = spark.read.parquet(doclen_p).select(id_col)
    fresh = fresh.join(seen, id_col, "left_anti")
    # one small deterministic barrier so postings and doclen see the
    # SAME anti-join verdict even if the source is re-evaluated
    fresh = fresh.localCheckpoint(eager=True)
    n_new = fresh.count()
    if n_new == 0:
        # a replay after a crash between the doclen write and the meta
        # rewrite adds no rows, so it is the one chance to heal the
        # stale-low stats: recommit them when the committed doclen
        # disagrees with the meta
        stats = _doclen_stats(spark, doclen_p)
        if stats != (meta_docs, meta_dl):
            _write_meta(spark, meta_p, n_buckets, *stats)
        return 0

    toks = tokens(text_col)
    base = spread(fresh, id_col).select(
        F.col(id_col), F.size(toks).cast("bigint").alias("dl"), toks.alias("_tk")
    )
    postings = (
        base.select(F.col(id_col), "dl", F.explode("_tk").alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"), F.min("dl").alias("dl"))
        .withColumn("bucket", _bucket(F.col("t"), n_buckets))
    )
    # WRITE ORDER IS THE CRASH CONTRACT: doclen first, postings second.
    # doclen is the append's commit marker (the anti-join above keys on
    # it), so a replay after ANY mid-append crash is a no-op. The
    # surviving failure mode is a shard whose doclen committed but
    # whose postings write died: those docs under-rank (their postings
    # are missing) but every OTHER score stays correct. The opposite
    # order corrupts corpus-wide: a replay re-appends postings rows,
    # doubling tf AND df for every term the shard touches.
    # audit_postings_index() detects the lost-shard state for repair.
    fresh.select(
        F.col(id_col), F.size(toks).cast("bigint").alias("dl")
    ).write.mode("append").parquet(doclen_p)
    postings.write.mode("append").partitionBy("bucket").parquet(posts_p)
    # meta stats recommit LAST (recounted from the committed doclen —
    # recount, not increment, so a replayed or crashed append can never
    # double-count; a crash before this rewrite leaves stats stale-low,
    # which the replay of this append recommits above)
    n_docs, sum_dl = _doclen_stats(spark, doclen_p)
    _write_meta(spark, meta_p, n_buckets, n_docs, sum_dl)
    return n_new


def audit_postings_index(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Integrity audit for the crash contract above: documents present
    in doclen (committed) but missing from postings (an append whose
    second write died) and the converse orphans (a legacy
    postings-first index interrupted mid-append). One pruned-column
    scan of each table; returns (doc_id, state) with state in
    ('missing_postings', 'orphan_postings'). Empty result = index
    consistent. Repair for 'missing_postings' is re-tokenizing exactly
    those documents and appending their postings rows directly — their
    doclen rows are already correct."""
    _read_meta(spark, path)
    posts_p, doclen_p, _ = _paths(path)
    dl_ids = spark.read.parquet(doclen_p).select(id_col).distinct()
    # docs whose text is empty still emit >=1 posting (the '' token of
    # the [''] tokenize), so absence from postings is never legitimate
    post_ids = spark.read.parquet(posts_p).select(id_col).distinct()
    missing = dl_ids.join(post_ids, id_col, "left_anti").select(
        id_col, F.lit("missing_postings").alias("state")
    )
    orphan = post_ids.join(dl_ids, id_col, "left_anti").select(
        id_col, F.lit("orphan_postings").alias("state")
    )
    return missing.unionByName(orphan)


def compact_postings_index(
    spark: SparkSession,
    path: str,
    target_files_per_bucket: int = 1,
) -> int:
    """Maintenance for the daily-append loop: every append lays new
    files into each touched bucket directory, so a year of shards
    turns one pruned-bucket read into thousands of tiny file opens
    (the classic small-file problem — at 100 TB the NameNode/listing
    cost alone dominates). Compaction rewrites the postings with
    ``target_files_per_bucket`` files per bucket and returns the
    number of data files removed.

    Crash discipline (same meta-commit-marker contract as build):
    the compacted copy is written BESIDE the live table, then meta is
    deleted (index goes invalid), the old postings directory is
    swapped out for the compacted one with two FS renames, and meta
    is rewritten LAST. A crash anywhere in the swap window leaves an
    index readers loudly reject — never one silently serving doubled
    or missing postings. doclen and the index CONTENT are untouched:
    a compacted index answers bit-identically (pinned by test)."""
    n_buckets, n_docs, sum_dl = read_meta_stats(spark, path)
    posts_p, _, meta_p = _paths(path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs = jvm_path(posts_p).getFileSystem(spark._jsc.hadoopConfiguration())

    def _n_files(p: str) -> int:
        it, n = fs.listFiles(jvm_path(p), True), 0
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().endswith(".parquet"):
                n += 1
        return n
    before = _n_files(posts_p)
    tmp = f"{posts_p}_compact_tmp"
    old = f"{posts_p}_compact_old"
    for stale in (tmp, old):
        if fs.exists(jvm_path(stale)):
            fs.delete(jvm_path(stale), True)
    # repartition on (bucket, subsplit): hashing on bucket alone sends
    # every row of a bucket to ONE partition (one file per bucket no
    # matter the target); the term-hash subsplit spreads each bucket
    # over <= target partitions, so a huge bucket compacts to ~target
    # files instead of one unsplittable giant
    sub = F.pmod(F.xxhash64("t"), F.lit(int(target_files_per_bucket)))
    (
        spark.read.parquet(posts_p)
        .repartition(
            int(n_buckets) * int(target_files_per_bucket), F.col("bucket"), sub
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    fs.delete(jvm_path(meta_p), True)  # index invalid from here until recommit

    swap_dirs(fs, jvm_path, tmp, posts_p, old, "compact_postings_index")
    _write_meta(spark, meta_p, n_buckets, n_docs, sum_dl)
    return before - _n_files(posts_p)


def bm25_from_index(
    spark: SparkSession,
    path: str,
    queries_df: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    terms_col: str = "terms",
    id_col: str = "doc_id",
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` BM25 per query over the MATERIALIZED index — same
    output contract and same exact-integer arithmetic as
    ``bm25_retrieval_batch``, but the corpus is never re-tokenized:
    the scan reads only the query terms' bucket partitions (literal
    IN-list → PartitionFilters), tf/dl come off the posting rows, and
    (N, Σdl) come off the meta stats marker (r15) — the corpus-sized
    doclen table is never scanned on the query path. The bucket list
    is one parameter-bounded collect over the query batch — the batch
    is broadcast-sized by contract, exactly as in
    bm25_retrieval_batch."""
    coef_a, coef_b, coef_c, scale_l = bm25_int_coeffs(k1, b)
    n_buckets, n_docs, sum_dl = read_meta_stats(spark, path)
    posts_p, _, _ = _paths(path)

    # materialize the exploded query batch ONCE: it is broadcast-sized
    # by contract and consumed three times (bucket-list collect, the
    # vocab semi-join build, the scored broadcast join) — the lazy
    # plan re-derived it per consumer, re-tokenizing the query source
    # each time (r14, guide §1.2: don't compute things twice)
    qterms = (
        queries_df.select(F.col(qid_col), F.explode(terms_col).alias("t"))
        .localCheckpoint(eager=True)
    )
    vocab = qterms.select("t").distinct()
    buckets = sorted(
        r["b"] for r in vocab.select(_bucket(F.col("t"), n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    posts = (
        spark.read.parquet(posts_p)
        .filter(F.col("bucket").isin([int(x) for x in buckets]))
        .join(F.broadcast(vocab), "t", "left_semi")
    )
    dfreq = posts.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("_df"))
    # dec_idiv_sql, not a bare DIV (self-review r14): Spark's DIV on
    # decimal operands silently wraps past-int64 quotients through
    # LongType — same construct and bound as textan's
    # _bm25_contrib_frame; values identical, overflow now loud.
    from data_pengadaan_agent_spark.functions.exactmath import dec_idiv_sql

    # (N, Σdl) are exact BIGINT literals off the meta marker — same
    # values and same type lattice the old doclen-aggregate columns
    # carried (N·1e6 precomputed exactly in Python, so no int-literal
    # overflow under ANSI), so every score is bit-identical.
    contrib = F.expr(
        dec_idiv_sql(
            f"""CAST(CAST({n_docs * 1000000} AS BIGINT)
               DIV greatest(_df, 1) AS DECIMAL(38,0))
             * CAST({coef_a} AS DECIMAL(38,0)) * tf * CAST({sum_dl} AS BIGINT)""",
            f"""CAST({scale_l} AS DECIMAL(38,0)) * tf * CAST({sum_dl} AS BIGINT)
             + CAST({coef_b} AS DECIMAL(38,0)) * CAST({sum_dl} AS BIGINT)
             + CAST({coef_c} AS DECIMAL(38,0)) * dl * CAST({n_docs} AS BIGINT)""",
        )
    )
    scored = (
        posts.join(F.broadcast(qterms), "t")
        .join(F.broadcast(dfreq), "t")
        .select(F.col(qid_col), F.col(id_col), contrib.alias("_c"))
        .groupBy(qid_col, id_col)
        .agg(F.sum("_c").cast("bigint").alias("bm25"))
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col(qid_col),
            F.col(id_col),
            "bm25",
            F.col("rank").cast("int").alias("rank"),
        )
    )
