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
- ``append_postings_index``: per-shard incremental ingest under the
  README "Index lifecycle" contract, with doclen as the registry.
  Existing postings are never rescanned or rewritten.
- ``bm25_from_index``: query-batch BM25 over the index. The query
  batch (broadcast-sized by the same contract as
  bm25_retrieval_batch) is collected ONCE as (qid, term, bucket)
  rows, so the postings scan (``catalog.read_index``) lists only the
  query terms' bucket directories and carries a LITERAL bucket
  predicate in PartitionFilters. The meta row and the postings
  schema are read once per index commit, so a warm call starts one
  Spark job before its result runs: that collect. Document frequencies
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
    audit_registry,
    begin_build,
    compact,
    logged,
    new_rows,
    read_index,
    read_meta,
    spread,
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


def _rows(docs: DataFrame, text_col: str, id_col: str, n_buckets: int):
    """(postings, doclen) frames of ``docs``: one (bucket, t, doc_id,
    tf, dl) row per distinct (doc, term) and one (doc_id, dl) row per
    doc."""
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
    return postings, docs.select(F.col(id_col), F.size(toks).cast("bigint").alias("dl"))


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
    begin_build(spark, meta_p, posts_p, doclen_p)
    postings, doclen = _rows(docs, text_col, id_col, n_buckets)
    postings.write.mode("overwrite").partitionBy("bucket").parquet(posts_p)
    doclen.write.mode("overwrite").parquet(doclen_p)
    n_docs, sum_dl = _doclen_stats(spark, doclen_p)
    _write_meta(spark, meta_p, n_buckets, n_docs, sum_dl)


@logged
def append_postings_index(
    shard: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Incremental ingest of one shard: doclen (the registry) first,
    postings second, the meta stats last (README "Index lifecycle").
    The opposite order would corrupt corpus-wide: a replay would
    re-append postings rows, doubling tf AND df for every term the
    shard touches. Existing partitions are never rescanned. Returns
    documents appended."""
    spark = shard.sparkSession
    n_buckets, meta_docs, meta_dl = read_meta_stats(spark, path)
    posts_p, doclen_p, meta_p = _paths(path)
    fresh, n_new = new_rows(shard, doclen_p, id_col)
    if n_new:
        postings, doclen = _rows(fresh, text_col, id_col, n_buckets)
        doclen.write.mode("append").parquet(doclen_p)
        postings.write.mode("append").partitionBy("bucket").parquet(posts_p)
    # meta stats recommit LAST, recounted from the committed doclen
    # (recount, not increment): a replay adds no rows, so it is the
    # chance to heal stats a crash before this rewrite left stale-low
    stats = _doclen_stats(spark, doclen_p)
    if n_new or stats != (meta_docs, meta_dl):
        _write_meta(spark, meta_p, n_buckets, *stats)
    return n_new


def audit_postings_index(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Documents in doclen without postings (``missing_postings``: an
    append whose second write died) and postings without a doclen row
    (``orphan_postings``). Docs with empty text still emit the '' token,
    so absence from postings is never legitimate. Empty = consistent."""
    _read_meta(spark, path)
    posts_p, doclen_p, _ = _paths(path)
    return audit_registry(spark, doclen_p, posts_p, id_col, "postings")


def compact_postings_index(
    spark: SparkSession,
    path: str,
    target_files_per_bucket: int = 1,
) -> int:
    """Rewrite each posting bucket to ``target_files_per_bucket`` files
    with the meta as the validity marker: every append lays new files
    into each touched bucket, so a year of shards turns one
    pruned-bucket read into thousands of tiny file opens. doclen and
    the index content are untouched — a compacted index answers
    bit-identically. Returns data files removed."""
    n_buckets, n_docs, sum_dl = read_meta_stats(spark, path)
    posts_p, _, meta_p = _paths(path)
    return compact(
        spark, posts_p, "compact_postings_index", part_col="bucket", key="t",
        target_files=target_files_per_bucket, marker=meta_p,
        recommit=lambda: _write_meta(spark, meta_p, n_buckets, n_docs, sum_dl),
    )


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
    doclen table is never scanned on the query path. The query batch
    is broadcast-sized by contract, exactly as in
    bm25_retrieval_batch, and is collected once."""
    coef_a, coef_b, coef_c, scale_l = bm25_int_coeffs(k1, b)
    n_buckets, n_docs, sum_dl = read_meta_stats(spark, path)

    # ONE collect of the exploded query batch with each term's bucket:
    # the batch is broadcast-sized by contract, and its three consumers
    # (the bucket list, the vocab filter, the scored broadcast join)
    # read this driver copy instead of re-deriving the batch each
    exploded = queries_df.select(F.col(qid_col), F.explode(terms_col).alias("t"))
    rows = exploded.select("*", _bucket(F.col("t"), n_buckets)).collect()
    qterms = spark.createDataFrame([r[:2] for r in rows], exploded.schema)
    posts = read_index(spark, path, "postings", {r[2] for r in rows}).filter(
        F.col("t").isin(sorted({r[1] for r in rows if r[1] is not None}))
    )
    dfreq = posts.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("_df"))
    # dec_idiv_sql, not a bare DIV (self-review r14): Spark's DIV on
    # decimal operands silently wraps past-int64 quotients through
    # LongType — same construct and bound as textan's
    # bm25_retrieval_batch; values identical, overflow now loud.
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
