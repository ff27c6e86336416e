"""Trigram index for substring and fuzzy-string search (pg_trgm-style).

The reference's keyword filters (reference: openai/list_of_tools.py
substring CNF semantics) are LIKE '%kw%' scans — the right shape for
ad-hoc filters, the wrong one for a standing search service over a
100 TB corpus, where every query re-reads every byte of text. This
module is the classic answer (PostgreSQL's pg_trgm, re-expressed
Spark-first): decompose text into character 3-grams ONCE at ingest
into a bucket-partitioned inverted index, then answer

- ``substring_search``: docs containing a pattern. A doc containing
  the pattern contains every pattern trigram, so the index candidate
  set (docs matching ALL pattern-gram hashes) is a lossless superset
  — recall is structural, precision is restored by one exact
  ``contains`` verification over just the candidates. Hash collisions
  can only ADD candidates (removed by verification), never lose a hit.
- ``trgm_similar``: docs whose trigram-set similarity to a query
  string clears a threshold (pg_trgm's ``%`` operator), as exact
  integer ppm arithmetic: sim_ppm = 10^6·|A∩B| DIV |A∪B|. Any doc
  with sim > 0 shares ≥ 1 gram, so a threshold > 0 is answered
  completely from the index — no full-text scan at all.

Index discipline matches the repo's other six families (postings /
gram-counts / LSH / IVF / IVF-PQ / SQ):

- layout: ``postings/`` = DISTINCT (bucket, h, doc_id) rows
  PARTITIONED BY bucket (bucket = pmod(xxhash64(gram), n_buckets) —
  the bucket directory is the coarse posting list, so a query scan
  carries a LITERAL bucket IN-list in PartitionFilters);
  ``docs/`` = the (doc_id, n_grams) registry (n_grams = DISTINCT
  grams, the |A| term of the similarity denominator); ``meta/`` =
  1-row commit marker written LAST (a crash mid-build leaves an index
  every reader rejects, never one silently missing hits).
- append / audit / repair / compaction: the README "Index lifecycle"
  contract, with ``docs/`` as the registry and ``meta/`` as the
  validity marker.

Gram law: character 3-grams of ``lower(text)``, SET semantics
(duplicates within a doc collapse — matching pg_trgm). Unlike
pg_trgm there is no padding with leading/trailing blanks: padding
only matters for word-boundary similarity, and the substring-search
superset property needs interior grams only. Patterns shorter than
the gram length cannot be pruned and are rejected — route those to
``operators.filters.filter_keywords`` (the full-scan path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.sources.catalog import (
    begin_build,
    compact,
    flagged_rows,
    local_df,
    logged,
    new_rows,
    read_index,
    read_meta,
    spread,
    write_meta,
)

GRAM_N = 3


def _paths(path: str) -> tuple[str, str, str]:
    p = path.rstrip("/")
    return f"{p}/postings", f"{p}/docs", f"{p}/meta"


def char_grams(text_col: str | Column, n: int = GRAM_N) -> Column:
    """DISTINCT character n-grams of lower(text) as array<string>.
    Strings shorter than n yield an empty array (never a negative
    sequence — Spark's sequence(1, 0) is DESCENDING, the round-9
    lesson, so the short case is gated with when())."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    low = F.lower(c)
    starts = F.sequence(F.lit(1), F.length(low) - F.lit(n - 1))
    return F.when(
        F.length(low) >= F.lit(n),
        F.array_distinct(F.transform(starts, lambda i: low.substr(i, F.lit(n)))),
    ).otherwise(F.array().cast("array<string>"))


def _bucket(h: Column, n_buckets: int) -> Column:
    return F.pmod(h, F.lit(int(n_buckets))).cast("int")


def _read_meta(spark: SparkSession, path: str) -> int:
    r = read_meta(spark, _paths(path)[2], "trigram index")
    if int(r["gram_n"]) != GRAM_N:
        raise ValueError(
            f"trigram index at {path!r} was built with gram_n="
            f"{int(r['gram_n'])}, this module reads gram_n={GRAM_N}"
        )
    return int(r["n_buckets"])


def _write_meta(spark: SparkSession, meta_p: str, n_buckets: int) -> None:
    write_meta(spark, meta_p, "n_buckets int, gram_n int", (int(n_buckets), GRAM_N))


def _gram_rows(docs: DataFrame, text_col: str, id_col: str, n_buckets: int):
    """(postings, registry) frames under the frozen gram law."""
    g = char_grams(text_col)
    base = docs.select(
        F.col(id_col), F.size(g).cast("bigint").alias("n_grams"), g.alias("_g")
    )
    postings = (
        base.select(F.col(id_col), F.explode("_g").alias("_gram"))
        .select(F.col(id_col), F.xxhash64("_gram").alias("h"))
        .withColumn("bucket", _bucket(F.col("h"), n_buckets))
        .select("bucket", "h", id_col)
    )
    registry = base.select(id_col, "n_grams")
    return postings, registry


def build_trgm_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Ingest: one gram pass → bucket-partitioned distinct postings +
    the (doc_id, n_grams) registry, then the 1-row meta COMMIT MARKER
    last. Rebuild deletes the old meta FIRST so a crash anywhere in
    the rewrite leaves an index readers reject. The frame is deduped
    on id up front so postings and registry see the same rows (the
    build_ivfpq_table lesson)."""
    if n_buckets < 1:
        raise ValueError("build_trgm_index: n_buckets must be >= 1")

    posts_p, docs_p, meta_p = _paths(path)
    spark = docs.sparkSession
    begin_build(spark, meta_p, posts_p, docs_p)
    fresh = spread(docs.dropDuplicates([id_col]), id_col)
    postings, registry = _gram_rows(fresh, text_col, id_col, n_buckets)
    postings.write.mode("overwrite").partitionBy("bucket").parquet(posts_p)
    registry.write.mode("overwrite").parquet(docs_p)
    _write_meta(spark, meta_p, n_buckets)


@logged
def append_trgm_index(
    shard: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Incremental ingest of one shard, registry first, postings second
    (README "Index lifecycle"); existing partitions are never
    rescanned. The registry-without-postings crash state is flagged by
    ``audit_trgm_index``. Returns docs appended."""
    n_buckets = _read_meta(shard.sparkSession, path)
    posts_p, docs_p, _ = _paths(path)
    fresh, n_new = new_rows(shard, docs_p, id_col)
    if n_new:
        postings, registry = _gram_rows(spread(fresh, id_col), text_col, id_col, n_buckets)
        registry.write.mode("append").parquet(docs_p)
        postings.write.mode("append").partitionBy("bucket").parquet(posts_p)
    return n_new


def audit_trgm_index(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Integrity audit for the append crash contract: registered docs
    whose DISTINCT posting hashes fall short of their registered
    n_grams — zero postings (an append whose second write died) AND
    partially-committed postings (a crash mid job-commit, or
    FileOutputCommitter v2 per-task visibility) both under-recall
    silently, so the audit compares counts, not mere existence
    (self-review r12) — plus orphan postings without a registry row
    (registry damage; rebuild-only). Docs shorter than the gram
    length legitimately have zero postings (n_grams = 0) and are
    never flagged. Theoretical caveat: an in-doc xxhash64 collision
    (p ~ n_grams²/2^64) would flag a healthy doc permanently; at
    realistic doc sizes this is ~1e-13 and the repair it triggers is
    harmless (duplicate posting rows, absorbed by the distinct-count
    read laws)."""
    _read_meta(spark, path)
    posts_p, docs_p, _ = _paths(path)
    reg = (
        spark.read.parquet(docs_p)
        .filter(F.col("n_grams") > 0)
        .select(id_col, "n_grams")
        .distinct()
    )
    per_doc = (
        spark.read.parquet(posts_p)
        .groupBy(id_col)
        .agg(F.countDistinct("h").cast("bigint").alias("_have"))
    )
    missing = (
        reg.join(per_doc, id_col, "left")
        .filter(F.col("_have").isNull() | (F.col("_have") < F.col("n_grams")))
        .select(id_col, F.lit("missing_postings").alias("state"))
    )
    orphan = per_doc.select(id_col).join(
        spark.read.parquet(docs_p).select(id_col).distinct(), id_col, "left_anti"
    ).select(id_col, F.lit("orphan_postings").alias("state"))
    return missing.unionByName(orphan)


@logged
def repair_trgm_index(
    docs_source: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Heal the audit's ``missing_postings`` state: re-gram EXACTLY
    the flagged docs under the frozen gram law and append their
    posting rows (their registry rows are already correct).
    ``orphan_postings`` stays rebuild-only. Returns docs repaired."""
    spark = docs_source.sparkSession
    n_buckets = _read_meta(spark, path)
    posts_p, docs_p, _ = _paths(path)
    flagged = audit_trgm_index(spark, path, id_col=id_col).filter(
        F.col("state") == "missing_postings"
    )
    todo, n_todo = flagged_rows(docs_source, flagged.select(id_col), id_col, "repair_trgm_index")
    if n_todo == 0:
        return 0
    # text-drift guard (self-review r12): a flagged doc whose source
    # text was EDITED since ingest would get postings disagreeing with
    # its registered n_grams — wrong similarity denominators and a
    # broken _got/_need count. Cheap necessary check (gram COUNT
    # equality; a same-count edit still slips through — rebuild is the
    # honest path for mutated sources).
    reg = spark.read.parquet(docs_p).select(id_col, "n_grams")
    drifted = (
        todo.select(
            id_col, F.size(char_grams(text_col)).cast("bigint").alias("_now")
        )
        .join(reg, id_col)
        .filter(F.col("_now") != F.col("n_grams"))
        .limit(1)
        .count()
    )
    if drifted:
        raise ValueError(
            "repair_trgm_index: source text for flagged ids no longer matches "
            "the registered n_grams — the source drifted since ingest; "
            "rebuild the index instead of repairing"
        )

    postings, _ = _gram_rows(spread(todo, id_col), text_col, id_col, n_buckets)
    postings.write.mode("append").partitionBy("bucket").parquet(posts_p)
    return n_todo


def compact_trgm_index(
    spark: SparkSession, path: str, target_files_per_bucket: int = 1
) -> int:
    """Rewrite each posting bucket to ``target_files_per_bucket`` files
    with the meta as the validity marker. Refuses a dirty audit —
    compacting lost-shard damage would bake it in; run
    repair_trgm_index first. Returns data files removed."""
    n_buckets = _read_meta(spark, path)
    posts_p, _, meta_p = _paths(path)
    if audit_trgm_index(spark, path).limit(1).count() > 0:
        raise ValueError(
            "compact_trgm_index: audit is dirty — repair with "
            "repair_trgm_index before compacting"
        )
    return compact(
        spark, posts_p, "compact_trgm_index", part_col="bucket", key="h",
        target_files=target_files_per_bucket, marker=meta_p,
        recommit=lambda: _write_meta(spark, meta_p, n_buckets),
    )


_PATTERN_GRAMS: dict[tuple[str, ...], tuple[list[tuple[int, str]], dict[str, int]]] = {}


def _pattern_grams(
    spark: SparkSession, patterns: list[str]
) -> tuple[list[tuple[int, str]], dict[str, int]]:
    """Distinct (hash, pattern) gram pairs + per-pattern distinct gram
    counts, computed by SPARK expressions over a literal frame — the
    gram law (lower + substr + xxhash64) is evaluated by the same
    engine that built the index, so the two can never drift (the
    merge_fold_sql no-drift discipline). One parameter-bounded collect
    (|patterns| × |pattern grams| rows) per pattern tuple per process:
    the answer depends on the patterns alone."""
    key = tuple(patterns)
    hit = _PATTERN_GRAMS.get(key)
    if hit is None:
        pat_df = local_df(spark, [(p,) for p in patterns], "pattern string")
        rows = (
            pat_df.select("pattern", F.explode(char_grams("pattern")).alias("_g"))
            .select("pattern", F.xxhash64("_g").alias("h"))
            .distinct()
            .collect()
        )
        pairs = [(int(r["h"]), r["pattern"]) for r in rows]
        counts: dict[str, int] = {}
        for _, p in pairs:
            counts[p] = counts.get(p, 0) + 1
        hit = _PATTERN_GRAMS[key] = (pairs, counts)
    return hit


def substring_search(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    patterns: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    _n_buckets: int | None = None,
) -> DataFrame:
    """Docs containing each pattern (case-insensitive substring — the
    reference's keyword semantics), answered through the index:

    1. pattern grams hash driver-side (parameter-bounded, Spark-
       evaluated gram law, kept per pattern tuple), so the postings
       scan (``catalog.read_index``) lists only the pattern buckets'
       directories and carries a LITERAL bucket IN-list
       (PartitionFilters) and a literal hash IN-list — a warm call
       starts no Spark job before its result runs;
    2. candidates = docs matching ALL of a pattern's gram hashes
       (count per (pattern, doc) == the pattern's distinct gram count
       — the lossless-superset property: a true hit can never be
       pruned, collisions only add candidates);
    3. one exact ``contains`` verification joins the (small) candidate
       set back to the doc table — never a full-text scan of the
       corpus. At 100 TB pair this with a doc table laid out by
       operators.layout.write_zordered on the id so the verification
       read is file-skipped too.

    Returns (pattern, doc_id), exactly the rows the direct LIKE scan
    would return — pinned by test and by the oracle twin being the
    direct scan."""
    if not patterns:
        raise ValueError("substring_search: need at least one pattern")
    for p in patterns:
        if len(p) < GRAM_N:
            raise ValueError(
                f"substring_search: pattern {p!r} is shorter than the gram "
                f"length ({GRAM_N}) — the index cannot prune it; use the "
                "full-scan keyword filter for sub-gram patterns"
            )
    # _n_buckets: a caller that built the index under this bucket
    # count (its ensure_index spec) passes it through instead of
    # paying the meta read + collect (the bloom _meta convention)
    n_buckets = _n_buckets if _n_buckets is not None else _read_meta(spark, path)
    pairs, counts = _pattern_grams(spark, patterns)
    hashes = sorted({h for h, _ in pairs})
    buckets = sorted({h % n_buckets for h in hashes})

    # each (hash, pattern) pair carries the pattern's distinct gram count
    pat_grams = local_df(
        spark, [(h, p, counts[p]) for h, p in pairs], "h bigint, pattern string, _need bigint"
    )
    posts = read_index(spark, path, "postings", buckets).filter(
        f"h IN ({','.join(map(str, hashes))})"
    )
    cand = (
        posts.join(F.broadcast(pat_grams), "h")
        .groupBy("pattern", id_col)
        # >= not ==: duplicated posting rows (a racing/retried append,
        # or a partial-commit repair) would push _got past _need and
        # the equality filter would silently drop a TRUE hit with no
        # audit signal; >= is identical on clean data and the exact
        # contains() verification restores precision either way
        # (self-review r12)
        .agg(F.count(F.lit(1)).alias("_got"), F.max("_need").alias("_need"))
        .filter(F.col("_got") >= F.col("_need"))
        .select("pattern", id_col)
    )
    # cand is NOT broadcast: it is proportional to the corpus hit
    # count (a frequent pattern at 100 TB = millions of rows), unlike
    # the genuinely parameter-bounded pat_grams; AQE still
    # broadcasts it at runtime when it turns out small
    # (self-review r12)
    verified = (
        docs.join(cand, id_col)
        .filter(F.contains(F.lower(F.col(text_col)), F.lower(F.col("pattern"))))
        .select("pattern", id_col)
    )
    return verified.orderBy("pattern", id_col)


def trgm_similar(
    spark: SparkSession,
    path: str,
    pattern: str,
    min_sim_ppm: int = 300_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """pg_trgm's ``%`` threshold similarity from the index alone — no
    text scan at all: sim_ppm = 10^6·|A∩B| DIV |A∪B| over DISTINCT
    gram sets, exact integer arithmetic end to end. The intersection
    folds from the hash-pruned postings slice (every posting of a
    pattern gram lives in that gram's bucket, so counts are exact);
    |A| comes off the registry; |B| is the pattern's distinct gram
    count. A threshold > 0 requires ≥ 1 shared gram, which is exactly
    the set of docs the pruned scan surfaces — completeness is
    structural. Returns (doc_id, inter, n_grams, sim_ppm) ordered by
    (sim_ppm DESC, doc_id)."""
    if min_sim_ppm < 1:
        raise ValueError("trgm_similar: min_sim_ppm must be >= 1 (a zero "
                         "threshold needs the docs that share NO gram)")
    if len(pattern) < GRAM_N:
        raise ValueError("trgm_similar: pattern shorter than the gram length")
    n_buckets = _read_meta(spark, path)
    pairs, counts = _pattern_grams(spark, [pattern])
    hashes = sorted(h for h, _ in pairs)
    buckets = sorted({h % n_buckets for h in hashes})
    n_q = int(counts[pattern])

    inter = (
        read_index(spark, path, "postings", buckets)
        .filter(f"h IN ({','.join(map(str, hashes))})")
        .groupBy(id_col)
        # countDistinct, not count: duplicate posting rows (racing
        # appends / partial-commit repairs) must not inflate the
        # intersection — identical on clean data where postings are
        # distinct per doc (self-review r12)
        .agg(F.countDistinct("h").cast("bigint").alias("inter"))
    )
    reg = read_index(spark, path, "docs").select(id_col, "n_grams")
    sim = F.expr(f"(1000000 * inter) DIV (n_grams + {n_q} - inter)")
    return (
        inter.join(reg, id_col)
        .withColumn("sim_ppm", sim.cast("bigint"))
        .filter(F.col("sim_ppm") >= int(min_sim_ppm))
        .select(id_col, "inter", "n_grams", "sim_ppm")
        .orderBy(F.desc("sim_ppm"), F.asc(id_col))
    )
