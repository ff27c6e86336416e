"""Deterministic mergeable Bloom-filter index — the ingest-dedup
pre-filter tier.

The reference dedups by exact equality inside one pandas process
(reference: my_toolkit.py drop_duplicates paths); the repo's exact
tier re-expresses that as a hash-groupBy (operators/dedup.py). Both
re-shuffle the FULL ingest batch against the FULL corpus key set on
every ingest. At 100 TB that anti-join is the bottleneck: 10B corpus
keys × every daily batch. The classic production answer is a Bloom
filter in front of the exact check: a compact bit table that answers
"certainly new" for ~99% of genuinely-new rows with ZERO contact with
the corpus key table, so the exact anti-join's exchange carries only
the bloom-positive sliver (true dups + the ~fpr false positives).

Spark-first design, eighth index family (postings / gram-counts /
LSH / IVF / IVF-PQ / SQ / trgm / bloom):

- ALL hashing is the repo's arithmetic class (Knuth/xxhash-prime
  multiplicative mixes on a 31-bit key fold, Kirsch–Mitzenmacher
  double hashing for the k probe positions): pure BIGINT expressions
  that never wrap 63-bit signed range, so a DuckDB oracle re-emits
  the EXACT bit contents — the filter itself is value-checkable,
  not just its end-to-end answers. No probes needed: integer
  arithmetic end-to-end (structural determinism class).
- layout: ``words/`` = (bucket, word_idx, word BIGINT) rows
  PARTITIONED BY bucket — each bucket is an independent bloom of
  ``n_words``×63 bits (63 usable bits per word keeps ``1 << bit``
  off the int64 sign bit on both engines — the BQ lesson).
  ``keys/`` = the exact key registry (the verify side).
  ``meta/`` = 1-row commit marker with the frozen geometry.
- merge algebra: readers ``bit_or``-group words per (bucket,
  word_idx), so APPENDS ARE PLAIN ROW APPENDS and replaying any
  append is harmless (bit_or(x, x) = x) — the HLL-cube replay
  contract, no batch registry needed on the words side.
- crash ordering (the load-bearing invariant, OPPOSITE of the trgm
  registry-first rule): words are written FIRST, keys LAST, so every
  reachable crash state satisfies ``bits ⊇ keys``. Bits without keys
  cost a few false positives (caught by the exact verify); keys
  without bits would be a FALSE NEGATIVE — a corpus row the filter
  swears is absent — i.e. silent duplicate ingestion. The audit
  checks exactly this invariant.

Scale notes: the grouped words table is n_buckets·n_words rows
(≈1 MB per 2^20 bits) — broadcast for any single-machine-size
filter; past the broadcast threshold the per-bucket partitioning
co-locates probe and words on (bucket, word_idx) and a bucketed
corpus-keys table makes the residual verify one-sided. fpr ≈
(1 − e^(−k·n/m))^k: the default geometry (n_words=1024, 63·1024
bits/bucket, k=7) holds ~1% up to ≈6.7k keys/bucket — size
n_buckets to the corpus, not the batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.sources.catalog import (
    begin_build,
    compact,
    logged,
    read_index,
    read_meta,
    write_meta,
)

# Mixing constants: Knuth's 32-bit multiplicative constant and two
# xxhash32 primes. Products stay < 2^63 for any 31-bit folded key:
# 2^31 · 3266489917 ≈ 7.0e18 < 2^63−1 ≈ 9.2e18.
_K1 = 2654435761  # probe base h1
_K2 = 2246822519  # probe stride h2
_K3 = 3266489917  # bucket route
_M31 = 1 << 31
_M32 = 1 << 32
_WORD_BITS = 63  # sign bit never set: 1 << 62 is the max mask

# grouped-words broadcast cutoff: n_buckets·n_words rows ≈ 16 B each;
# 2^22 rows ≈ 64 MB — past that, rely on the bucket partitioning.
_BROADCAST_WORD_ROWS = 1 << 22


def _paths(path: str) -> tuple[str, str, str]:
    p = path.rstrip("/")
    return f"{p}/words", f"{p}/keys", f"{p}/meta"


def _fold(key: Column) -> Column:
    """Key → [0, 2^31): keeps every downstream multiply in-range on
    both engines (the split_hash_col id-domain contract)."""
    return F.pmod(key.cast("long"), F.lit(_M31))


_INTEGRAL = {"tinyint", "smallint", "int", "bigint", "long", "short", "byte"}


def _require_integral(df: DataFrame, key_col: str, fn: str) -> None:
    """The probe law hashes via cast('long'). On ANSI-off deployments
    a string key would cast to NULL silently — every such key probes
    to nothing and is re-classified 'new' forever, the exact silent-
    duplicate false negative this index exists to prevent (on this
    repo's ANSI-on Spark it crashes mid-job instead). Fail loudly and
    early at the entry points (self-review r12)."""
    dt = dict(df.dtypes).get(key_col)
    if dt is None:
        raise ValueError(f"{fn}: no column {key_col!r} in frame")
    if dt not in _INTEGRAL:
        raise ValueError(
            f"{fn}: key column {key_col!r} is {dt}; the probe law needs an "
            "integral key — hash strings first (e.g. xxhash64)"
        )


def _bucket_col(key: Column, n_buckets: int) -> Column:
    """Bucket route — independent mix constant from the probe pair."""
    return F.pmod(
        (_fold(key) * F.lit(_K3)) % F.lit(_M32), F.lit(int(n_buckets))
    ).cast("int")


def _positions(key: Column, n_words: int, k: int) -> Column:
    """array<long> of the k probe bit positions in [0, n_words·63) —
    the frozen probe law. Kirsch–Mitzenmacher double hashing:
    pos_i = (h1 + i·h2) mod m with h2 forced odd (2·x+1) so the
    stride never degenerates to 0. Max intermediate:
    h1 + (k−1)·h2 < 2^32 + k·2^33 — nowhere near the 63-bit line."""
    m = n_words * _WORD_BITS
    f = _fold(key)
    h1 = (f * F.lit(_K1)) % F.lit(_M32)
    h2 = ((f + F.lit(1)) * F.lit(_K2)) % F.lit(_M32) * F.lit(2) + F.lit(1)
    return F.transform(
        F.sequence(F.lit(0), F.lit(int(k) - 1)),
        lambda i: (h1 + i.cast("long") * h2) % F.lit(m),
    )


# pos → (word_idx, mask): integer DIV/% end-to-end (never a float).
_WORD_IDX = f"CAST(pos DIV {_WORD_BITS} AS INT)"
_MASK = f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD_BITS} AS INT))"


def _probe_rows(
    batch: DataFrame, key_col: str, n_buckets: int, n_words: int, k: int
) -> DataFrame:
    """One row per (key, probe): (key, bucket, word_idx, mask)."""
    return batch.select(
        key_col,
        _bucket_col(F.col(key_col), n_buckets).alias("bucket"),
        F.explode(_positions(F.col(key_col), n_words, k)).alias("pos"),
    ).select(
        key_col,
        "bucket",
        F.expr(_WORD_IDX).alias("word_idx"),
        F.expr(_MASK).alias("mask"),
    )


def _word_rows(batch: DataFrame, key_col: str, n_buckets: int, n_words: int, k: int) -> DataFrame:
    """Un-grouped (bucket, word_idx, word) rows for a batch of keys.
    Pre-combined per batch (bit_or groupBy) so an append writes at
    most n_buckets·n_words rows however large the batch — the
    map-side-combine shape Catalyst gives a partial bit_or."""
    return (
        _probe_rows(batch, key_col, n_buckets, n_words, k)
        .groupBy("bucket", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def read_meta_counts(
    spark: SparkSession, path: str
) -> tuple[tuple[int, int, int, str], int]:
    """(geometry+key 4-tuple, registered distinct key count) in ONE
    meta read. ``n_keys`` is maintained by build (exact),
    ingest_bloom_batch (recounted from the registry after the append
    — self-healing under crash-replay) and compact (carried through:
    compaction never changes the key set)."""
    r = read_meta(
        spark, _paths(path)[2], "bloom index",
        require=(
            ("key_col", "the key_col freeze (meta v1)"),
            ("n_keys", "the n_keys count marker (meta v2)"),
        ),
    )
    return (
        (int(r["n_buckets"]), int(r["n_words"]), int(r["k"]), str(r["key_col"])),
        int(r["n_keys"]),
    )


def _read_meta(spark: SparkSession, path: str) -> tuple[int, int, int, str]:
    return read_meta_counts(spark, path)[0]


def _write_meta(
    spark: SparkSession, meta_p: str, n_buckets: int, n_words: int, k: int,
    key_col: str, n_keys: int,
) -> None:
    write_meta(
        spark, meta_p,
        "n_buckets int, n_words int, k int, key_col string, n_keys bigint",
        (int(n_buckets), int(n_words), int(k), str(key_col), int(n_keys)),
    )


def _resolve_key(frozen: str, key_col: str | None, fn: str) -> str:
    """Enforce the frozen-key contract (the kmv/cms meta rule): the
    meta's key_col is THE key; a caller naming a different column is
    the miskeyed-append bug this freeze catches, not a rename request."""
    if key_col is None or key_col == frozen:
        return frozen
    raise ValueError(
        f"{fn}: index is frozen on key column {frozen!r} but was called "
        f"with key_col={key_col!r} — rename the batch column or rebuild"
    )


def grouped_words(spark: SparkSession, path: str) -> DataFrame:
    """The filter's canonical state: bit_or over all appended rows
    per (bucket, word_idx) — the read-side half of the merge algebra."""
    return (
        read_index(spark, path, "words")
        .groupBy("bucket", "word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


def build_bloom_index(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    n_buckets: int = 8,
    n_words: int = 1024,
    k: int = 7,
) -> None:
    """Build: words (bit rows, partitioned by bucket) → keys (exact
    registry, distinct) → meta LAST as the commit marker; rebuild
    deletes the old meta first so every crash state is loudly
    invalid. Words-before-keys is the standing append order too —
    see the module invariant (bits ⊇ keys at every reachable state).
    Meta v2 freezes ``key_col`` alongside the geometry (the kmv/cms
    contract): every post-build call validates its key column against
    the frozen one, so an append keyed on the wrong column fails
    loudly instead of silently classifying everything as new."""
    if n_buckets < 1 or n_words < 1 or not (1 <= k <= 16):
        raise ValueError("build_bloom_index: need n_buckets,n_words >= 1, 1 <= k <= 16")
    _require_integral(df, key_col, "build_bloom_index")
    spark = df.sparkSession
    words_p, keys_p, meta_p = _paths(path)
    begin_build(spark, meta_p, words_p, keys_p)

    # NULL keys carry no identity (the bloom_new_rows contract): their
    # probe rows explode to nothing, so registering one writes a keys/
    # row with NO bits — a permanent missing_bits audit alarm that
    # repair can never converge away (self-review r12).
    from pyspark import StorageLevel

    # one materialization of the distinct key set (key-registry-sized,
    # DISK_ONLY per the no-corpus-scale-memory-pins rule): it feeds
    # the words derivation, the keys/ write AND the n_keys count —
    # before r15 the distinct ran once per consumer
    fresh = (
        df.select(key_col)
        .filter(F.col(key_col).isNotNull())
        .dropDuplicates([key_col])
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    n_keys = fresh.count()
    _word_rows(fresh, key_col, n_buckets, n_words, k).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(words_p)
    fresh.write.mode("overwrite").parquet(keys_p)
    _write_meta(spark, meta_p, n_buckets, n_words, k, key_col, n_keys)


def probe_bloom(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key_col: str | None = None,
    _meta: tuple[int, int, int, str] | None = None,
) -> DataFrame:
    """batch + ``maybe`` BOOLEAN: true iff ALL k probed bits are set
    (the filter cannot rule the key out). Plan: explode k probes,
    left-join the grouped words (broadcast under the size cutoff —
    the common case; the filter is ~16 B per word), bool_and per key.
    NULL word (nothing ever landed in that slot) = bit clear.
    ``_meta``: a caller that already read the meta sidecar this call
    (bloom_new_rows) passes it through instead of paying the read +
    collect again (r14, guide §1.2: don't compute things twice)."""
    n_buckets, n_words, k, frozen = _meta or _read_meta(spark, path)
    key_col = _resolve_key(frozen, key_col, "probe_bloom")
    probed = _probe_rows(batch.select(key_col), key_col, n_buckets, n_words, k)
    words = grouped_words(spark, path)
    if n_buckets * n_words <= _BROADCAST_WORD_ROWS:
        words = F.broadcast(words)
    hit = (
        probed.join(words, ["bucket", "word_idx"], "left")
        .withColumn(
            "_hit",
            F.col("word").isNotNull()
            & (F.col("word").bitwiseAND(F.col("mask")) != 0),
        )
        .groupBy(key_col)
        .agg(F.bool_and("_hit").alias("maybe"))
    )
    return batch.join(hit, key_col, "left").withColumn(
        "maybe", F.coalesce("maybe", F.lit(False))
    )


def bloom_new_rows(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key_col: str | None = None,
    _meta: tuple[int, int, int, str] | None = None,
) -> DataFrame:
    """Rows of ``batch`` whose key is NOT in the indexed corpus —
    exactly the direct anti-join's answer, via the two-tier plan:
    bloom-negative rows are new by the no-false-negative invariant
    (zero contact with the key registry); only the maybe sliver
    takes the exact LEFT ANTI against keys/. The oracle twin is the
    direct anti-join, so a green row certifies the invariant, the
    probe law, and the verify in one equality.

    ``_meta``: a caller that built the index under a known 4-tuple
    (its ensure_index spec) forwards it instead of paying the meta
    read + collect (the probe_bloom convention one level up)."""
    # NULL keys carry no identity: a NULL can never be registered (its
    # probe rows explode to nothing, so its bits are never set) and
    # would be re-classified "new" on every ingest forever — drop them
    # up front, the same NULL contract as the cube key columns.
    meta = _meta or _read_meta(spark, path)
    key_col = _resolve_key(meta[3], key_col, "bloom_new_rows")
    _require_integral(batch, key_col, "bloom_new_rows")
    # materialize the shard ONCE: the batch is often a derived frame
    # (e.g. content fingerprints over raw text) consumed twice inside
    # probe_bloom (probe rows + the carry-columns join) and again by
    # both union branches below — the lazy plan re-derives it per use.
    # Shard-sized by the ingest contract, so the barrier is bounded
    # (the ingest_bloom_batch `fresh` discipline).
    batch = batch.filter(F.col(key_col).isNotNull()).localCheckpoint(eager=True)
    probed = probe_bloom(
        spark, path, batch, key_col, _meta=meta
    ).localCheckpoint(eager=True)
    keys = read_index(spark, path, "keys").select(F.col(key_col)).distinct()
    definitely_new = probed.filter(~F.col("maybe")).drop("maybe")
    verified_new = (
        probed.filter(F.col("maybe")).drop("maybe").join(keys, key_col, "left_anti")
    )
    return definitely_new.unionByName(verified_new)


@logged
def ingest_bloom_batch(
    spark: SparkSession, path: str, batch: DataFrame, key_col: str | None = None
) -> int:
    """Dedup-ingest one batch: classify with bloom_new_rows, append
    the genuinely-new keys' bits FIRST and their registry rows LAST.
    Convergent from any crash point WITHOUT a batch registry:
    replayed word rows are absorbed by bit_or algebra; a crash
    between the two writes leaves bits-without-keys, which the replay
    re-classifies as new (bloom maybe → verify anti-join → absent)
    and re-appends — the keys write eventually lands, and no state
    ever violates bits ⊇ keys. Returns rows actually ingested.

    Meta count marker (r15): after the keys append the meta's
    ``n_keys`` is refreshed from a RECOUNT of the registry (keys/ is
    distinct by construction, so this is a cheap metadata count) —
    recount, not increment, so any crash-replay state self-heals: a
    crash after the keys append but before the meta rewrite leaves
    ``n_keys`` stale-low, and the next ingest (even an all-duplicate
    no-op) syncs it. The meta rewrite itself has the module's
    standard failure mode — a crash mid-write leaves the index
    loudly invalid (absent meta), same as a crashed build."""
    meta4, n_keys_meta = read_meta_counts(spark, path)
    n_buckets, n_words, k, frozen = meta4
    key_col = _resolve_key(frozen, key_col, "ingest_bloom_batch")
    words_p, keys_p, meta_p = _paths(path)
    fresh = bloom_new_rows(
        spark, path, batch.dropDuplicates([key_col]), key_col, _meta=meta4
    )
    # one deterministic barrier so words and keys see the SAME verdict
    fresh = fresh.select(key_col).localCheckpoint(eager=True)
    n_new = fresh.count()
    if n_new:
        _word_rows(fresh, key_col, n_buckets, n_words, k).write.mode(
            "append"
        ).partitionBy("bucket").parquet(words_p)
        fresh.write.mode("append").parquet(keys_p)
    registered = spark.read.parquet(keys_p).count()
    if registered != n_keys_meta:
        _write_meta(spark, meta_p, n_buckets, n_words, k, key_col, registered)
    return n_new


def audit_bloom_index(
    spark: SparkSession, path: str, key_col: str | None = None
) -> DataFrame:
    """Integrity audit of the module invariant: every registered key
    must probe POSITIVE (bits ⊇ keys). A flagged key is a standing
    false negative — the one state that silently duplicates data —
    reachable only by writing keys before words (a bug, not a crash)
    or by losing word files. Bits without keys are invisible to the
    audit and harmless by design (a few extra false positives, paid
    at verify time). One probe pass over the compact registry."""
    key_col = _resolve_key(_read_meta(spark, path)[3], key_col, "audit_bloom_index")
    _, keys_p, _ = _paths(path)
    keys = spark.read.parquet(keys_p).select(key_col).distinct()
    return (
        probe_bloom(spark, path, keys, key_col)
        .filter(~F.col("maybe"))
        .select(key_col, F.lit("missing_bits").alias("state"))
    )


@logged
def repair_bloom_index(
    spark: SparkSession, path: str, key_col: str | None = None
) -> int:
    """Heal ``missing_bits``: re-derive the flagged keys' word rows
    under the frozen probe law and append them. Self-contained (the
    registry row IS the repair input — no external source frame),
    append-only, convergent: a repair that crashes re-creates the
    state it was healing; over a clean audit it is a no-op. Returns
    keys repaired."""
    n_buckets, n_words, k, frozen = _read_meta(spark, path)
    key_col = _resolve_key(frozen, key_col, "repair_bloom_index")
    words_p, _, _ = _paths(path)
    flagged = audit_bloom_index(spark, path, key_col).select(key_col)
    flagged = flagged.localCheckpoint(eager=True)
    n_flagged = flagged.count()
    if n_flagged == 0:
        return 0
    _word_rows(flagged, key_col, n_buckets, n_words, k).write.mode(
        "append"
    ).partitionBy("bucket").parquet(words_p)
    return n_flagged


def compact_bloom_index(
    spark: SparkSession, path: str, key_col: str | None = None
) -> int:
    """Physical maintenance for the append loop: collapse words/ to
    its grouped form (one row per live (bucket, word_idx)) and keys/
    to distinct rows, both through ``compact`` with the meta as the
    validity marker (out before the first swap, in after the second).
    Purely physical: the grouped view is unchanged (bit_or is the
    read law), so compaction needs no audit gate. Returns live word
    rows after compaction."""
    meta4, n_keys = read_meta_counts(spark, path)
    key_col = _resolve_key(meta4[3], key_col, "compact_bloom_index")
    words_p, keys_p, meta_p = _paths(path)
    compact(
        spark, words_p, "compact_bloom_index", grouped_words(spark, path),
        part_col="bucket", marker=meta_p,
    )
    compact(
        spark, keys_p, "compact_bloom_index",
        spark.read.parquet(keys_p).select(key_col).distinct(),
        recommit=lambda: _write_meta(spark, meta_p, *meta4, n_keys),
    )
    return spark.read.parquet(words_p).count()


def bloom_fill_report(
    spark: SparkSession,
    path: str,
    key_col: str | None = None,
    _meta: tuple[int, int, int, str] | None = None,
) -> DataFrame:
    """Per-bucket saturation: registered keys, set bits, fill ratio
    in ppm (integer: set_bits·10^6 DIV m — never a float). The
    capacity dashboard: fill_ppm ≈ 632,000 is the classic 50%-
    occupancy design point; past ~700,000 the fpr grows fast and the
    bucket wants a rebuild at larger n_words. All-integer, so the
    DuckDB twin recomputes the EXACT bit contents — a green row
    certifies the filter's state bit-for-bit. ``_meta``: the
    bloom_new_rows forwarding convention (r15)."""
    n_buckets, n_words, k, frozen = _meta or _read_meta(spark, path)
    key_col = _resolve_key(frozen, key_col, "bloom_fill_report")
    m = n_words * _WORD_BITS
    keys_per_bucket = (
        read_index(spark, path, "keys")
        .select(F.col(key_col))
        .distinct()
        .groupBy(_bucket_col(F.col(key_col), n_buckets).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )
    bits = (
        grouped_words(spark, path)
        .groupBy("bucket")
        .agg(F.sum(F.bit_count("word")).cast("bigint").alias("set_bits"))
    )
    return (
        keys_per_bucket.join(bits, "bucket", "full")
        .select(
            F.col("bucket"),
            F.coalesce("n_keys", F.lit(0)).cast("bigint").alias("n_keys"),
            F.coalesce("set_bits", F.lit(0)).cast("bigint").alias("set_bits"),
        )
        .withColumn(
            "fill_ppm", F.expr(f"set_bits * 1000000 DIV {m}").cast("bigint")
        )
        .orderBy("bucket")
    )


# The streaming ingest form (foreach_batch_bloom_sink) lives with the
# other eight forms in streaming/windows.py; its replay contract is
# ingest_bloom_batch's convergence argument above.
