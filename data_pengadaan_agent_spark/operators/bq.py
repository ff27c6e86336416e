"""Binary quantization (BQ) — the 1-bit/dim Hamming tier.

The fourth rung of the compression ladder (raw float -> SQ8 -> PQ ->
BQ): each dimension collapses to ONE sign bit against a per-dimension
threshold, the bits pack into BIGINT words, and retrieval ranks by
Hamming distance computed as ``bit_count(xor(word, query_word))`` —
pure integer whole-stage codegen, the cheapest possible scan shape.
This is the coarse tier modern vector stores put FIRST: scan the
1-bit codes to a shortlist, then re-rank the shortlist exactly
(``bq_rerank_topk``). A 64-dim float32 vector is 256 B; its BQ code is
two 63-bit words = 16 B before parquet bit-packing.

Reference parity: the reference's retrieval surface is a pandas
cosine scan (reference: openai/my_toolkit.py's similarity tool); BQ is
an extension the 100 TB deployment needs, with provenance in public
research (sign-random-projection LSH, Charikar STOC 2002; binary
quantization as shipped by modern ANN systems).

Determinism contract (the sq.py structural-equality class):

- thresholds = per-dimension midrange ``(min + max) / 2`` — min/max
  are EXACT order-free aggregates, and the midrange is ONE IEEE add +
  ONE divide-by-two on bit-identical doubles, so every engine computes
  the identical threshold bits. (A mean would be order-dependent
  across partitions — never use it here.)
- bit_i = 1 iff x_i > t_i (strict; exactly-at-threshold is 0 on every
  engine because the compared doubles are bit-identical).
- words pack 63 bits (bits 0..62) so every word is a SUM of distinct
  powers of two < 2**63 — plain positive BIGINT arithmetic; no engine
  has to agree about the int64 sign bit, and DuckDB's ``1 << 63``
  overflow never enters the picture. 64 dims -> 2 words.
- Hamming = sum of ``bit_count(xor(a, b))`` per word: pure integers,
  both engines' bit_count verified to agree (including on negative
  inputs, which this packing never produces). Ties rank by id
  ascending (the pq/sq convention).
- the exact re-rank stage quantizes raw dims to BIGINT micro-units via
  ``floor(x * 10^dp + 0.5)`` — one multiply + one floor on
  bit-identical doubles, the sq_encode structural argument again —
  then sums exact integer squared differences.

At scale: the BQ scan is the narrowest possible full-corpus pass
(8-16 B/vector instead of 256), entirely inside whole-stage codegen
with no Python worker and no shuffle before the distributed
TakeOrderedAndProject; the re-rank touches only ``shortlist`` rows
(a broadcast-join-sized set by construction).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.sources.catalog import (
    audit_registry,
    begin_build,
    compact,
    flagged_rows,
    local_df,
    logged,
    new_rows,
)

BITS_PER_WORD = 63


def train_bq(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> list[float]:
    """Per-dimension midrange thresholds from ONE codegen aggregate
    (2*dim agg expressions, driver receives one row). Exact min/max ->
    deterministic under any partitioning; (mn + mx) / 2 is structural
    cross-engine equality (one add, one exact halving)."""
    if dim < 1:
        raise ValueError("train_bq: dim must be >= 1")
    row = df.agg(
        *[F.min(F.col(vec_col)[i].cast("double")).alias(f"mn{i}") for i in range(dim)],
        *[F.max(F.col(vec_col)[i].cast("double")).alias(f"mx{i}") for i in range(dim)],
    ).collect()[0]
    out = []
    for i in range(dim):
        mn, mx = row[f"mn{i}"], row[f"mx{i}"]
        if mn is None or mx is None:
            raise ValueError(f"train_bq: dimension {i} has no values")
        out.append((float(mn) + float(mx)) / 2.0)
    return out


def n_words(dim: int) -> int:
    return (dim + BITS_PER_WORD - 1) // BITS_PER_WORD


def bq_code_col(
    vec_col: str,
    thresholds: Sequence[float],
):
    """array<bigint> of 63-bit sign-bit words as a pure column
    expression: bits = zip_with(v, t, x > t), then each word is the
    dot product of its bit slice against a literal powers-of-two
    array — all inside whole-stage codegen, no Python worker."""
    dim = len(thresholds)
    t_lit = F.array(*[F.lit(float(t)) for t in thresholds])
    bits = F.zip_with(
        F.col(vec_col),
        t_lit,
        lambda x, t: F.when(x.cast("double") > t, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    words = []
    for w in range(n_words(dim)):
        start = w * BITS_PER_WORD
        width = min(BITS_PER_WORD, dim - start)
        powers = F.array(*[F.lit(1 << j).cast("bigint") for j in range(width)])
        # slice() is 1-indexed
        word = F.aggregate(
            F.zip_with(
                F.slice(bits, start + 1, width), powers, lambda b, p: b * p
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        words.append(word)
    return F.array(*words)


def bq_encode(
    df: DataFrame,
    thresholds: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, words array<bigint>) — one codegen select, no shuffle."""
    return df.select(
        F.col(id_col),
        bq_code_col(vec_col, thresholds).alias("words"),
    )


def encode_query_bq(
    query: Sequence[float], thresholds: Sequence[float]
) -> list[int]:
    """Driver-side query packing: the SAME strict ``x > t`` test on
    identical doubles, packed into the same 63-bit words."""
    if len(query) != len(thresholds):
        raise ValueError(
            f"encode_query_bq: query dim {len(query)} != "
            f"threshold dim {len(thresholds)}"
        )
    bits = [1 if float(x) > float(t) else 0 for x, t in zip(query, thresholds)]
    words = []
    for w in range(n_words(len(bits))):
        chunk = bits[w * BITS_PER_WORD : (w + 1) * BITS_PER_WORD]
        words.append(sum(b << j for j, b in enumerate(chunk)))
    return words


def hamming_col(words_col, query_words: Sequence[int]):
    """Hamming distance to the literal query words: one
    zip_with(bit_count(xor)) fold, exact BIGINT."""
    q_lit = F.array(*[F.lit(int(w)).cast("bigint") for w in query_words])
    return F.aggregate(
        F.zip_with(
            words_col,
            q_lit,
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def bq_topk(
    codes_df: DataFrame,
    query_words: Sequence[int],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Rank the packed corpus by Hamming distance to the query words —
    integer codegen scan, no join, no shuffle, then a distributed
    TakeOrderedAndProject. Ties to the lowest id (the sq convention).
    Returns (rank, id, hamming)."""
    from pyspark.sql import Window

    top = (
        codes_df.select(
            F.col(id_col), hamming_col(F.col("words"), query_words).alias("hamming")
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(int(k))
    )
    w = Window.orderBy(F.asc("hamming"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", id_col, "hamming"
    )


def _bq_sidecars(path: str) -> tuple[str, str]:
    p = path.rstrip("/")
    return f"{p}_ids", f"{p}_thr"


def save_bq_thresholds(spark, path: str, thresholds: Sequence[float]) -> None:
    """Persist the frozen thresholds beside the words (dim rows —
    parameter-sized). Written LAST by the build — the commit marker:
    words without thresholds are a loudly-invalid index (the
    sq/lexindex/ivfpq meta discipline)."""
    _, thr_p = _bq_sidecars(path)
    local_df(
        spark,
        [(int(i), float(t)) for i, t in enumerate(thresholds)],
        "dim int, t double",
    ).write.mode("overwrite").parquet(thr_p)


def load_bq_thresholds(spark, path: str) -> list[float]:
    """Read back the frozen thresholds; raises if the build never
    committed."""
    _, thr_p = _bq_sidecars(path)
    try:
        rows = spark.read.parquet(thr_p).collect()
    except Exception as exc:  # noqa: BLE001 - absent = invalid index
        raise ValueError(
            f"bq index at {path!r} has no readable thresholds — the build "
            "crashed before commit; rebuild with build_bq_table"
        ) from exc
    rows = sorted(rows, key=lambda r: r["dim"])
    if not rows:
        raise ValueError(f"bq index thresholds at {path!r} are empty")
    return [float(r["t"]) for r in rows]


def build_bq_table(
    df: DataFrame,
    path: str,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[float]:
    """Build the persisted BQ index (the SIXTH index family with the
    full lifecycle — the sq.py contract verbatim, with midrange
    thresholds as the frozen geometry): train, encode, write (words,
    ids registry, thresholds sidecar) — the sidecar LAST as the commit
    marker. Dedup ONCE up front so training, words, and the registry
    all see the same frame. Returns the thresholds for the query
    side."""
    spark = df.sparkSession
    ids_p, thr_p = _bq_sidecars(path)
    begin_build(spark, thr_p, path, ids_p)
    df = df.dropDuplicates([id_col])
    thresholds = train_bq(df, dim, vec_col)
    bq_encode(df, thresholds, vec_col, id_col).write.mode(
        "overwrite"
    ).parquet(path)
    df.select(id_col).write.mode("overwrite").parquet(ids_p)
    save_bq_thresholds(spark, path, thresholds)
    return thresholds


@logged
def append_bq_table(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incremental BQ maintenance: encode a NEW batch with the FROZEN
    thresholds (daily shards never retrain — a drifting distribution
    shows up as recall loss, and the re-rank stage absorbs it) and
    append, ids first, words second (README "Index lifecycle").
    Returns vectors appended."""
    thresholds = load_bq_thresholds(df.sparkSession, path)
    ids_p, _ = _bq_sidecars(path)
    fresh, n_new = new_rows(df, ids_p, id_col)
    if n_new:
        fresh.select(id_col).write.mode("append").parquet(ids_p)
        bq_encode(fresh, thresholds, vec_col, id_col).write.mode(
            "append"
        ).parquet(path)
    return n_new


def audit_bq_table(spark, path: str, id_col: str = "vec_id") -> DataFrame:
    """Registry ids without words (``missing_words``) and orphan words
    (``orphan_words``); empty = consistent."""
    load_bq_thresholds(spark, path)  # validates the build committed
    return audit_registry(spark, _bq_sidecars(path)[0], path, id_col, "words")


@logged
def repair_bq_table(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Heal every ``missing_words`` id: re-encode exactly the flagged
    vectors of ``df`` with the FROZEN thresholds and append their
    words. Returns vectors re-encoded."""
    spark = df.sparkSession
    thresholds = load_bq_thresholds(spark, path)
    flagged = audit_bq_table(spark, path, id_col).filter(
        F.col("state") == "missing_words"
    )
    todo, n_todo = flagged_rows(df, flagged.select(id_col), id_col, "repair_bq_table")
    if n_todo:
        bq_encode(todo, thresholds, vec_col, id_col).write.mode(
            "append"
        ).parquet(path)
    return n_todo


def compact_bq_table(spark, path: str, id_col: str = "vec_id") -> int:
    """Rewrite the words to one file, bit-identical rows,
    with the thresholds as the validity marker. Refuses a dirty audit.
    Returns files removed."""
    thresholds = load_bq_thresholds(spark, path)
    dirty = audit_bq_table(spark, path, id_col).count()
    if dirty:
        raise ValueError(
            f"compact_bq_table: {dirty} inconsistent id(s) in the index — "
            "run repair_bq_table before compacting"
        )
    return compact(
        spark, path, "compact_bq_table", key=id_col,
        marker=_bq_sidecars(path)[1],
        recommit=lambda: save_bq_thresholds(spark, path, thresholds),
    )


def bq_topk_batch(
    codes_df: DataFrame,
    queries: Sequence[tuple[int, Sequence[int]]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batched multi-query Hamming retrieval — the batch-miner shape
    every other retrieval family has (pq_adc_batch,
    bm25_retrieval_batch, mine_hard_negatives), and the only one that
    stays PURE codegen: all |Q| Hamming folds in one projection over
    one words scan, exploded to (qid, hamming) rows, then per-qid
    row_number <= k. Spark's WindowGroupLimit pushes a partial top-k
    into each partition BEFORE the qid exchange, so the one shuffle
    carries <= partitions x |Q| x k rows — never N x |Q|. Ties to the
    lowest id. Returns (qid, rank, id, hamming)."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("bq_topk_batch: need at least one query")
    structs = [
        F.struct(
            F.lit(int(qid)).cast("bigint").alias("qid"),
            hamming_col(F.col("words"), qw).alias("hamming"),
        )
        for qid, qw in queries
    ]
    pairs = codes_df.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("p")
    ).select(id_col, F.col("p.qid").alias("qid"), F.col("p.hamming").alias("hamming"))
    w = Window.partitionBy("qid").orderBy(F.asc("hamming"), F.asc(id_col))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("qid", "rank", id_col, "hamming")
    )


def micro_l2_col(vec_col: str, query: Sequence[float], dp: int = 6):
    """Exact integer squared L2 on the micro-unit grid:
    q_i = floor(x_i * 10^dp + 0.5) as BIGINT (one multiply + one floor
    on bit-identical doubles — structural), then sum of integer
    squared diffs. int64 headroom: per-dim diff <= 2·|x|max·10^dp,
    so 64 dims at dp=6 are safe to |x| ~1.5e2 (sum ~9e18 at the
    edge); beyond that ANSI mode raises loudly rather than wrapping —
    drop ``dp`` for large-magnitude embeddings."""
    scale = float(10**dp)
    q_micro = [int(math.floor(float(x) * scale + 0.5)) for x in query]
    q_lit = F.array(*[F.lit(q).cast("bigint") for q in q_micro])
    v_micro = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    return F.aggregate(
        F.zip_with(v_micro, q_lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def bq_rerank_topk(
    df: DataFrame,
    thresholds: Sequence[float],
    query: Sequence[float],
    k: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dp: int = 6,
) -> DataFrame:
    """The production two-stage shape: (1) a Hamming scan cuts the
    corpus to ``shortlist`` candidates, (2) exact integer micro-unit
    L2 re-ranks just the shortlist. Both stages deterministic: Hamming
    ties then l2 ties break by id ascending. Returns
    (rank, id, hamming, l2_micro).

    This variant encodes RAW vectors on the fly (one frame in, no
    prebuilt index), so stage 1 reads the full embedding column; the
    16 B/vector packed-scan shape is ``bq_topk`` over a
    ``build_bq_table`` words table, with this function's stage-2
    re-rank joined back on the shortlist ids. Stage 2 touches
    ``shortlist`` rows — driver-bounded by construction, never
    data-sized."""
    from pyspark.sql import Window

    qwords = encode_query_bq(query, thresholds)
    stage1 = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            hamming_col(bq_code_col(vec_col, thresholds), qwords).alias(
                "hamming"
            ),
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(int(shortlist))
    )
    scored = stage1.select(
        F.col(id_col),
        F.col("hamming"),
        micro_l2_col(vec_col, query, dp).alias("l2_micro"),
    )
    top = scored.orderBy(F.asc("l2_micro"), F.asc(id_col)).limit(int(k))
    w = Window.orderBy(F.asc("l2_micro"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", id_col, "hamming", "l2_micro"
    )
