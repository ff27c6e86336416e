"""Mergeable distinct-count cube: pre-aggregated HyperLogLog sketches.

``distinct_count`` / ``approx_count_distinct`` answer one COUNT
DISTINCT by scanning the corpus. At 100 TB the standing question is
different: "distinct users per (event_type, day), re-asked daily,
rolled up weekly/monthly/globally, corpus appended forever" — and
COUNT DISTINCT does not compose (you cannot add yesterday's distinct
count to today's). The composition answer is the mergeable sketch
(Apache DataSketches HLL, built into Spark 3.5+ as
``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``):
pre-aggregate one sketch per fine-grained group at ingest, then any
rollup is a UNION of sketches — reading cube rows, never raw data.

Crash/replay discipline is STRONGER than the registry-first index
families, by algebra instead of bookkeeping: HLL's register state is
a pointwise max, so it is insensitive to duplication and order —
``union(s, s) = s``. A replayed or partially-written append changes
NOTHING about any estimate once the same rows land again, so appends
need no ids registry, no anti-join, no commit marker; only the build
keeps the meta-last contract (readers must know dims/key/lg_k).
The estimate is approximate (±~1.6%/sqrt(2^lg_k) at scale, EXACT in
the sketch's low-cardinality coupon mode) — which is why the pinned
invariant is the MERGE LAW, a deterministic equality: rollup over the
cube == one sketch over the raw rows, bit-for-bit the same estimate.

No DuckDB oracle is possible (DuckDB's approx_count_distinct is a
different HLL implementation), so this family is pytest-certified
like the metadata ops: the merge law, append idempotence,
low-cardinality exactness, and compaction invariance are all exact
equalities, checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.sources.catalog import (
    append_union,
    begin_build,
    compact,
    logged,
    read_meta,
    write_meta,
)


def _paths(path: str) -> tuple[str, str]:
    p = path.rstrip("/")
    return f"{p}/cube", f"{p}/meta"


def _read_meta(spark: SparkSession, path: str) -> tuple[list[str], str, int]:
    r = read_meta(spark, _paths(path)[1], "distinct cube")
    return list(r["dims"]), str(r["key_col"]), int(r["lg_k"])


def _write_meta(
    spark: SparkSession, meta_p: str, dims: list[str], key_col: str, lg_k: int
) -> None:
    write_meta(
        spark, meta_p, "dims array<string>, key_col string, lg_k int",
        (list(dims), str(key_col), int(lg_k)),
    )


def _sketch_rows(
    df: DataFrame, dims: list[str], key_col: str, lg_k: int
) -> DataFrame:
    return df.groupBy(*dims).agg(
        F.hll_sketch_agg(F.col(key_col).cast("string"), F.lit(lg_k)).alias(
            "sketch"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


def build_distinct_cube(
    df: DataFrame,
    path: str,
    dims: list[str],
    key_col: str,
    lg_k: int = 12,
) -> None:
    """Ingest: one shuffle to (dims) → one HLL sketch + row count per
    group, then the 1-row meta COMMIT MARKER last. The key is cast to
    string before sketching so appends can never drift the hash input
    type (an int64 key and its string form sketch differently).
    lg_k fixes the register count (2^lg_k) — frozen for the cube's
    life; unions of different lg_k are refused by the reader, so the
    knob cannot drift silently."""
    if not dims:
        raise ValueError("build_distinct_cube: need at least one dim")
    if not (4 <= int(lg_k) <= 21):
        raise ValueError("build_distinct_cube: lg_k must be in [4, 21]")
    cube_p, meta_p = _paths(path)
    spark = df.sparkSession
    begin_build(spark, meta_p, cube_p)
    _sketch_rows(df, dims, key_col, int(lg_k)).write.mode("overwrite").parquet(
        cube_p
    )
    _write_meta(spark, meta_p, dims, key_col, lg_k)


@logged
def append_distinct_cube(shard: DataFrame, path: str) -> int:
    """Incremental ingest: sketch the shard per group and APPEND the
    rows — no registry, no anti-join, no marker, because the reader
    unions sketches and union is idempotent (``union(s, s) = s``): a
    replayed epoch, a double-write, or a crash-then-retry all converge
    to the same estimates once the rows land. (n_rows IS
    duplication-sensitive — it counts arrivals, the at-least-once ack
    semantic, not distinct keys.) ``catalog.append_union`` writes
    nothing for an empty shard. Returns group rows appended."""
    dims, key_col, lg_k = _read_meta(shard.sparkSession, path)
    return append_union(_sketch_rows(shard, dims, key_col, lg_k), _paths(path)[0])


def distinct_rollup(
    spark: SparkSession, path: str, group_by: list[str] | None = None
) -> DataFrame:
    """Any-granularity rollup from the cube alone: group the sketch
    rows by a SUBSET of the cube dims (empty = the global count),
    union the sketches, estimate. Reads cube rows only — never the
    raw corpus. Returns (group_by..., distinct_est bigint, n_rows
    bigint)."""
    dims, _, _ = _read_meta(spark, path)
    group_by = list(group_by or [])
    bad = [g for g in group_by if g not in dims]
    if bad:
        raise ValueError(
            f"distinct_rollup: {bad!r} not in cube dims {dims!r} — the cube "
            "can only roll UP; rebuild with finer dims for new axes"
        )
    cube_p, _ = _paths(path)
    cube = spark.read.parquet(cube_p)
    agg = [
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_est"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    ]
    if group_by:
        return cube.groupBy(*group_by).agg(*agg).orderBy(*group_by)
    return cube.agg(*agg)


def compact_distinct_cube(spark: SparkSession, path: str) -> int:
    """Union the per-append sketch rows down to ONE row per group
    through ``compact``, with the meta as the validity marker (readers
    always union, so every estimate is unchanged — pinned by test;
    n_rows sums). Returns rows removed."""
    dims, key_col, lg_k = _read_meta(spark, path)
    cube_p, meta_p = _paths(path)
    cube = spark.read.parquet(cube_p)
    before = cube.count()
    merged = cube.groupBy(*dims).agg(
        F.hll_union_agg("sketch").alias("sketch"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    )
    compact(
        spark, cube_p, "compact_distinct_cube", merged, marker=meta_p,
        recommit=lambda: _write_meta(spark, meta_p, dims, key_col, lg_k),
    )
    return before - spark.read.parquet(cube_p).count()
