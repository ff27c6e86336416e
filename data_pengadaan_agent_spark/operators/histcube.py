"""Mergeable histogram cube: composable quantiles from exact bin counts.

``quantile_band`` / ``approx_percentile`` answer one quantile question
by scanning the data. The standing 100 TB question composes:
"p50/p99 of event value per (event_type, day), re-asked daily, rolled
up weekly/globally, corpus appended forever" — and quantiles, like
COUNT DISTINCT, do not add. Full mergeable quantile sketches (t-digest,
KLL) have no Spark-builtin serialized state, but the FIXED-BIN
histogram is the sketch that needs none: bin counts are plain BIGINTs,
merging is integer addition, and every rollup/append law is EXACT —
which also makes the whole family oracle-checkable in DuckDB, unlike
an opaque sketch (the sketchcube module documents that trade; this
module is its exactly-verifiable sibling, trading adaptivity for
auditability: quantiles come back as *bins*, i.e. value intervals of
width (hi−lo)/n_bins, never interpolated point estimates that would
smuggle in float division).

- ``build_hist_cube``: one shuffle to (dims) × bin → count. The bin of
  a value is floor((x − lo) / width) clamped to [0, n_bins−1]; the
  subtraction and division are single IEEE ops on bit-identical
  doubles, so bucketing is STRUCTURALLY identical on every engine
  (the split_hash_col determinism class). Values outside [lo, hi]
  clamp to the edge bins (documented contract — the edge bins answer
  "how much mass escaped the design range", the retrain signal for a
  stale [lo, hi]).
- ``append_hist_cube``: sketch the shard, APPEND rows — readers SUM
  per (dims, bin), so appends never read-modify-write (the gram-count
  index discipline). Unlike HLL-union, count addition is NOT
  replay-idempotent, so the append is registry-gated exactly like the
  other count-bearing families: a tiny batch registry commits FIRST,
  making replays no-ops.
- ``hist_rollup``: per-group bin counts at any coarser granularity —
  integer sums of cube rows, never a raw scan.
- ``hist_quantile_bins``: for each group and each requested q (ppm),
  the bin containing the q-th quantile: the smallest bin whose
  cumulative count satisfies cum·10^6 ≥ q·total — exact integer
  comparisons end to end, ties and emptiness well-defined (empty
  groups emit nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.sources.catalog import (
    append_counts,
    build_counts,
    cube_paths as _paths,
    read_meta,
)


def _read_meta(spark: SparkSession, path: str):
    r = read_meta(spark, _paths(path)[2], "hist cube")
    return (
        list(r["dims"]), str(r["value_col"]), float(r["lo"]), float(r["hi"]),
        int(r["n_bins"]),
    )


def bin_col(value_col: str, lo: float, hi: float, n_bins: int):
    """floor((x − lo) / width), clamped to [0, n_bins−1]. One
    subtraction + one division + one floor on bit-identical doubles —
    structurally identical on every engine. NULLs return NULL (the
    callers drop them)."""
    width = (float(hi) - float(lo)) / int(n_bins)
    raw = F.floor((F.col(value_col).cast("double") - F.lit(float(lo))) / F.lit(width))
    return F.greatest(F.lit(0), F.least(F.lit(int(n_bins) - 1), raw)).cast("int")


def _cube_rows(
    df: DataFrame, dims: list[str], value_col: str, lo: float, hi: float, n_bins: int
) -> DataFrame:
    # NaN drops like NULL (self-review r12): Spark's floor(NaN) casts
    # to 0, so NaN mass used to land silently in bin 0 and corrupt
    # every low quantile — unlike out-of-range values, whose clamped
    # edge-bin mass is a documented signal.
    return (
        df.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
        )
        .withColumn("bin", bin_col(value_col, lo, hi, n_bins))
        .groupBy(*dims, "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def build_hist_cube(
    df: DataFrame,
    path: str,
    dims: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> None:
    """Ingest: one (dims, bin) count shuffle through
    ``catalog.build_counts`` (meta last). [lo, hi, n_bins] freeze the
    bin geometry for the cube's life — appends under a different
    geometry would silently corrupt every quantile, so the law lives in
    meta and appends validate against it."""
    if not dims:
        raise ValueError("build_hist_cube: need at least one dim")
    if not (float(lo) < float(hi)):
        raise ValueError("build_hist_cube: need lo < hi")
    if n_bins < 2:
        raise ValueError("build_hist_cube: n_bins must be >= 2")
    build_counts(
        _cube_rows(df, dims, value_col, lo, hi, n_bins), path,
        "dims array<string>, value_col string, lo double, hi double, n_bins int",
        (list(dims), str(value_col), float(lo), float(hi), int(n_bins)),
    )


def append_hist_cube(shard: DataFrame, path: str, batch_id: str) -> int:
    """Incremental ingest of one shard under the FROZEN bin geometry,
    registry-gated on ``batch_id`` (``catalog.append_counts``: a
    replayed id is a no-op; a retry after a crash takes a new id).
    Returns cube rows appended."""
    dims, value_col, lo, hi, n_bins = _read_meta(shard.sparkSession, path)
    return append_counts(
        _cube_rows(shard, dims, value_col, lo, hi, n_bins), path, batch_id,
        "append_hist_cube",
    )


def hist_rollup(
    spark: SparkSession, path: str, group_by: list[str] | None = None
) -> DataFrame:
    """Per-group bin counts at any coarser granularity: integer sums
    of cube rows (readers always SUM, so the append layout is
    invisible). Returns (group_by..., bin, cnt) ordered."""
    dims, _, _, _, _ = _read_meta(spark, path)
    group_by = list(group_by or [])
    bad = [g for g in group_by if g not in dims]
    if bad:
        raise ValueError(
            f"hist_rollup: {bad!r} not in cube dims {dims!r}"
        )
    cube = spark.read.parquet(_paths(path)[0])
    out = cube.groupBy(*group_by, "bin").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    return out.orderBy(*group_by, "bin")


def hist_quantile_bins(
    spark: SparkSession,
    path: str,
    group_by: list[str] | None = None,
    q_ppm: list[int] = (500_000,),
) -> DataFrame:
    """The q-th quantile BIN per group, exact integer end to end: the
    smallest bin with cum_cnt·10^6 ≥ q·total. Returns (group_by...,
    q_ppm, bin, bin_lo, bin_hi, cum_cnt, total) — bin_lo/bin_hi are
    the interval bounds lo + bin·width / lo + (bin+1)·width (computed
    from the frozen meta; one multiply + one add per bound, the same
    structural class as the bucketing itself)."""
    dims, _, lo, hi, n_bins = _read_meta(spark, path)
    for q in q_ppm:
        if not (0 < int(q) <= 1_000_000):
            raise ValueError("hist_quantile_bins: q_ppm entries must be in "
                             "(0, 1000000]")
    group_by = list(group_by or [])
    width = (hi - lo) / n_bins
    bins = hist_rollup(spark, path, group_by)
    w = (
        Window.partitionBy(*group_by).orderBy("bin")
        if group_by
        else Window.partitionBy(F.lit(1)).orderBy("bin")
    )
    wt = (
        Window.partitionBy(*group_by) if group_by else Window.partitionBy(F.lit(1))
    )
    cum = bins.withColumn(
        "cum_cnt", F.sum("cnt").over(w).cast("bigint")
    ).withColumn("total", F.sum("cnt").over(wt).cast("bigint"))
    qs = F.explode(
        F.array(*[F.lit(int(q)) for q in q_ppm])
    ).alias("q_ppm")
    # the quantile test widened to DECIMAL: cum·10^6 and q·total leave
    # bigint headroom once a group passes ~9.2e12 rows (ANSI multiply
    # would throw at 100 TB scale); decimal(38,0) keeps the comparison
    # exact with 10^12× the headroom
    hit = (
        cum.select(*group_by, "bin", "cum_cnt", "total", qs)
        .filter(
            F.col("cum_cnt").cast("decimal(38,0)") * F.lit(1_000_000)
            >= F.col("q_ppm").cast("decimal(38,0)") * F.col("total")
        )
    )
    wq = Window.partitionBy(*group_by, "q_ppm").orderBy("bin") if group_by else (
        Window.partitionBy("q_ppm").orderBy("bin")
    )
    return (
        hit.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") == 1)
        .select(
            *group_by,
            "q_ppm",
            "bin",
            (F.lit(float(lo)) + F.col("bin") * F.lit(float(width))).alias("bin_lo"),
            (F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(float(width))).alias(
                "bin_hi"
            ),
            "cum_cnt",
            "total",
        )
        .orderBy(*group_by, "q_ppm")
    )
