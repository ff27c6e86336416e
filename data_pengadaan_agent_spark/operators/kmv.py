"""KMV (k-minimum-values) distinct-count cube — the HLL cube's
ORACLE-CERTIFIABLE sibling, and the fourth mergeable sketch (HLL =
distinct/opaque, hist = quantiles, CMS = frequencies, KMV =
distinct/verifiable).

The HLL cube (sketchcube.py) composes COUNT DISTINCT over a
forever-appended corpus but its serialized sketch is JVM-opaque — no
DuckDB twin is possible, so that family is pytest-certified. KMV
(Bar-Yossef et al. 2002; Beyer et al. SIGMOD 2007) is the sketch that
removes that trade: keep the k SMALLEST values of a uniform hash of
the keys; the k-th smallest estimates density,

    est = (k − 1) · 2^32 DIV h_(k)     (hash space [0, 2^32)),

and with fewer than k samples the sketch IS the exact distinct set
(coupon mode: est = |samples| exactly). Everything is the repo's
arithmetic class — the Knuth 32-bit scramble (sampling.split_hash_col)
and integer DIV — so a DuckDB twin recomputes the sketch's ENTIRE
state and estimate bit-for-bit.

The algebra is the cleanest of the four cubes: a sketch is a SET of
hash values, merge is set-union-then-cut, so appends are plain row
appends with NO batch registry (replaying a batch re-appends rows a
DISTINCT absorbs — the bloom/HLL replay argument) and readers always
distinct → k-smallest-per-group → estimate. Rollups to coarser dims
union the fine groups' samples and re-cut — merging sketches IS the
sketch of the union (exact set identity, pinned bit-for-bit in
tests).

Scale: cube rows ≤ k per (finest) group after compaction; the
re-cut is one rank window per read over k·groups rows — never the
corpus. The one caveat KMV shares with every bottom-k sketch: hash
COLLISIONS of distinct keys collapse to one sample (standard, tiny
at 2^32, and identical on both engines — the twin sees the same
collisions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from data_pengadaan_agent_spark.operators.sampling import split_hash_col
from data_pengadaan_agent_spark.sources.catalog import (
    append_union,
    begin_build,
    compact,
    logged,
    read_meta,
    write_meta,
)

_HASH_SPACE = 1 << 32


def _paths(path: str) -> tuple[str, str]:
    p = path.rstrip("/")
    return f"{p}/samples", f"{p}/meta"


def _read_meta(spark: SparkSession, path: str) -> tuple[list[str], str, int]:
    r = read_meta(spark, _paths(path)[1], "kmv cube")
    return list(r["dims"]), str(r["key_col"]), int(r["k"])


def _write_meta(
    spark: SparkSession, meta_p: str, dims: list[str], key_col: str, k: int
) -> None:
    write_meta(
        spark, meta_p, "dims array<string>, key_col string, k int",
        (list(dims), str(key_col), int(k)),
    )


def _sample_rows(df: DataFrame, dims: list[str], key_col: str, k: int) -> DataFrame:
    """Per-group candidate samples: the k smallest DISTINCT hash
    values seen in this frame (pre-cut per batch so an append writes
    ≤ k rows per touched group, the map-side-combine shape)."""
    hv = split_hash_col(key_col)
    w = Window.partitionBy(*dims).orderBy("hv")
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(*dims, hv.alias("hv"))
        .distinct()
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= int(k))
        .drop("_r")
    )


def build_kmv_cube(
    df: DataFrame, path: str, dims: list[str], key_col: str, k: int = 64
) -> None:
    """Ingest: one distinct + rank-cut shuffle on the dims, meta
    commit marker LAST. k freezes the accuracy/size trade
    (relative error ~ 1/sqrt(k−2)) for the cube's life."""
    if not dims:
        raise ValueError("build_kmv_cube: need at least one dim")
    if k < 2:
        raise ValueError("build_kmv_cube: k must be >= 2")
    # split_hash_col hashes via cast('long'): a string key would cast
    # to NULL on ANSI-off deployments and silently vanish from every
    # sketch (self-review r12 — the bloom _require_integral contract)
    from data_pengadaan_agent_spark.operators.bloom import _require_integral

    _require_integral(df, key_col, "build_kmv_cube")
    samples_p, meta_p = _paths(path)
    spark = df.sparkSession
    begin_build(spark, meta_p, samples_p)
    _sample_rows(df, dims, key_col, k).write.mode("overwrite").parquet(samples_p)
    _write_meta(spark, meta_p, dims, key_col, k)


@logged
def append_kmv_cube(shard: DataFrame, path: str) -> int:
    """Incremental ingest: the shard's own k-cut sample rows are
    APPENDED — no registry, no marker: the sketch is a set and
    readers distinct-then-cut, so any replay, any crash point, any
    at-least-once duplication converges to the identical sketch (the
    bloom/HLL algebra argument — second count-free index family).
    Returns sample rows appended."""
    dims, key_col, k = _read_meta(shard.sparkSession, path)
    return append_union(_sample_rows(shard, dims, key_col, k), _paths(path)[0])


def kmv_state(spark: SparkSession, path: str, group_by: list[str] | None = None) -> DataFrame:
    """The canonical sketch at any granularity: distinct hash values
    unioned across appends (and across finer groups for a rollup),
    cut to the k smallest per group. Merging IS this re-cut."""
    dims, _, k = _read_meta(spark, path)
    group_by = list(group_by or [])
    bad = [g for g in group_by if g not in dims]
    if bad:
        raise ValueError(f"kmv_state: {bad!r} not in cube dims {dims!r}")
    samples_p, _ = _paths(path)
    # global (no-group) rollup: one k-row partition — partitionBy needs
    # at least one expression, so pin a literal
    w = Window.partitionBy(*(group_by or [F.lit(0)])).orderBy("hv")
    return (
        spark.read.parquet(samples_p)
        .select(*group_by, "hv")
        .distinct()
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
    )


def kmv_distinct(
    spark: SparkSession, path: str, group_by: list[str] | None = None
) -> DataFrame:
    """Distinct-count estimates per group: coupon mode (< k samples)
    reports the EXACT sample count; at capacity, the Beyer et al.
    unbiased estimator (k−1)·2^32 DIV h_(k) — integer end to end.
    Returns (group_by..., n_samples, est_distinct) ordered."""
    _, _, k = _read_meta(spark, path)
    group_by = list(group_by or [])
    state = kmv_state(spark, path, group_by)
    agg = state.groupBy(*group_by).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.max(F.when(F.col("_r") == k, F.col("hv"))).alias("_hk"),
    )
    est = F.when(
        F.col("n_samples") < k, F.col("n_samples")
    ).otherwise(F.expr(f"({k} - 1) * {_HASH_SPACE} DIV _hk"))
    out = agg.select(
        *group_by, "n_samples", est.cast("bigint").alias("est_distinct")
    )
    return out.orderBy(*group_by) if group_by else out


def compact_kmv_cube(spark: SparkSession, path: str) -> int:
    """Collapse samples/ to the canonical ≤ k rows per finest group
    through ``compact``, with the meta as the validity marker. Purely
    physical: the distinct-then-cut read law is unchanged. Returns
    live sample rows after compaction."""
    dims, key_col, k = _read_meta(spark, path)
    samples_p, meta_p = _paths(path)
    compact(
        spark, samples_p, "compact_kmv_cube",
        kmv_state(spark, path, dims).drop("_r"), marker=meta_p,
        recommit=lambda: _write_meta(spark, meta_p, dims, key_col, k),
    )
    return spark.read.parquet(samples_p).count()


def kmv_overlap(
    spark: SparkSession,
    path: str,
    dim_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Set-overlap estimate between two groups' key sets FROM THE
    SKETCHES ALONE — the KMV superpower (Beyer et al. 2007): merge
    both samples, cut to the k smallest (the union's sketch); the
    union members found in BOTH sides' samples estimate the Jaccard
    as shared DIV k (here in exact ppm). The exact version of this
    question costs a corpus-sized distinct join per pair of sources;
    the sketch version reads ≤ 2k rows. Coupon-safe: if the union has
    fewer than k samples, every member is observed on the sides that
    contain it, so `shared` and the union count are EXACT (jaccard
    exact too). Returns one row: (n_union_samples, shared,
    jaccard_ppm, est_union, est_intersection)."""
    dims, _, k = _read_meta(spark, path)
    if dim_col not in dims:
        raise ValueError(f"kmv_overlap: {dim_col!r} not in cube dims {dims!r}")
    samples_p, _ = _paths(path)
    raw = (
        spark.read.parquet(samples_p)
        .filter(F.col(dim_col).isin([group_a, group_b]))
        .select(F.col(dim_col).alias("_g"), "hv")
        .distinct()
    )
    w = Window.orderBy("hv")
    union_cut = (
        raw.groupBy("hv")
        .agg(
            F.max(F.when(F.col("_g") == group_a, 1).otherwise(0)).alias("_in_a"),
            F.max(F.when(F.col("_g") == group_b, 1).otherwise(0)).alias("_in_b"),
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
    )
    agg = union_cut.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_union_samples"),
        F.coalesce(F.sum(F.col("_in_a") * F.col("_in_b")), F.lit(0))
        .cast("bigint")
        .alias("shared"),
        F.max(F.when(F.col("_r") == k, F.col("hv"))).alias("_hk"),
    )
    est_union = F.when(
        F.col("n_union_samples") < k, F.col("n_union_samples")
    ).otherwise(F.expr(f"({k} - 1) * {_HASH_SPACE} DIV _hk"))
    # an empty union (neither group in the cube) divides by zero in
    # the share expressions — report an explicit all-zero row instead
    return (
        agg.withColumn("est_union", est_union.cast("bigint"))
        .select(
            "n_union_samples",
            "shared",
            F.expr("CASE WHEN n_union_samples = 0 THEN 0 "
                   "ELSE shared * 1000000 DIV n_union_samples END")
            .cast("bigint")
            .alias("jaccard_ppm"),
            "est_union",
            F.expr("CASE WHEN n_union_samples = 0 THEN 0 "
                   "ELSE est_union * shared DIV n_union_samples END")
            .cast("bigint")
            .alias("est_intersection"),
        )
    )
