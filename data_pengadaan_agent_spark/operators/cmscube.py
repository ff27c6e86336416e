"""Count-Min frequency cube — the third mergeable sketch, completing
the trilogy: HLL cube (COUNT DISTINCT, sketchcube.py), histogram cube
(quantiles, histcube.py), Count-Min cube (point frequencies, here).

``value_counts`` / ``heavy_hitters`` answer "how often" by a full
GROUP BY over the key domain. The standing 100 TB question is
composable point lookups over an UNBOUNDED domain: "how often did
THIS token / url / key appear, per group, re-asked daily, rolled up
weekly, appended forever" — a full counts table over 10^9 tokens is
itself big data, while the CMS is d·w counters per group, period.
Count-Min (Cormode–Muthukrishnan 2005): d independent hash rows of w
counters; increment d slots per arrival; estimate = min over rows —
ALWAYS an upper bound on the true count (counters only ever gain),
within ε·N (ε = e/w) with probability 1−δ (δ = e^−d).

Why this is oracle-certifiable when HLL is not: the sketch state is
plain BIGINT counters under the repo's ARITHMETIC hash class — token
→ 31-bit polynomial hash (dedup.poly_hash_col) → per-row universal
hash (a_j·x + b_j) mod P31 mod w with LCG-derived (a_j, b_j)
(dedup._lcg_coeffs, the minhash construction) — so a DuckDB twin
recomputes every counter exactly, no probes needed (pure-integer
structural class).

Cube discipline (= histcube, counts ADD):
- ``build_cms_cube``: one (dims, row, col) count shuffle + meta
  commit marker LAST; geometry (d, w, seed, key_col) frozen in meta.
- ``append_cms_cube``: registry-gated (batch id commits FIRST;
  replays are no-ops; addition is not replay-idempotent).
- ``cms_rollup``: counters at any coarser granularity = integer sums
  of cube rows — merging sketches IS adding counters.
- ``cms_estimate``: point lookups for a literal key list; the d slots
  per key are computed DRIVER-side, so the cube scan carries literal
  (row, col) filters — a point query reads d·|keys| counter rows,
  never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_pengadaan_agent_spark.operators.dedup import P31, _lcg_coeffs, poly_hash_col
from data_pengadaan_agent_spark.sources.catalog import (
    append_counts,
    build_counts,
    cube_paths as _paths,
    local_df,
    read_meta,
)


def _read_meta(spark: SparkSession, path: str):
    r = read_meta(spark, _paths(path)[2], "cms cube")
    return list(r["dims"]), str(r["key_col"]), int(r["d"]), int(r["w"]), int(r["seed"])


def py_slots(key: str, d: int, w: int, seed: int) -> list[tuple[int, int]]:
    """Driver-side replica of the frozen slot law: the d (row, col)
    slots of one key. Mirrors the column expressions in _cube_rows
    exactly (same poly hash, same LCG coefficients)."""
    x = 0
    for ch in key:  # empty string folds to 0, matching ascii('') = 0
        x = (x * 131 + ord(ch)) % P31
    coeffs = _lcg_coeffs(d, seed)
    return [(j, ((a * x + b) % P31) % w) for j, (a, b) in enumerate(coeffs)]


def _slot_cols(key_hash, d: int, w: int, seed: int):
    """array<int> of the d column slots for a 31-bit key hash. The
    universal multiply a·x stays < 2^62 (a, x < P31 = 2^31−1)."""
    coeffs = _lcg_coeffs(d, seed)
    return F.array(
        *[
            F.pmod(F.pmod(F.lit(a) * key_hash + F.lit(b), F.lit(P31)), F.lit(int(w)))
            .cast("int")
            for a, b in coeffs
        ]
    )


def _cube_rows(
    df: DataFrame, dims: list[str], key_col: str, d: int, w: int, seed: int
) -> DataFrame:
    slots = _slot_cols(poly_hash_col(F.col(key_col)), d, w, seed)
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(*dims, F.posexplode(slots).alias("row", "col"))
        .groupBy(*dims, "row", "col")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def build_cms_cube(
    df: DataFrame,
    path: str,
    dims: list[str],
    key_col: str,
    d: int = 4,
    w: int = 1024,
    seed: int = 424242,
) -> None:
    """Ingest: one (dims, row, col) count shuffle through
    ``catalog.build_counts`` (meta last). Geometry is frozen for the
    cube's life — ε = e/w and δ = e^−d are design-time choices; appends
    under different geometry would corrupt every estimate."""
    if not dims:
        raise ValueError("build_cms_cube: need at least one dim")
    if d < 1 or w < 2:
        raise ValueError("build_cms_cube: need d >= 1, w >= 2")
    build_counts(
        _cube_rows(df, dims, key_col, d, w, seed), path,
        "dims array<string>, key_col string, d int, w int, seed int",
        (list(dims), str(key_col), int(d), int(w), int(seed)),
    )


def append_cms_cube(shard: DataFrame, path: str, batch_id: str) -> int:
    """Incremental ingest under the FROZEN geometry, registry-gated on
    ``batch_id`` like ``append_hist_cube`` (``catalog.append_counts``).
    Returns cube rows appended."""
    dims, key_col, d, w, seed = _read_meta(shard.sparkSession, path)
    return append_counts(
        _cube_rows(shard, dims, key_col, d, w, seed), path, batch_id, "append_cms_cube"
    )


def cms_rollup(
    spark: SparkSession, path: str, group_by: list[str] | None = None
) -> DataFrame:
    """Counters at any coarser granularity: integer sums of cube rows
    — CMS merge IS counter addition, so the rollup of per-group
    sketches equals the sketch of the union (pinned in tests)."""
    dims, _, _, _, _ = _read_meta(spark, path)
    group_by = list(group_by or [])
    bad = [g for g in group_by if g not in dims]
    if bad:
        raise ValueError(f"cms_rollup: {bad!r} not in cube dims {dims!r}")
    return (
        spark.read.parquet(_paths(path)[0])
        .groupBy(*group_by, "row", "col")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def cms_estimate(
    spark: SparkSession,
    path: str,
    keys: list[str],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Point-frequency estimates for a literal key list, per group:
    est = min over the d rows of the key's counter (0 when a slot has
    no cube row — nothing ever hashed there). The d·|keys| slots are
    computed driver-side under the frozen law, so the counter scan is
    filtered by literal (row, col) pairs. Estimates are UPPER bounds:
    est >= true count, always. Returns (group_by..., key, est)."""
    dims, _, d, w, seed = _read_meta(spark, path)
    if not keys:
        raise ValueError("cms_estimate: empty key list")
    group_by = list(group_by or [])
    slot_rows = [
        (str(key), int(row), int(col))
        for key in keys
        for row, col in py_slots(str(key), d, w, seed)
    ]

    wanted = local_df(spark, slot_rows, "key string, row int, col int")
    # ONE materialization of the rollup: the distinct-group list and
    # the join right side otherwise each re-scan + re-aggregate the
    # whole cube (self-review r12)
    counters = cms_rollup(spark, path, group_by).localCheckpoint(eager=True)
    full = (
        counters.select(*group_by).distinct().crossJoin(wanted)
        if group_by
        else wanted
    )
    # null-safe group equality (self-review r12): _cube_rows keeps
    # NULL-dim groups and their counters are real — a plain equi-join
    # never matches NULL = NULL, which silently returned est = 0 for
    # those groups and broke the 'est >= true count, always' bound.
    cond = (F.col("l.row") == F.col("r.row")) & (F.col("l.col") == F.col("r.col"))
    for g in group_by:
        cond = cond & F.col(f"l.{g}").eqNullSafe(F.col(f"r.{g}"))
    joined = (
        full.alias("l")
        .join(counters.alias("r"), cond, "left")
        .select(
            *[F.col(f"l.{g}").alias(g) for g in group_by],
            F.col("l.key").alias("key"),
            F.coalesce(F.col("r.cnt"), F.lit(0)).cast("bigint").alias("cnt"),
        )
    )
    return (
        joined.groupBy(*group_by, "key")
        .agg(F.min("cnt").cast("bigint").alias("est"))
        .orderBy(*group_by, "key")
    )
