"""Scalar quantization (SQ8) — the codegen-only compression tier.

Between raw float vectors (exact, 4 B/dim) and product quantization
(operators/pq, sub-byte/dim but Arrow-kernel encode) sits the tier
most production ANN systems default to: per-dimension linear
quantization to one small int (uint8 semantics — ``levels`` = 255).
A 64-dim float32 vector is 256 B; its SQ8 code is 64 small ints — 4×
on the wire before parquet bit-packing, with far less reconstruction
error than PQ at the same scan cost, because every dimension keeps
its own value instead of sharing a codeword.

What makes SQ the odd one out in this repo's ANN stack — and the
reason it earns its own module rather than a PQ parameterization —
is the execution shape: EVERY stage is a pure Spark column
expression, no mapInPandas anywhere.

- ``train_sq``: per-dimension min/max as ONE aggregate of 2·dim
  expressions over the array column (``F.min(col[i])`` — codegen,
  no posexplode blow-up, no Arrow partials); returns the
  parameter-sized (mins, scales) quantizer.
- ``sq_encode``: ``zip_with`` the vector against the mins/scales
  literal arrays — code_i = clamp(floor((x_i − mn_i)·sc_i + 0.5)).
  Whole-stage codegen; the same expression is spelled identically in
  the DuckDB twin, and because it is ONE subtraction and ONE multiply
  on bit-identical doubles, cross-engine equality is STRUCTURAL (both
  engines execute the same two IEEE ops), not measured — the property
  ADVICE r10 asked the PQ LUT to aspire to. The floor(+0.5) HALF_UP
  rule is spelled explicitly (np.round is HALF_EVEN; never use it).
- ``sq_topk``: symmetric integer L2 — score = Σ(c_i − q_i)² with the
  query encoded under the same quantizer — as one
  ``aggregate(zip_with(...))`` fold, then TakeOrderedAndProject.
  Exact BIGINT scores (max per-dim diff² = 255² = 65 025; 64 dims →
  ≤ 4.2 M, headroom to ~1.4e14 dims in int64), ties to the lowest id.
  Symmetric SQ trades a little accuracy vs asymmetric (the query is
  quantized too) for staying entirely inside the JVM: at 100 TB the
  scan is whole-stage-codegen over bit-packed ints, no Python worker,
  no LUT closure. The asymmetric/ADC variant at this code budget is
  exactly ``pq_adc_topk`` with m = dim — already in the stack.
- ``sq_quant_report``: per-dimension reconstruction-error monitor
  (the retrain signal when daily shards drift outside the trained
  min/max — clamping saturates silently otherwise), again one
  codegen aggregate: exact integer micro-unit sums.

Composition: SQ codes partition exactly like raw vectors, so the IVF
list layout (``build_ivf_table``) with an ``sq_encode`` projection
gives IVF-SQ the way ``build_ivfpq_table`` gives IVF-PQ; nothing new
is needed at the table layer.
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


def train_sq(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, scale) quantizer from ONE codegen aggregate
    (2·dim agg expressions — driver receives one row). scale_i =
    levels/(max_i − min_i), or 0.0 for a constant dimension (every
    value then encodes to 0 — exactly recoverable, nothing lost).
    min/max are EXACT order-free aggregates, so the quantizer is
    deterministic under any partitioning."""
    if dim < 1 or levels < 1:
        raise ValueError("train_sq: dim and levels must be >= 1")
    row = df.agg(
        *[F.min(F.col(vec_col)[i].cast("double")).alias(f"mn{i}") for i in range(dim)],
        *[F.max(F.col(vec_col)[i].cast("double")).alias(f"mx{i}") for i in range(dim)],
    ).collect()[0]
    mins, scales = [], []
    for i in range(dim):
        mn, mx = row[f"mn{i}"], row[f"mx{i}"]
        if mn is None or mx is None:
            raise ValueError(f"train_sq: dimension {i} has no values")
        mn, mx = float(mn), float(mx)
        mins.append(mn)
        scales.append(0.0 if mx == mn else float(levels) / (mx - mn))
    return mins, scales


def sq_code_col(
    vec_col: str,
    mins: Sequence[float],
    scales: Sequence[float],
    levels: int = 255,
):
    """codes = clamp(floor((x − mn)·sc + 0.5), 0, levels) as a pure
    column expression — two zip_with passes against literal arrays,
    all inside whole-stage codegen. Explicit HALF_UP floor rule,
    spelled identically in the DuckDB twin."""
    mins_lit = F.array(*[F.lit(float(m)) for m in mins])
    scales_lit = F.array(*[F.lit(float(s)) for s in scales])
    shifted = F.zip_with(
        F.col(vec_col), mins_lit, lambda x, mn: x.cast("double") - mn
    )
    return F.zip_with(
        shifted,
        scales_lit,
        lambda d, sc: F.least(
            F.lit(int(levels)),
            F.greatest(F.lit(0), F.floor(d * sc + F.lit(0.5)).cast("int")),
        ),
    )


def sq_encode(
    df: DataFrame,
    mins: Sequence[float],
    scales: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> DataFrame:
    """(id, codes array<int>) — one codegen select, no shuffle, no
    Python worker. Values outside the trained range clamp (saturate);
    ``sq_quant_report`` is the monitor that says when that starts
    happening at scale."""
    if len(mins) != len(scales):
        raise ValueError("sq_encode: mins and scales must have equal length")
    return df.select(
        F.col(id_col),
        sq_code_col(vec_col, mins, scales, levels).alias("codes"),
    )


def encode_query(
    query: Sequence[float],
    mins: Sequence[float],
    scales: Sequence[float],
    levels: int = 255,
) -> list[int]:
    """Driver-side query quantization — the SAME (x − mn)·sc + 0.5
    floor expression in Python doubles (identical IEEE ops, identical
    result; the structural-equality argument covers it too)."""
    if len(query) != len(mins):
        raise ValueError(
            f"encode_query: query dim {len(query)} != quantizer dim {len(mins)}"
        )
    out = []
    for x, mn, sc in zip(query, mins, scales):
        c = int(math.floor((float(x) - mn) * sc + 0.5))
        out.append(max(0, min(int(levels), c)))
    return out


def sq_topk(
    codes_df: DataFrame,
    query_codes: Sequence[int],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric SQ retrieval: score = Σ(c_i − q_i)² as one
    aggregate(zip_with) fold over the codes against the literal query
    codes — exact BIGINT, pure codegen, no join, no shuffle — then a
    distributed TakeOrderedAndProject. Ties rank by id ascending (the
    pq_adc_topk convention)."""
    qlit = F.array(*[F.lit(int(c)).cast("bigint") for c in query_codes])
    score = F.aggregate(
        F.zip_with(
            F.col("codes"),
            qlit,
            lambda a, b: (a.cast("bigint") - b) * (a.cast("bigint") - b),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window

    top = (
        codes_df.select(F.col(id_col), score.alias("sq_score"))
        .orderBy(F.asc("sq_score"), F.asc(id_col))
        .limit(int(k))
    )
    w = Window.orderBy(F.asc("sq_score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", id_col, "sq_score"
    )


def _sq_sidecars(path: str) -> tuple[str, str]:
    p = path.rstrip("/")
    return f"{p}_ids", f"{p}_quant"


def save_sq_quantizer(
    spark,
    path: str,
    mins: Sequence[float],
    scales: Sequence[float],
    levels: int = 255,
) -> None:
    """Persist the frozen quantizer beside the codes (dim rows —
    parameter-sized). Written LAST by the build — the commit marker:
    codes without a quantizer are a loudly-invalid index (the
    lexindex/ivfpq meta discipline)."""
    _, quant_p = _sq_sidecars(path)
    local_df(
        spark,
        [
            (int(i), float(mn), float(sc), int(levels))
            for i, (mn, sc) in enumerate(zip(mins, scales))
        ],
        "dim int, mn double, sc double, levels int",
    ).write.mode("overwrite").parquet(quant_p)


def load_sq_quantizer(
    spark, path: str
) -> tuple[list[float], list[float], int]:
    """Read back the frozen quantizer; raises if the build never
    committed."""
    _, quant_p = _sq_sidecars(path)
    try:
        rows = spark.read.parquet(quant_p).collect()
    except Exception as exc:  # noqa: BLE001 - absent = invalid index
        raise ValueError(
            f"sq index at {path!r} has no readable quantizer — the build "
            "crashed before commit; rebuild with build_sq_table"
        ) from exc
    rows = sorted(rows, key=lambda r: r["dim"])
    if not rows:
        raise ValueError(f"sq index quantizer at {path!r} is empty")
    return (
        [float(r["mn"]) for r in rows],
        [float(r["sc"]) for r in rows],
        int(rows[0]["levels"]),
    )


def build_sq_table(
    df: DataFrame,
    path: str,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> tuple[list[float], list[float]]:
    """Build the persisted SQ index: train the quantizer, encode, and
    write (codes, ids registry, quantizer sidecar) — the sidecar LAST
    as the commit marker. Dedup ONCE up front so training, codes, and
    the registry all see the same frame (the build_ivfpq_table
    contract). Returns (mins, scales) for the query side."""
    spark = df.sparkSession
    ids_p, quant_p = _sq_sidecars(path)
    begin_build(spark, quant_p, path, ids_p)
    df = df.dropDuplicates([id_col])
    mins, scales = train_sq(df, dim, vec_col, id_col, levels)
    sq_encode(df, mins, scales, vec_col, id_col, levels).write.mode(
        "overwrite"
    ).parquet(path)
    df.select(id_col).write.mode("overwrite").parquet(ids_p)
    save_sq_quantizer(spark, path, mins, scales, levels)
    return mins, scales


@logged
def append_sq_table(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incremental SQ maintenance: encode a NEW batch with the FROZEN
    quantizer (daily shards never retrain — drift is
    ``sq_quantization_report``'s job; out-of-range values CLAMP, which
    the report's clamp counter surfaces) and append, ids first, codes
    second (README "Index lifecycle"). Returns vectors appended."""
    mins, scales, levels = load_sq_quantizer(df.sparkSession, path)
    ids_p, _ = _sq_sidecars(path)
    fresh, n_new = new_rows(df, ids_p, id_col)
    if n_new:
        fresh.select(id_col).write.mode("append").parquet(ids_p)
        sq_encode(fresh, mins, scales, vec_col, id_col, levels).write.mode(
            "append"
        ).parquet(path)
    return n_new


def audit_sq_table(spark, path: str, id_col: str = "vec_id") -> DataFrame:
    """Registry ids without codes (``missing_codes``) and orphan codes
    (``orphan_codes``); empty = consistent."""
    load_sq_quantizer(spark, path)  # validates the build committed
    return audit_registry(spark, _sq_sidecars(path)[0], path, id_col, "codes")


@logged
def repair_sq_table(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Heal every ``missing_codes`` id: re-encode exactly the flagged
    vectors of ``df`` with the FROZEN quantizer and append their codes.
    Returns vectors re-encoded."""
    spark = df.sparkSession
    mins, scales, levels = load_sq_quantizer(spark, path)
    flagged = audit_sq_table(spark, path, id_col).filter(
        F.col("state") == "missing_codes"
    )
    todo, n_todo = flagged_rows(df, flagged.select(id_col), id_col, "repair_sq_table")
    if n_todo:
        sq_encode(todo, mins, scales, vec_col, id_col, levels).write.mode(
            "append"
        ).parquet(path)
    return n_todo


def compact_sq_table(spark, path: str, id_col: str = "vec_id") -> int:
    """Rewrite the codes to one file, bit-identical rows,
    with the quantizer as the validity marker. Refuses a dirty audit
    (it would bake probe-invisible ids in as lost). Returns files
    removed."""
    mins, scales, levels = load_sq_quantizer(spark, path)
    dirty = audit_sq_table(spark, path, id_col).count()
    if dirty:
        raise ValueError(
            f"compact_sq_table: {dirty} inconsistent id(s) in the index — "
            "run repair_sq_table before compacting"
        )
    return compact(
        spark, path, "compact_sq_table", key=id_col,
        marker=_sq_sidecars(path)[1],
        recommit=lambda: save_sq_quantizer(spark, path, mins, scales, levels),
    )


def sq_quantization_report(
    df: DataFrame,
    mins: Sequence[float],
    scales: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
    err_dp: int = 6,
) -> DataFrame:
    """Quantizer-staleness monitor (the SQ analog of
    ``pq_quantization_report`` / ``ivf_drift_report``): per vector the
    exact integer micro-unit reconstruction error
    Σ(x_i − decode(code_i))² and a clamp counter (values outside the
    trained min/max saturate — rising clamps = the retrain signal),
    collapsed to ONE summary row. decode(c) = mn + c/sc (sc=0 dims
    decode to mn — zero error for the constant dimension). All codegen:
    the per-vector fold emits (err_micro, n_clamped), the aggregate
    sums exactly."""
    mins_lit = F.array(*[F.lit(float(m)) for m in mins])
    scales_lit = F.array(*[F.lit(float(s)) for s in scales])
    codes = sq_code_col(vec_col, mins, scales, levels)
    # decoded_i = mn_i + c_i / sc_i  (sc 0 → mn)
    decoded = F.zip_with(
        F.zip_with(
            codes,
            scales_lit,
            lambda c, sc: F.when(sc == 0.0, F.lit(0.0)).otherwise(
                c.cast("double") / sc
            ),
        ),
        mins_lit,
        lambda d, mn: d + mn,
    )
    err = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            decoded,
            lambda x, dxv: (x.cast("double") - dxv) * (x.cast("double") - dxv),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    err_micro = F.floor(err * F.lit(float(10 ** err_dp)) + F.lit(0.5)).cast(
        "bigint"
    )
    # a clamp happened iff the UNCLAMPED value falls outside [0, levels]
    raw = F.zip_with(
        F.zip_with(
            F.col(vec_col), mins_lit, lambda x, mn: x.cast("double") - mn
        ),
        scales_lit,
        lambda d, sc: F.floor(d * sc + F.lit(0.5)),
    )
    n_clamped = F.aggregate(
        raw,
        F.lit(0).cast("bigint"),
        lambda acc, c: acc
        + F.when((c < 0) | (c > F.lit(int(levels))), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    per_vec = df.select(
        F.col(id_col),
        err_micro.alias("err_micro"),
        n_clamped.alias("n_clamped"),
    )
    return per_vec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("err_micro").cast("bigint").alias("err_micro_sum"),
        F.max("err_micro").cast("bigint").alias("err_micro_max"),
        F.sum("n_clamped").cast("bigint").alias("n_clamped"),
    ).select(
        "n_vecs",
        "err_micro_sum",
        (
            F.col("err_micro_sum").cast("double") / F.col("n_vecs").cast("double")
        ).alias("mean_err_micro"),
        "err_micro_max",
        "n_clamped",
    )
