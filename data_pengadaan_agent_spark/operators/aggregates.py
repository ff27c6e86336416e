"""Aggregation operators (SURVEY.md §2.4, A1–A8).

All are single-pass groupBy/agg plans: Spark computes partial
aggregates map-side and merges them after a hash shuffle on the group
key — at 100 TB the shuffle carries only (key → partial state), never
raw rows. No UDAFs needed anywhere.

Determinism note for oracle comparison: floating-point SUM/AVG is
order-dependent, so headline money aggregates go through DECIMAL
(exact, associative) and are rounded at the output edge.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def groupby_count(df: DataFrame, key: str, count_col: str | None = None, alias: str = "cnt") -> DataFrame:
    """A1: SELECT key, COUNT(*|col) … GROUP BY key
    (openai/function_definition.py:92,228). COUNT(col) keeps SQL
    null-skipping semantics."""
    agg = F.count(F.col(count_col)) if count_col else F.count(F.lit(1))
    return df.groupBy(key).agg(agg.alias(alias))


def monthly_rollup(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    measure_col: str,
    month_alias: str = "bulan",
    count_alias: str = "jumlah_paket",
    sum_alias: str = "total_pagu",
) -> DataFrame:
    """A2: the canonical line-chart query —
    strftime('%Y-%m') → count(id) + sum(measure)
    (openai/function_definition.py:153-159). date_format preserves the
    reference's *string* month dialect. The money sum goes through
    DECIMAL — the module contract (self-review r12: this operator was
    the one float-sum holdout; float partial-aggregate merge order is
    partitioning-dependent, and the entry file's registered query had
    to hand-bypass it). Unordered: a caller that needs the reference's
    ORDER BY month adds it (its sampling job and range shuffle)."""
    return df.groupBy(F.date_format(F.col(ts_col), "yyyy-MM").alias(month_alias)).agg(
        F.count(F.col(id_col)).alias(count_alias),
        F.sum(F.col(measure_col).cast("decimal(28,2)")).alias(sum_alias),
    )


def value_counts(df: DataFrame, col: str, alias: str = "cnt") -> DataFrame:
    """A3: pandas value_counts() (openai/list_of_tools.py:75,100,107),
    unordered; the reference's sort_index() is the caller's
    ``orderBy(col)``."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias(alias))


def scalar_insights(df: DataFrame, col: str) -> DataFrame:
    """A4: the insights block every chart tool emits — n, min, max,
    mean, sum of one numeric column (openai/list_of_tools.py:98-109).
    One job; partial+final agg is native."""
    c = F.col(col)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
        F.avg(c).alias("mean_v"),
        F.sum(c).alias("sum_v"),
    )


def arg_extreme(df: DataFrame, label_col: str, value_col: str) -> DataFrame:
    """A5: idxmax/idxmin — peak label by measure
    (openai/list_of_tools.py:100-109,381-382). max_by/min_by replaces
    the reference's positional .iloc contract (T4 fix, SURVEY.md §2.6)."""
    return df.agg(
        F.expr(f"max_by({label_col}, {value_col})").alias("argmax"),
        F.expr(f"min_by({label_col}, {value_col})").alias("argmin"),
        F.max(value_col).alias("max_v"),
        F.min(value_col).alias("min_v"),
    )


def histogram_numeric(df: DataFrame, col: str, bins: int = 12) -> DataFrame:
    """A6: equal-width binning with count per bin — plt.hist(bins=12)
    semantics (openai/list_of_tools.py:22,60-68): edges span [min,max],
    the last bin is closed on both sides (x == max falls in bin n-1).

    Two jobs: a scalar min/max pass, then one groupBy — the Spark way
    to bin without a UDF (see ``histogram_bins``).
    """
    lo, hi = df.agg(F.min(col), F.max(col)).first()
    return histogram_bins(df, col, lo, hi, bins).orderBy("bucket")


def histogram_bins(df: DataFrame, col: str, lo, hi, bins: int = 12) -> DataFrame:
    """A6's binning pass, given the column's ``lo``/``hi`` (None for an
    empty or all-NULL column, which yields no bins), unordered. The bin
    expression is pure arithmetic → codegen'd; the shuffle carries ≤
    ``bins`` rows."""
    if lo is None:
        return df.sparkSession.createDataFrame(
            [], T.StructType([
                T.StructField("bucket", T.IntegerType()),
                T.StructField("cnt", T.LongType()),
            ])
        )
    width = (hi - lo) / bins if hi > lo else 1.0
    bucket = F.least(
        F.floor((F.col(col) - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)
    ).cast("int")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_month_of_year(df: DataFrame, ts_col: str, alias: str = "month_no") -> DataFrame:
    """A7: month-of-year histogram — **collapses years** (dt.month,
    openai/list_of_tools.py:47-55), with a 1..12 scaffold so empty
    months appear with count 0. The scaffold is 12 rows → broadcast
    join, free at any scale. Unordered, like ``monthly_rollup``."""
    spark = df.sparkSession
    months = spark.range(1, 13).select(F.col("id").cast("int").alias(alias))
    counts = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.month(F.col(ts_col)).alias(alias))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return months.join(counts, alias, "left").select(
        alias, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )


def distinct_count(df: DataFrame, key: str, col: str, approx: bool = False) -> DataFrame:
    """A8: COUNT(DISTINCT col) per key; approx variant uses HLL++ and
    avoids the exact-distinct expand at scale."""
    agg = (
        F.approx_count_distinct(col) if approx else F.countDistinct(col)
    ).alias("n_distinct")
    return df.groupBy(key).agg(agg).orderBy(key)


def decimal_sum(col: str | Column, precision: int = 28, scale: int = 2) -> Column:
    """Order-independent exact SUM for money columns: cast to DECIMAL
    before aggregating so parallel execution is bit-deterministic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(T.DecimalType(precision, scale)))


def groupby_sum_count(
    df: DataFrame,
    key: str,
    measure_col: str,
    id_col: str,
    count_alias: str = "jumlah_paket",
    sum_alias: str = "total_pagu",
) -> DataFrame:
    """A1+A4 category variant of the A2 rollup: per-category package
    count + budget sum — the reference's pie/bar stage-2 query shape
    (openai/function_definition.py:224-235). COUNT(id) keeps the
    reference's NULL-skipping semantics."""
    return df.groupBy(key).agg(
        F.count(F.col(id_col)).alias(count_alias),
        F.sum(F.col(measure_col)).alias(sum_alias),
    )


def mad_pandas_udaf(
    df: DataFrame, group_col: str, value_col: str, alias: str = "mad"
) -> DataFrame:
    """Median absolute deviation per group via a grouped-agg Pandas
    UDAF — the Arrow aggregation path used the way it should be: Spark
    has NO built-in MAD (nested medians are not expressible as one SQL
    aggregate), the kernel genuinely needs the group's value vector,
    and it arrives as one Arrow batch per group, not per-row Python.
    Robust-statistics gate for corpus quality scores at 100 TB: state
    per group is the group's values (like any exact median), so use on
    bounded groups or swap the kernel for an approximate P² variant.
    """
    # Series -> scalar hints select the grouped-agg eval type (the
    # PandasUDFType enum is deprecated/removal-tracked in Spark 4).
    # `from __future__ import annotations` stringifies the hints;
    # pandas_udf resolves them against this function's __globals__,
    # which is why pandas must be a MODULE-level import here.
    @F.pandas_udf("double")
    def _mad(v: pd.Series) -> float:
        return float((v - v.median()).abs().median())

    return df.groupBy(group_col).agg(_mad(F.col(value_col)).alias(alias))


def mode_per_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Most frequent value of ``value_col`` per group, deterministic
    tie-break (higher count, then lexicographically smaller value) —
    the categorical sibling of A5's argmax (value_counts answers "how
    many of each", mode answers "which one dominates").

    Shape: partial-aggregated count on (group, value) — the shuffle
    carries distinct pairs, not rows — then a row_number window over
    the (small) count frame. ``F.mode`` exists but exposes no
    tie-break contract; this formulation pins one, so results are
    value-checkable across engines.
    """
    from pyspark.sql import Window

    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mode")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("n_mode").desc(), F.col(value_col)
    )
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(group_col, F.col(value_col).alias("mode_value"), "n_mode")
    )


def group_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group least-squares trend (slope) and fit quality (r²) in
    EXACT integer arithmetic — the "is this category's spend rising"
    analytics primitive, computed the only way that is deterministic
    under parallel summation: both columns must be INTEGER-VALUED
    (cast money through cents, dates through epoch days — the
    reference's money columns are exact 2-dec, so cents are exact);
    all five sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) fold as
    DECIMAL(38,0), one partial-aggregated exchange, order-free.

    slope_ppm = 10⁶·(nΣxy − ΣxΣy) DIV (nΣx² − (Σx)²) — slope in
    millionths of a y-unit per x-unit, a SINGLE exact integer
    division. r2_ppm uses the STAGED rule
    ((10⁶·num DIV denx)·num) DIV deny — not the mathematical single
    division (whose numerator num² can exceed 38 digits), but an
    exactly-specified integer recipe both engines evaluate
    identically; staging keeps every intermediate within DECIMAL(38)
    for n·x·y products up to ~10³¹ (documented bound — epoch-day ×
    cent units hold it to ~10¹² rows per group). Integral division on
    negatives truncates toward zero on BOTH Spark (DIV) and DuckDB
    (//) — the sweep pins the negative-slope case. Degenerate groups
    (constant x, constant y, or n < 2) emit NULL slope/r2 rather than
    dividing by zero. Returns (group, n, slope_ppm, r2_ppm)."""
    d = "decimal(18,0)"
    x = F.col(x_col).cast(d)
    y = F.col(y_col).cast(d)
    agg = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
            F.sum(x).cast("decimal(38,0)").alias("_sx"),
            F.sum(y).cast("decimal(38,0)").alias("_sy"),
            F.sum(x * y).cast("decimal(38,0)").alias("_sxy"),
            F.sum(x * x).cast("decimal(38,0)").alias("_sxx"),
            F.sum(y * y).cast("decimal(38,0)").alias("_syy"),
        )
    )
    # dec_idiv_sql, not a bare DIV (self-review r14): Spark's DIV on
    # decimal operands wraps past-int64 quotients silently through
    # LongType, and a near-constant-x group can push 1e6*cov/var past
    # int64 — the twin's HUGEINT // would then diverge without a
    # single loud error. dec_idiv truncates toward zero for all sign
    # combinations, exactly like DIV/`//` (negative-slope case pinned).
    from data_pengadaan_agent_spark.functions.exactmath import dec_idiv_sql

    _num = "CAST(1000000 AS DECIMAL(38,0)) * (_n * _sxy - _sx * _sy)"
    _stage1 = dec_idiv_sql(_num, "_n * _sxx - _sx * _sx")
    slope = F.expr(
        "CASE WHEN (_n * _sxx - _sx * _sx) = 0 THEN NULL ELSE "
        f"{_stage1} END"
    )
    r2 = F.expr(
        "CASE WHEN (_n * _sxx - _sx * _sx) = 0 "
        "OR (_n * _syy - _sy * _sy) = 0 THEN NULL ELSE "
        + dec_idiv_sql(
            f"({_stage1}) * (_n * _sxy - _sx * _sy)",
            "_n * _syy - _sy * _sy",
        )
        + " END"
    )
    return agg.select(
        F.col(group_col),
        F.col("_n").cast("bigint").alias("n"),
        slope.cast("bigint").alias("slope_ppm"),
        r2.cast("bigint").alias("r2_ppm"),
    ).orderBy(group_col)
