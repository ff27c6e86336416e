"""Chart-data pipelines (SURVEY.md §2.11, C1–C4).

Each reference chart tool = scan intermediary → validate columns →
transform → render PNG → scalar insights (openai/list_of_tools.py:
14-112,204-449; langchain/my_toolkit.py:183-410). The *engine* part is
the transform + insights; rendering is presentation. Every function
here returns ``(rows: list[Row], insights: dict)``: the small plot
frame a renderer would draw, already on the driver, and the insights
the reference's tools embed in their replies. Both come from ONE Spark
action — one aggregate carries the plot rows as a
``collect_list(struct(...))`` beside the scalar insights — except the
numeric histogram, whose bin edges need a min/max pass first (that
pass also yields its insights).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pengadaan_agent_spark.operators import aggregates as A


class ChartColumnError(ValueError):
    """Mirrors the reference's column-existence validation
    (openai/list_of_tools.py:38-40,232-236)."""


def _require(df: DataFrame, *cols: str) -> None:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ChartColumnError(f"columns not in result: {missing}; have {df.columns}")


def _rows_and(data: DataFrame, cols: list[str], *insights: Column, keyed: bool = False) -> DataFrame:
    """One aggregate over ``data``: ``_rows`` = ``data.select(*cols)``
    as an array of structs beside the scalar ``insights``.

    A global collect_list gathers partitions in no fixed order, so the
    order is restored with ``sort_array``. ``keyed``: ``cols[0]`` is a
    unique key (a group-by's output) and the rows come back in its
    ascending order, NULL first — ORDER BY's order, without the sort's
    sampling job and range shuffle. Otherwise the rows keep ``data``'s
    own order, including a caller's ORDER BY: each carries its
    monotonically_increasing_id (partition index in the high bits,
    position in the low bits) as a sort tag that is dropped again."""
    if keyed:
        rows = F.sort_array(F.collect_list(F.struct(*cols)))
        return data.agg(rows.alias("_rows"), *insights)
    tag = "_row"
    while tag in data.columns:  # collision-proof vs caller frames
        tag += "_"
    tagged = data.withColumn(
        tag,
        F.struct(F.monotonically_increasing_id().alias("i"), F.struct(*cols).alias("r")),
    )
    rows = F.transform(F.sort_array(F.collect_list(tag)), lambda s: s["r"])
    return tagged.agg(rows.alias("_rows"), *insights)


def _peak(key: str, value: str) -> Column:
    """``max_by(key, value)`` as taken over rows in ascending ``key``
    order, where Spark's max_by keeps the later row of a tie, so the
    greatest tied key wins. Ordering by ``(value, key)`` gives that
    answer whatever order the rows reach the aggregate in, so a keyed
    ``_rows_and`` needs no sort; a NULL value is skipped as before."""
    k, v = F.col(f"`{key}`"), F.col(f"`{value}`")
    return F.max_by(k, F.when(v.isNotNull(), F.struct(v, k)))


def _first(agg: DataFrame) -> tuple[list[Row], dict]:
    out = agg.first().asDict()
    return out.pop("_rows"), out


def bar_chart_data(df: DataFrame, x: str, y: str) -> tuple[list[Row], dict]:
    """C1: categorical x vs numeric y + count/max/min/mean/sum insights
    (openai/list_of_tools.py:204-269)."""
    _require(df, x, y)
    return _first(
        _rows_and(
            df,
            [x, y],
            F.count(F.lit(1)).alias("n"),
            F.max(y).alias("max_v"),
            F.min(y).alias("min_v"),
            F.avg(y).alias("mean_v"),
            F.sum(y).alias("sum_v"),
            # backtick-quoted: stage-2 columns can be named `count(1)` or
            # carry spaces — raw interpolation re-parsed them as SQL
            # (self-review r12)
            F.expr(f"max_by(`{x}`, `{y}`)").alias("top_category"),
            F.expr(f"min_by(`{x}`, `{y}`)").alias("bottom_category"),
        )
    )


def line_chart_data(
    df: DataFrame, ts_col: str, id_col: str, measure_col: str
) -> tuple[list[Row], dict]:
    """C2: dual-axis monthly series (A2) + period insights
    (openai/list_of_tools.py:272-385); rows ordered by month."""
    _require(df, ts_col, id_col, measure_col)
    data = A.monthly_rollup(df, ts_col, id_col, measure_col)
    return _first(
        _rows_and(
            data,
            data.columns,
            F.min("bulan").alias("first_month"),
            F.max("bulan").alias("last_month"),
            F.sum("jumlah_paket").alias("total_count"),
            F.sum("total_pagu").alias("total_value"),
            F.avg("total_pagu").alias("avg_monthly_value"),
            _peak("bulan", "total_pagu").alias("peak_value_month"),
            _peak("bulan", "jumlah_paket").alias("peak_count_month"),
            keyed=True,
        )
    )


def pie_chart_data(df: DataFrame, label: str, value: str) -> tuple[list[Row], dict]:
    """C3: label/value shares + largest/smallest contributor
    (openai/list_of_tools.py:388-449). Share = value / sum(value), the
    total taken from the same aggregate that gathers the rows — not
    sum() OVER () with no partition keys (self-review r12), which moved
    every input row to one partition before the rows were gathered."""
    _require(df, label, value)
    agg = _rows_and(
        df,
        [label, value],
        F.sum(value).alias("total"),
        F.expr(f"max_by(`{label}`, `{value}`)").alias("largest"),
        F.expr(f"min_by(`{label}`, `{value}`)").alias("smallest"),
    )
    share = F.transform(
        "_rows",
        lambda r: F.struct(
            r[label].alias(label),
            r[value].alias(value),
            (r[value] / F.col("total")).alias("share"),
        ),
    )
    return _first(agg.select(share.alias("_rows"), "total", "largest", "smallest"))


def _counts(data: DataFrame, key: str, peak: str) -> tuple[list[Row], dict]:
    """Rows of an unordered (key, cnt) frame in key order + its peak
    key and total count."""
    return _first(
        _rows_and(
            data,
            data.columns,
            _peak(key, "cnt").alias(peak),
            F.sum("cnt").alias("n"),
            keyed=True,
        )
    )


def histogram_data(df: DataFrame, col: str, bins: int = 12) -> tuple[list[Row], dict]:
    """C4: dtype-dispatched histogram mirroring
    openai/list_of_tools.py:42-58 —
    numeric → equal-width bins (A6); timestamp (or parsable string) →
    month-of-year, years collapsed (A7); else categorical freq (A3)."""
    _require(df, col)
    dtype = df.schema[col].dataType
    if isinstance(dtype, T.NumericType):
        row = df.agg(
            F.count(col).alias("n"),
            F.min(col).alias("min_v"),
            F.max(col).alias("max_v"),
            F.avg(col).alias("mean_v"),
        ).first()
        data = A.histogram_bins(df, col, row["min_v"], row["max_v"], bins)
        # ≤ bins rows with non-NULL int buckets: ordered here, not by a sort
        return sorted(data.collect(), key=lambda r: r["bucket"]), row.asDict()
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return _counts(A.histogram_month_of_year(df, col), "month_no", "peak_month")
    if isinstance(dtype, T.StringType):
        return _string_histogram(df, col)
    return _counts(A.value_counts(df, col), col, "mode")


def _string_histogram(df: DataFrame, col: str) -> tuple[list[Row], dict]:
    """A string column is a datetime column only if EVERY non-NULL
    value parses, like the pandas reference (to_datetime raises on the
    first bad value → categorical fallback), so one parsing value
    never moves the chart to months and drops every other row. The
    verdict, the month-of-year rows and the categorical rows all come
    from one aggregate over the grouped value counts; only the rows of
    the branch taken reach the driver."""
    counts = A.value_counts(df, col)
    month = F.month(F.try_to_timestamp(F.col(col)))  # NULL, not an ANSI error
    n_set = F.sum(F.when(F.col(col).isNotNull(), F.col("cnt")))
    is_dates = (n_set > 0) & (F.sum(F.when(month.isNotNull(), F.col("cnt"))) == n_set)
    months = F.array(*[
        F.struct(F.lit(m).alias("month_no"), F.sum(F.when(month == m, F.col("cnt")).otherwise(0)).alias("cnt"))
        for m in range(1, 13)
    ])
    agg = _rows_and(
        counts, counts.columns, _peak(col, "cnt").alias("mode"), F.sum("cnt").alias("n"),
        is_dates.alias("_dates"), months.alias("_months"), keyed=True,
    )
    out = agg.select(
        F.when(F.col("_dates"), F.lit(None)).otherwise(F.col("_rows")).alias("_rows"),
        "mode", "n", "_dates", F.when(F.col("_dates"), F.col("_months")).alias("_months"),
    ).first()
    if out["_dates"]:
        rows = out["_months"]
        peak = max(rows, key=lambda r: (r["cnt"], r["month_no"]))["month_no"]
        return rows, {"peak_month": peak, "n": sum(r["cnt"] for r in rows)}
    return out["_rows"], {"mode": out["mode"], "n": out["n"]}


def render_png(rows: list[Row], kind: str, path: str, x: str, y: str | None = None, title: str = "") -> str:
    """S5 driver-side adapter: the rows a chart function returned →
    matplotlib PNG. Import-gated; the engine never requires matplotlib."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("matplotlib not available in this environment") from e
    if kind not in ("bar", "line", "pie", "hist"):
        raise ValueError(f"render_png: unknown kind {kind!r}")
    if y is None:
        # every supported kind plots a y series; a silent KeyError
        # (or a blank 'success' PNG for a typo'd kind) helped nobody
        # (self-review r12)
        raise ValueError("render_png: y column is required")
    xs, ys = [str(r[x]) for r in rows], [r[y] for r in rows]
    fig, ax = plt.subplots(figsize=(10, 6))
    if kind == "bar":
        ax.bar(xs, ys)
    elif kind == "line":
        ax.plot(xs, ys, marker="o")
    elif kind == "pie":
        ax.pie(ys, labels=xs, autopct="%1.1f%%")
    elif kind == "hist":
        ax.bar(xs, ys, width=1.0)
    ax.set_title(title)
    fig.savefig(path, format="png", bbox_inches="tight")
    plt.close(fig)
    return path
