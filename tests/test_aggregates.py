"""A1–A8 aggregation semantics, incl. the reference's traps:
COUNT(col) null-skipping, month-of-year year-collapse, int64 budgets."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import aggregates as A
from data_pengadaan_agent_spark.operators.filters import parse_ts_coerce


def test_groupby_count_null_semantics(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("b", 2)], "k STRING, v INT"
    )
    star = {r["k"]: r["cnt"] for r in A.groupby_count(df, "k").collect()}
    col = {r["k"]: r["cnt"] for r in A.groupby_count(df, "k", count_col="v").collect()}
    assert star == {"a": 2, "b": 1}
    assert col == {"a": 1, "b": 1}  # COUNT(col) skips NULLs


def test_monthly_rollup_reference_shape(pengadaan):
    df = parse_ts_coerce(pengadaan, "tanggal_umumkan_paket")
    out = A.monthly_rollup(df, "ts", "kode_rup", "total_pagu").orderBy("bulan").collect()
    assert [r["bulan"] for r in out] == ["2023-01", "2023-12", "2024-01", "2024-03"]
    jan24 = next(r for r in out if r["bulan"] == "2024-01")
    assert jan24["jumlah_paket"] == 2
    assert jan24["total_pagu"] == 2_000_150_000  # > int32: LongType required


def test_scalar_insights(pengadaan):
    row = A.scalar_insights(pengadaan, "total_pagu").first()
    assert row["n"] == 6
    assert row["min_v"] == 11
    assert row["max_v"] == 5_400_000_000
    assert row["sum_v"] == 5_400_000_000 + 150_000 + 2_000_000_000 + 750_000_000 + 11 + 99


def test_arg_extreme(pengadaan):
    row = A.arg_extreme(pengadaan, "satuan_kerja", "total_pagu").first()
    assert row["argmax"] == "Dinas A"
    assert row["argmin"] == "Dinas C"


def test_histogram_numeric_edges(spark):
    # values 0..12: bin width 1, x==max lands in the LAST bin (plt.hist)
    df = spark.range(13).select(F.col("id").cast("double").alias("v"))
    out = {r["bucket"]: r["cnt"] for r in A.histogram_numeric(df, "v", bins=12).collect()}
    assert out[0] == 1 and out[11] == 2  # 11 and 12 share the closed last bin
    assert sum(out.values()) == 13


def test_histogram_numeric_constant_column(spark):
    df = spark.createDataFrame([(5.0,)] * 4, "v DOUBLE")
    out = A.histogram_numeric(df, "v", bins=12).collect()
    assert len(out) == 1 and out[0]["cnt"] == 4


def test_month_of_year_collapses_years(pengadaan):
    """2023-01 and 2024-01 must land in the same bin (month 1)."""
    df = parse_ts_coerce(pengadaan, "tanggal_umumkan_paket")
    out = {r["month_no"]: r["cnt"] for r in A.histogram_month_of_year(df, "ts").collect()}
    assert len(out) == 12  # scaffold keeps empty months
    assert out[1] == 3  # 2024-01 ×2 + 2023-01 ×1 collapsed
    assert out[2] == 0


def test_distinct_count(spark, tables):
    out = A.distinct_count(tables["events"], "event_type", "user_id").collect()
    assert all(r["n_distinct"] > 0 for r in out)


def test_mad_pandas_udaf_matches_pandas(tables):
    from data_pengadaan_agent_spark.operators.aggregates import mad_pandas_udaf

    ev = tables["events"]
    got = {r["event_type"]: r["mad"] for r in mad_pandas_udaf(ev, "event_type", "value").collect()}
    pdf = ev.select("event_type", "value").toPandas()
    for etype, grp in pdf.groupby("event_type"):
        v = grp["value"]
        assert abs(got[etype] - float((v - v.median()).abs().median())) < 1e-9


def test_group_trend_exact_ols(spark):
    """Exact integer OLS: perfect positive/negative lines give
    slope_ppm = ±k·1e6 and r2_ppm = 1e6 exactly; a constant-y group
    gives slope 0 with NULL r2 (deny = 0); constant-x and singleton
    groups give NULL slope; the integer recipe matches a Python
    replay including truncation-toward-zero on negatives."""
    from data_pengadaan_agent_spark.operators import aggregates as A

    rows = []
    rows += [("up", i, 3 * i + 7) for i in range(50)]  # slope 3, r2 1
    rows += [("down", i, 1000 - 2 * i) for i in range(50)]  # slope -2, r2 1
    rows += [("flat", i, 42) for i in range(50)]  # slope 0, deny 0
    rows += [("constx", 5, i) for i in range(10)]  # denx 0
    rows += [("single", 1, 1)]
    rows += [("noisy", i, (i * 7) % 13 + i) for i in range(40)]
    df = spark.createDataFrame(rows, "g STRING, x LONG, y LONG")
    got = {r["g"]: r for r in A.group_trend(df, "g", "x", "y").collect()}
    assert (got["up"]["slope_ppm"], got["up"]["r2_ppm"]) == (3_000_000, 1_000_000)
    assert (got["down"]["slope_ppm"], got["down"]["r2_ppm"]) == (-2_000_000, 1_000_000)
    assert got["flat"]["slope_ppm"] == 0 and got["flat"]["r2_ppm"] is None
    assert got["constx"]["slope_ppm"] is None
    assert got["single"]["slope_ppm"] is None

    # python replay of the exact staged recipe for the noisy group
    pts = [(x, y) for g, x, y in rows if g == "noisy"]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts); syy = sum(y * y for _, y in pts)
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy

    def tdiv(a, b):  # truncation toward zero, the DIV/(//) semantic pinned
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    assert got["noisy"]["slope_ppm"] == tdiv(1_000_000 * num, denx)
    assert got["noisy"]["r2_ppm"] == tdiv(tdiv(1_000_000 * num, denx) * num, deny)
