"""Joins/windows/setops/rollup + chart pipelines + materialize + catalog."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import charts as C
from data_pengadaan_agent_spark.operators import relational as R
from data_pengadaan_agent_spark.operators.materialize import (
    drop_intermediary,
    materialize,
    read_intermediary,
)
from data_pengadaan_agent_spark.sources.catalog import list_tables, schema_check, schema_head_echo


def test_semi_anti_partition(tables):
    cust, orders = tables["customer"], tables["orders"]
    with_o = R.customers_with_orders(cust, orders).count()
    without_o = R.customers_without_orders(cust, orders).count()
    assert with_o + without_o == cust.count()


def test_rollup_has_grand_total(tables):
    out = R.status_priority_rollup(tables["orders"]).collect()
    grand = [r for r in out if r["o_orderstatus"] is None and r["o_orderpriority"] is None]
    assert len(grand) == 1
    assert grand[0]["n_orders"] == tables["orders"].count()


def test_top_order_per_customer_rank(tables):
    out = R.top_order_per_customer(tables["orders"], k=2)
    per = out.groupBy("o_custkey").count().agg(F.max("count")).first()[0]
    assert per <= 2


def test_month_over_month_delta_consistency(tables):
    rows = R.month_over_month(tables["orders"]).collect()
    assert rows[0]["mom_delta"] is None
    for prev, cur in zip(rows, rows[1:]):
        assert abs((cur["revenue"] - prev["revenue"]) - cur["mom_delta"]) < 1e-6


def test_pricing_summary_plan_is_single_agg(tables):
    plan = R.pricing_summary(tables["lineitem"])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # partial+final agg, one shuffle (+AQE sort)


# --- charts -----------------------------------------------------------------


def test_bar_chart_data(tables):
    counts = tables["orders"].groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    data, ins = C.bar_chart_data(counts, "o_orderstatus", "n")
    assert ins["n"] == 3
    assert ins["sum_v"] == tables["orders"].count()
    assert ins["top_category"] in ("O", "F", "P")


def test_line_chart_data(tables):
    data, ins = C.line_chart_data(tables["orders"], "o_orderdate", "o_orderkey", "o_totalprice")
    months = [r["bulan"] for r in data]
    assert months == sorted(months)
    assert ins["peak_value_month"] in months


def test_pie_chart_data_shares_sum_to_one(tables):
    counts = tables["orders"].groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    data, ins = C.pie_chart_data(counts, "o_orderpriority", "n")
    total_share = sum(r["share"] for r in data)
    assert abs(total_share - 1.0) < 1e-9
    assert ins["total"] == tables["orders"].count()


def test_histogram_dispatch_numeric_vs_ts_vs_string(tables):
    d1, _ = C.histogram_data(tables["lineitem"], "l_extendedprice")
    assert "bucket" in d1[0].asDict()
    d2, _ = C.histogram_data(tables["orders"], "o_orderdate")
    assert "month_no" in d2[0].asDict() and len(d2) == 12
    d3, _ = C.histogram_data(tables["orders"], "o_orderpriority")
    assert len(d3) == 5  # categorical fallback


def test_render_png_draws_the_returned_rows(tables, monkeypatch, tmp_path):
    """render_png takes the rows a chart function returns. matplotlib is
    optional, so a recording stand-in takes its place here."""
    import sys
    import types

    drawn = {}

    class Ax:
        def bar(self, xs, ys, **kw):
            drawn["bar"] = (list(xs), list(ys))

        def set_title(self, title):
            drawn["title"] = title

    class Fig:
        def savefig(self, path, **kw):
            drawn["path"] = path

    pyplot = types.SimpleNamespace(subplots=lambda **kw: (Fig(), Ax()), close=lambda fig: None)
    mpl = types.SimpleNamespace(use=lambda backend: None, pyplot=pyplot)
    monkeypatch.setitem(sys.modules, "matplotlib", mpl)
    monkeypatch.setitem(sys.modules, "matplotlib.pyplot", pyplot)
    counts = tables["orders"].groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    rows, _ = C.bar_chart_data(counts, "o_orderstatus", "n")
    out = C.render_png(rows, "bar", str(tmp_path / "bar.png"), "o_orderstatus", "n", "status")
    assert out == drawn["path"] and drawn["title"] == "status"
    assert drawn["bar"] == ([r["o_orderstatus"] for r in rows], [r["n"] for r in rows])


def test_histogram_missing_column_raises(tables):
    with pytest.raises(C.ChartColumnError):
        C.histogram_data(tables["orders"], "nope")


# --- materialize + catalog ---------------------------------------------------


def test_materialize_overwrite_contract(spark, tables):
    echo = materialize(tables["region"], rename={"r_name": "region_name"})
    assert [f["name"] for f in echo["schema"]["fields"]] == ["r_regionkey", "region_name"]
    assert len(echo["first_rows"]) == 5
    assert read_intermediary(spark).count() == 5
    # overwrite with a different frame — replace semantics
    materialize(tables["nation"])
    assert read_intermediary(spark).count() == 25
    drop_intermediary(spark)


def _cached_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_materialize_releases_the_replaced_intermediary(spark):
    """Each materialize caches the new intermediary and unpersists the
    one it replaces: N calls leave exactly one cached relation."""
    before = _cached_rdds(spark)
    for i in range(5):
        echo = materialize(spark.range(10 * (i + 1)).toDF("n"), view_name="leak_v")
        assert echo["first_rows"][0] == {"n": 0}
    assert len(_cached_rdds(spark) - before) == 1
    assert read_intermediary(spark, "leak_v").count() == 50
    drop_intermediary(spark, "leak_v")
    assert _cached_rdds(spark) - before == set()


def test_materialize_reading_the_previous_intermediary(spark):
    """A stage-1 query over the intermediary it replaces still answers
    from the old rows, though the old relation is released."""
    materialize(spark.range(10).toDF("n"), view_name="chain_v")
    for _ in range(2):
        materialize(spark.sql("SELECT n * 2 AS n FROM chain_v WHERE n < 8"), view_name="chain_v")
    got = sorted(r["n"] for r in read_intermediary(spark, "chain_v").collect())
    assert got == [0, 4, 8, 12]
    # re-materializing the same relation keeps it cached
    materialize(spark.table("chain_v"), view_name="chain_v")
    assert spark.catalog.isCached("chain_v")
    drop_intermediary(spark, "chain_v")


def test_catalog_ops(spark, tables):
    tables["region"].createOrReplaceTempView("region_v")
    assert "region_v" in list_tables(spark)
    sc = schema_check(spark)
    assert {c["name"] for c in sc["region_v"]} == {"r_regionkey", "r_name"}
    echo = schema_head_echo(tables["nation"], 3)
    assert len(echo["first_rows"]) == 3


def test_latest_by_key(tables):
    out = R.latest_by_key(tables["events"], "user_id", "ts", tiebreak_col="event_id")
    rows = out.collect()
    assert len(rows) == tables["events"].select("user_id").distinct().count()
    # spot-check one user against a manual max
    uid = rows[0]["user_id"]
    manual = max(
        tables["events"].filter(F.col("user_id") == uid).collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    got = [r for r in rows if r["user_id"] == uid][0]
    assert got["event_id"] == manual["event_id"]


def test_profile_columns_single_pass(tables):
    prof = R.profile_columns(tables["orders"], ["o_orderkey", "o_orderstatus"])
    rows = {r["column_name"]: r for r in prof.collect()}
    n = tables["orders"].count()
    assert rows["o_orderkey"]["n"] == n and rows["o_orderkey"]["n_nulls"] == 0
    assert rows["o_orderkey"]["n_distinct"] == n  # primary key
    assert rows["o_orderstatus"]["n_distinct"] <= 3
    # single aggregation: exactly one scan, no per-column passes
    # (AQE's string repeats the plan under "== Initial Plan ==" after
    # execution — only count the final section)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1


def test_funnel_strict_ordering(spark):
    """A purchase BEFORE the user's first click must not count."""
    df = spark.createDataFrame(
        [
            # u1 completes in order
            (1, "view", "2024-01-01 10:00:00"),
            (1, "click", "2024-01-01 11:00:00"),
            (1, "purchase", "2024-01-01 12:00:00"),
            # u2 purchases before clicking -> survives only to click
            (2, "view", "2024-01-01 10:00:00"),
            (2, "purchase", "2024-01-01 10:30:00"),
            (2, "click", "2024-01-01 11:00:00"),
            # u3 never views -> counts nowhere
            (3, "click", "2024-01-01 10:00:00"),
        ],
        "user_id LONG, event_type STRING, ts STRING",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["step"]: r for r in
           R.funnel_conversion(df, ["view", "click", "purchase"]).collect()}
    assert out["view"]["n_users"] == 2
    assert out["click"]["n_users"] == 2
    assert out["purchase"]["n_users"] == 1
    assert out["purchase"]["conversion"] == 0.5


def test_skew_profile_topk(spark, tables):
    out = R.skew_profile(tables["orders"], "o_custkey", top_k=5).collect()
    assert len(out) == 5
    assert out[0]["cnt"] >= out[-1]["cnt"]
    assert all(0 < r["share"] < 1 and r["skew_factor"] > 0 for r in out)


def test_snapshot_diff_statuses(spark):
    """added/removed/changed/unchanged classification over a keyed
    full-outer content comparison."""
    from data_pengadaan_agent_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "y"), (3, "zz"), (4, "w")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_embedding_qa_counts_and_norms(spark):
    """NULL / zero / wrong-dim vectors are counted apart; norm stats
    are L2 over doubles, mean from the DECIMAL-exact sum over the
    non-null vectors."""
    from data_pengadaan_agent_spark.operators.relational import embedding_qa

    df = spark.createDataFrame(
        [
            (0, [3.0, 4.0]),
            (0, [0.0, 0.0]),
            (0, None),
            (1, [1.0]),
        ],
        "label int, embedding array<float>",
    )
    got = {r["label"]: r for r in embedding_qa(df, dim=2).collect()}
    r0 = got[0]
    assert (r0["n_vecs"], r0["n_null"], r0["n_dim_bad"], r0["n_zero"]) == (3, 1, 0, 1)
    assert (r0["min_norm"], r0["max_norm"]) == (0.0, 5.0)
    assert r0["mean_norm"] == 2.5
    r1 = got[1]
    assert (r1["n_vecs"], r1["n_dim_bad"], r1["n_zero"]) == (1, 1, 0)
    assert r1["min_norm"] == r1["max_norm"] == r1["mean_norm"] == 1.0


def test_snapshot_diff_null_payloads(spark):
    """NULL payloads must not read as key-absence (xxhash64(NULL) is
    the seed, and presence is an explicit flag): NULL-vs-NULL is
    'changed' (SQL three-valued equality), NULL-vs-text 'changed',
    and absence still classifies added/removed."""
    from data_pengadaan_agent_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "y"), (4, "z")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "changed", 2: "changed", 3: "removed", 4: "added"}


def test_histogram_string_dispatch_is_all_or_nothing(spark):
    """Self-review r12: a string column where only ONE value parses as
    a timestamp used to dispatch to the month histogram and silently
    drop every other row — the pandas reference is all-or-nothing."""
    from data_pengadaan_agent_spark.operators import charts as C

    df = spark.createDataFrame(
        [("open",), ("closed",), ("closed",), ("2024-01-05",)], "status STRING"
    )
    data, row = C.histogram_data(df, "status")
    got = {r.status: r.cnt for r in data}
    assert got == {"open": 1, "closed": 2, "2024-01-05": 1}
    assert row["n"] == 4
    all_dates = spark.createDataFrame(
        [("2024-01-05",), ("2024-02-11",)], "d STRING"
    )
    data2, row2 = C.histogram_data(all_dates, "d")
    assert row2["n"] == 2 and "month_no" in data2[0].asDict()


def test_latest_by_key_fallback_skips_unorderable_columns(spark):
    """ADVICE r12: the no-tiebreak_col fallback orders by every
    remaining column, which failed at ANALYSIS for frames holding a
    non-orderable type (map, or a struct/array containing one) that
    previously ran. Unorderable columns are now skipped; orderable
    payload columns still break ties deterministically."""
    df = spark.createDataFrame(
        [(1, 10, {"a": 1}, "x"), (1, 10, {"b": 2}, "y"), (2, 5, {"c": 3}, "z")],
        "k INT, ts INT, m MAP<STRING,INT>, payload STRING",
    )
    out = R.latest_by_key(df, "k", "ts")  # must not raise
    rows = {r.k: r.payload for r in out.collect()}
    # the tie on (k=1, ts=10) breaks on the orderable payload asc
    assert rows == {1: "x", 2: "z"}
    nested = spark.createDataFrame(
        [(1, 2, ({"a": 1},)), (1, 1, ({"b": 2},))],
        "k INT, ts INT, s STRUCT<m: MAP<STRING,INT>>",
    )
    assert R.latest_by_key(nested, "k", "ts").count() == 1
