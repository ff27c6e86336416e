"""The reference's two rehearsed end-to-end scenarios
(SURVEY.md §5.1: the golden PNGs in /root/reference/images/), re-run
through this engine's full pipeline: retrieve keywords → CNF filter →
materialize → chart data + insights.

Scenario A — office supplies ("alat tulis"), bar chart by work unit
(openai/basic_functions.py:45-53).
Scenario B — building repairs ("perbaikan/rehabilitasi gedung"),
monthly trend line (langchain/agent_setup.py:25-39,
images/monthly_trend_building_repairs.png).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pengadaan_agent_spark.operators import charts as C
from data_pengadaan_agent_spark.operators import materialize as MA
from data_pengadaan_agent_spark.operators.aggregates import groupby_sum_count
from data_pengadaan_agent_spark.operators.filters import filter_keywords
from data_pengadaan_agent_spark.operators.similarity import retrieve_similar_keywords


def test_scenario_a_office_supplies_bar(spark, pengadaan):
    # 1. keyword retrieval over the corpus vocabulary: 'alat' must come
    #    back for an office-supplies query (substring family)
    vocab = spark.createDataFrame(
        [(t,) for t in "belanja alat peralatan tulis kantor gedung".split()],
        "keyword string",
    )
    top = [r["keyword"] for r in retrieve_similar_keywords(vocab, "peralatan tulis", k=3).collect()]
    assert "peralatan" in top

    # 2. CNF filter with the reference's substring semantics: 'alat'
    #    matches both 'alat' and 'peralatan' rows (§1.4 trap)
    hit = filter_keywords(
        pengadaan, "filtered_keywords", include=[["alat"], ["kantor", "tulis"]]
    )
    assert sorted(r["kode_rup"] for r in hit.collect()) == [1, 2]

    # 3. materialize as the intermediary view (S4) with schema echo (M4)
    echo = MA.materialize(hit, view_name="golden_a")
    assert echo["schema"]["fields"][0]["name"] == "kode_rup"
    assert len(echo["first_rows"]) == 2

    # 4. stage-2 bar data over the view + insights (C1)
    agg = spark.table("golden_a").groupBy("satuan_kerja").agg(
        F.sum("total_pagu").alias("total")
    )
    data, insights = C.bar_chart_data(agg, "satuan_kerja", "total")
    assert insights["n"] == 1  # both rows are Dinas A
    assert insights["top_category"] == "Dinas A"
    assert insights["sum_v"] == 5_400_150_000  # > int32: LongType required
    MA.drop_intermediary(spark, "golden_a")


def test_scenario_b_building_repairs_line(spark, pengadaan):
    # 'gedung' must also match 'gedungnya' (substring, not token)
    hit = filter_keywords(
        pengadaan, "filtered_keywords", include=[["perbaikan", "rehabilitasi"], ["gedung"]]
    )
    assert sorted(r["kode_rup"] for r in hit.collect()) == [3, 4]

    # null-coerce timestamp parse (P6), then monthly dual-axis rollup (A2)
    parsed = hit.withColumn("ts", F.try_to_timestamp("tanggal_umumkan_paket")).filter(
        F.col("ts").isNotNull()
    )
    data, insights = C.line_chart_data(parsed, "ts", "kode_rup", "total_pagu")
    months = {r["bulan"]: (r["jumlah_paket"], r["total_pagu"]) for r in data}
    # years NOT collapsed in the trend (unlike the A7 histogram)
    assert months == {"2023-01": (1, 750_000_000), "2024-01": (1, 2_000_000_000)}
    assert insights["peak_value_month"] == "2024-01"
    assert insights["total_value"] == 2_750_000_000


def test_groupby_sum_count_reference_aliases(pengadaan):
    """The canonical A2 SQL emitted by the reference uses Indonesian
    aliases (bulan/jumlah_paket/total_pagu) — preserved end-to-end."""
    parsed = pengadaan.withColumn("ts", F.try_to_timestamp("tanggal_umumkan_paket"))
    out = groupby_sum_count(
        parsed.filter(F.col("ts").isNotNull()), "satuan_kerja", "total_pagu", "kode_rup"
    )
    got = {r["satuan_kerja"]: r for r in out.collect()}
    assert got["Dinas A"]["jumlah_paket"] == 2
    assert got["Dinas C"]["total_pagu"] == 11
