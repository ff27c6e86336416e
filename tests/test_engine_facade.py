"""Engine facade: the reference's full tool conversation replayed —
retrieve keywords → materialize a filtered query → preview → chart
data + insights — entirely through the seven-method surface."""

from __future__ import annotations

import pytest

from data_pengadaan_agent_spark.engine import Engine
from data_pengadaan_agent_spark.plans.sql_gate import SqlGateError
from tests.conftest import jobs_in


@pytest.fixture()
def engine(spark, pengadaan):
    vocab = spark.createDataFrame(
        [(t,) for t in "belanja alat peralatan tulis kantor gedung perbaikan".split()],
        "keyword string",
    )
    return Engine(spark, pengadaan, vocab_df=vocab)


def test_full_tool_conversation(spark, engine):
    # step 1: keyword retrieval for the user question
    kws = engine.retrieve_keywords("peralatan kantor", top_k=3)
    assert kws[0]["keyword"] == "peralatan"

    # step 2: schema introspection
    schema = engine.schema_check()
    assert any(t == "data_pengadaan" for t in schema)

    # step 3: stage-1 filter query materialized with the English-alias
    # rename the LangChain variant applies (my_toolkit.py:32, opt-in)
    echo = engine.materialize(
        """SELECT * FROM data_pengadaan
           WHERE lower(filtered_keywords) LIKE '%alat%'""",
        rename={"nama_paket": "item_name"},
    )
    assert [f["name"] for f in echo["schema"]["fields"]][1] == "item_name"
    assert len(echo["first_rows"]) == 2

    # step 4: preview over the intermediary (V2 path)
    prev = engine.preview("SELECT satuan_kerja, total_pagu FROM intermediary_table")
    assert prev["first_rows"][0]["satuan_kerja"] == "Dinas A"

    # step 5: stage-2 chart data + insights
    data, insights = engine.bar_chart(
        """SELECT satuan_kerja, sum(total_pagu) AS total
           FROM intermediary_table GROUP BY satuan_kerja""",
        x="satuan_kerja",
        y="total",
    )
    assert insights["sum_v"] == 5_400_150_000
    assert data[0]["satuan_kerja"] == "Dinas A"


def test_gate_blocks_dml_everywhere(engine):
    for bad in ("DROP TABLE data_pengadaan", "DELETE FROM data_pengadaan"):
        with pytest.raises(SqlGateError):
            engine.materialize(bad)
        with pytest.raises(SqlGateError):
            engine.preview(bad)


def test_histogram_dispatch_via_facade(engine):
    engine.materialize("SELECT * FROM data_pengadaan")
    data, insights = engine.histogram(
        "SELECT satuan_kerja FROM intermediary_table", col="satuan_kerja"
    )
    assert insights["mode"] in {"Dinas A", "Dinas B", "Dinas C"}
    assert sum(d["cnt"] for d in data) == 6


def test_engine_from_sqlite(spark, tmp_path):
    """The reference's exact setup: an Engine bound to a SQLite
    procurement DB, driving gate + preview + a chart end-to-end."""
    import sqlite3

    from data_pengadaan_agent_spark.engine import Engine

    db = str(tmp_path / "ref.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE pengadaan (kode_rup INTEGER, nama_paket TEXT,"
        " jenis_pengadaan TEXT, total_pagu REAL)"
    )
    con.executemany(
        "INSERT INTO pengadaan VALUES (?, ?, ?, ?)",
        [(i, f"paket {i}", "Barang" if i % 2 else "Jasa", 500.0 * i) for i in range(1, 21)],
    )
    con.commit()
    con.close()

    eng = Engine.from_sqlite(spark, db, "pengadaan")
    prev = eng.preview("SELECT kode_rup, total_pagu FROM data_pengadaan ORDER BY kode_rup")
    assert [r["kode_rup"] for r in prev["first_rows"]] == [1, 2, 3, 4, 5]
    data, insights = eng.bar_chart(
        "SELECT jenis_pengadaan, sum(total_pagu) AS pagu FROM data_pengadaan GROUP BY 1",
        "jenis_pengadaan",
        "pagu",
    )
    assert {d["jenis_pengadaan"] for d in data} == {"Barang", "Jasa"}
    assert insights["n"] == 2


def test_golden_scenarios_through_facade(spark, engine):
    """The reference's two rehearsed scenarios (golden PNGs,
    openai/basic_functions.py:45-53 / langchain/agent_setup.py:25-39)
    replayed ENTIRELY through the facade — materialize → preview →
    chart — including the §1.4 substring trap in the stage-1 SQL
    itself (VERDICT r4 #6; the operator-level golden tests cover the
    same semantics below the facade).

    Scenario A (office supplies): CNF (alat) AND (kantor OR tulis) as
    LIKE-substring SQL. 'alat' must match row 2's 'peralatan' — token
    matching would return only row 1 and the budget sum would miss the
    150k row."""
    engine.materialize(
        """SELECT * FROM data_pengadaan
           WHERE filtered_keywords LIKE '%alat%'
             AND (filtered_keywords LIKE '%kantor%'
                  OR filtered_keywords LIKE '%tulis%')"""
    )
    prev = engine.preview("SELECT kode_rup FROM intermediary_table ORDER BY kode_rup")
    assert [r["kode_rup"] for r in prev["first_rows"]] == [1, 2]  # §1.4: 2 included

    data, insights = engine.bar_chart(
        """SELECT satuan_kerja, sum(total_pagu) AS total
           FROM intermediary_table GROUP BY satuan_kerja""",
        x="satuan_kerja",
        y="total",
    )
    assert insights["top_category"] == "Dinas A"
    assert insights["sum_v"] == 5_400_150_000  # includes the peralatan row

    # Scenario B (building repairs): (perbaikan OR rehabilitasi) AND
    # gedung — 'gedung' must match 'gedungnya'; the monthly trend keeps
    # years distinct (2023-01 vs 2024-01).
    engine.materialize(
        """SELECT *, try_to_timestamp(tanggal_umumkan_paket) AS ts
           FROM data_pengadaan
           WHERE (filtered_keywords LIKE '%perbaikan%'
                  OR filtered_keywords LIKE '%rehabilitasi%')
             AND filtered_keywords LIKE '%gedung%'"""
    )
    prev = engine.preview("SELECT kode_rup FROM intermediary_table ORDER BY kode_rup")
    assert [r["kode_rup"] for r in prev["first_rows"]] == [3, 4]  # gedungnya matched

    data, insights = engine.line_chart(
        "SELECT ts, kode_rup, total_pagu FROM intermediary_table",
        ts_col="ts",
        id_col="kode_rup",
        measure_col="total_pagu",
    )
    months = {d["bulan"]: (d["jumlah_paket"], d["total_pagu"]) for d in data}
    assert months == {"2023-01": (1, 750_000_000), "2024-01": (1, 2_000_000_000)}
    assert insights["peak_value_month"] == "2024-01"
    assert insights["total_value"] == 2_750_000_000


def test_sql_gate_semicolon_inside_literal_allowed(spark):
    """Self-review r12: the multi-statement check ran BEFORE literal
    stripping, falsely rejecting a semicolon inside a string literal
    or comment."""
    import pytest as _pt

    from data_pengadaan_agent_spark.plans.sql_gate import (
        SqlGateError, check_select_only,
    )

    check_select_only("SELECT ';' AS sep FROM t")
    check_select_only("SELECT 1 -- note; details")
    with _pt.raises(SqlGateError, match="multiple statements"):
        check_select_only("SELECT 1; DROP TABLE t")


# ---- the facade's fast path: retrieval on the driver, one action per chart


def test_retrieve_keywords_matches_the_spark_plan(spark, pengadaan):
    """The Engine ranks its once-embedded vocabulary on the driver; the
    answers must equal ``retrieve_similar_keywords``'s Spark plan
    exactly — scores and order — on a vocabulary with duplicate
    keywords, the empty string, a NULL keyword and a zero-norm
    embedding, with k zero, below and above the vocabulary size. A
    negative k is an error on both paths."""
    from data_pengadaan_agent_spark.functions.vectors import hash_ngram_embed
    from data_pengadaan_agent_spark.operators.similarity import retrieve_similar_keywords

    assert not any(hash_ngram_embed("cc"))  # its ±1 votes cancel: zero norm
    words = ["alat", "alat", "", None, "cc", "kantor", "tulis", "peralatan", "gedung", "ATK"]
    vocab = spark.createDataFrame([(w,) for w in words], "keyword string")
    engine = Engine(spark, pengadaan, vocab_df=vocab)
    for query in ("alat kantor", "", "cc", "peralatan tulis", "zzz", "Gedung"):
        for k in (0, 3, len(words) + 5):
            want = [r.asDict() for r in retrieve_similar_keywords(vocab, query, k=k).collect()]
            assert engine.retrieve_keywords(query, top_k=k) == want, (query, k)
    with pytest.raises(Exception, match="(?i)limit"):
        retrieve_similar_keywords(vocab, "alat", k=-1).collect()
    with pytest.raises(ValueError):
        engine.retrieve_keywords("alat", top_k=-1)


def test_turn_job_counts(spark, pengadaan):
    """A warm retrieval starts no Spark job; bar, line and pie are one
    action each (an aggregate over a grouped stage-2 frame: at most 3
    jobs under AQE), and so is a string histogram, categorical or
    parsed as dates; the numeric histogram is its min/max pass plus
    its binning pass."""
    vocab = spark.createDataFrame([(w,) for w in "alat kantor gedung".split()], "keyword string")
    engine = Engine(spark, pengadaan, vocab_df=vocab)
    _, cold = jobs_in(spark, lambda: engine.retrieve_keywords("alat", top_k=2))
    _, warm = jobs_in(spark, lambda: engine.retrieve_keywords("gedung kantor", top_k=2))
    assert cold >= 1 and warm == 0  # the counter sees the one-time embedding job
    engine.materialize(
        "SELECT *, try_to_timestamp(tanggal_umumkan_paket) AS ts FROM data_pengadaan"
    )
    calls = {
        "bar": lambda: engine.bar_chart(
            "SELECT satuan_kerja, SUM(total_pagu) AS t FROM intermediary_table GROUP BY satuan_kerja",
            "satuan_kerja", "t",
        ),
        "line": lambda: engine.line_chart(
            "SELECT ts, kode_rup, total_pagu FROM intermediary_table", "ts", "kode_rup", "total_pagu"
        ),
        "pie": lambda: engine.pie_chart(
            "SELECT satuan_kerja, COUNT(*) AS n FROM intermediary_table GROUP BY satuan_kerja",
            "satuan_kerja", "n",
        ),
        "hist": lambda: engine.histogram("SELECT total_pagu FROM intermediary_table", "total_pagu"),
        "hist_category": lambda: engine.histogram(
            "SELECT satuan_kerja FROM intermediary_table", "satuan_kerja"
        ),
        "hist_date_string": lambda: engine.histogram(
            "SELECT tanggal_umumkan_paket FROM intermediary_table", "tanggal_umumkan_paket"
        ),
    }
    jobs = {kind: jobs_in(spark, fn)[1] for kind, fn in calls.items()}
    assert all(jobs[k] <= 3 for k in ("bar", "line", "pie")), jobs
    assert jobs["hist"] <= 4, jobs
    # a STRING histogram decides its datetime parse inside its one
    # aggregate: no more jobs than bar, line or pie
    assert all(jobs[k] <= 3 for k in ("hist_category", "hist_date_string")), jobs


def test_chart_rows_keep_the_stage2_order(spark, pengadaan):
    """Bar and pie rows come back in the stage-2 frame's own order — a
    caller's ORDER BY … DESC included — although they are gathered by
    one global aggregate over several partitions."""
    src = spark.range(0, 400, numPartitions=8).selectExpr(
        "concat('k', CAST(id % 37 AS STRING)) AS k", "(id * 7919) % 1000 AS v"
    )
    engine = Engine(spark, src, base_name="ordered_src")
    sql = "SELECT k, SUM(v) AS s FROM ordered_src GROUP BY k ORDER BY s DESC, k DESC"
    want = [r.asDict() for r in spark.sql(sql).collect()]
    assert len(want) == 37
    bar, _ = engine.bar_chart(sql, "k", "s")
    assert bar == want
    pie, ins = engine.pie_chart(sql, "k", "s")
    assert [(r["k"], r["s"]) for r in pie] == [(r["k"], r["s"]) for r in want]
    assert all(r["share"] == r["s"] / ins["total"] for r in pie)
