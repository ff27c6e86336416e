"""The engine facade: the reference's seven tool-shaped operations as
plain Python methods (SURVEY.md §3 'the engine exposes the same seven
tool-shaped operations … so any agent harness can drive it').

Reference tool → method map:

| reference tool (citation)                                   | method |
|-------------------------------------------------------------|---|
| mini_retrieve_similar_keywords (openai/list_of_tools.py:123-143) | retrieve_keywords |
| schema_check (openai/list_of_tools.py:167-202)              | schema_check |
| intermediary materialization (openai/list_of_tools.py:145-164, langchain/my_toolkit.py:41-109) | materialize |
| sql_query_validator preview (langchain/my_toolkit.py:487-549) | preview |
| bar_chart_tool (openai/list_of_tools.py:204-269)            | bar_chart |
| line_chart_tool (openai/list_of_tools.py:272-385)           | line_chart |
| pie_chart_tool / histogram_tool (openai/list_of_tools.py:388-449, 14-112) | pie_chart / histogram |

Every SQL string passes the deterministic SELECT-only gate (P7) before
Catalyst sees it; every result the LLM loop would consume is a small
schema+rows dict — full frames never cross the driver boundary. The
LLM orchestration itself (threads/runs or LangGraph) is out of scope
by design: these methods are exactly the tool bodies it would call.

A question turn pays fixed cost per call, not scan work, so the facade
keeps the per-call Spark work small: the first ``retrieve_keywords``
embeds the vocabulary once (one job) and every question after it ranks
on the driver with no Spark job (``similarity.KeywordIndex``); each
chart call is one Spark action that returns its plot rows and insights
together (two for a numeric histogram); ``materialize`` releases the
intermediary it replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_pengadaan_agent_spark.operators import charts as _charts
from data_pengadaan_agent_spark.operators import materialize as _mat
from data_pengadaan_agent_spark.operators import similarity as _sim
from data_pengadaan_agent_spark.plans import sql_gate as _gate
from data_pengadaan_agent_spark.sources import catalog as _cat


class Engine:
    """Bind a SparkSession + a registered base table (plus an optional
    keyword vocabulary) and expose the reference's tool surface."""

    def __init__(
        self,
        spark: SparkSession,
        base_df: DataFrame,
        base_name: str = "data_pengadaan",
        vocab_df: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.base_name = base_name
        base_df.createOrReplaceTempView(base_name)
        self.vocab = vocab_df
        self._keywords: _sim.KeywordIndex | None = None  # built on first use

    @classmethod
    def from_sqlite(
        cls,
        spark: SparkSession,
        db_path: str,
        table: str,
        base_name: str = "data_pengadaan",
        vocab_df: DataFrame | None = None,
    ) -> "Engine":
        """Reference-fidelity constructor: bind directly to the SQLite
        procurement database the reference agent scans
        (openai/list_of_tools.py:148-150) via sources/jdbc —
        executor-parallel JDBC when a driver jar is present, loud
        driver-side fallback otherwise."""
        from data_pengadaan_agent_spark.sources.jdbc import load_sqlite_table

        return cls(spark, load_sqlite_table(spark, db_path, table), base_name, vocab_df)

    # 1. semantic keyword retrieval (§2.10)
    def retrieve_keywords(self, query_text: str, top_k: int = 10) -> list[dict]:
        if self.vocab is None:
            raise ValueError("no keyword vocabulary configured")
        if self._keywords is None:
            self._keywords = _sim.KeywordIndex(self.vocab)
        return self._keywords.top_k(query_text, k=top_k)

    # 2. schema introspection (M1–M4)
    def schema_check(self) -> dict:
        return _cat.schema_check(self.spark)

    # 3. stage-1 query → intermediary materialization (S4 + M4 echo)
    def materialize(self, sql: str, rename: dict[str, str] | None = None) -> dict:
        df = _gate.safe_sql(self.spark, sql)
        return _mat.materialize(df, rename=rename)

    # 4. candidate-query preview (V1/V2 engine half)
    def preview(self, sql: str, n: int = 5) -> dict:
        return _gate.preview(self.spark, sql, n)

    # 5–7. chart-data pipelines over the intermediary (C1–C4): each
    # runs the caller's stage-2 SQL through the gate, then returns the
    # small plot rows + the insights dict the reference's tools embed
    # in their replies, both from one Spark action.
    def _stage2(self, sql: str) -> DataFrame:
        return _gate.safe_sql(self.spark, sql)

    def bar_chart(self, sql: str, x: str, y: str) -> tuple[list[dict], dict]:
        rows, insights = _charts.bar_chart_data(self._stage2(sql), x, y)
        return [r.asDict() for r in rows], insights

    def line_chart(self, sql: str, ts_col: str, id_col: str, measure_col: str) -> tuple[list[dict], dict]:
        rows, insights = _charts.line_chart_data(self._stage2(sql), ts_col, id_col, measure_col)
        return [r.asDict() for r in rows], insights

    def pie_chart(self, sql: str, label: str, value: str) -> tuple[list[dict], dict]:
        rows, insights = _charts.pie_chart_data(self._stage2(sql), label, value)
        return [r.asDict() for r in rows], insights

    def histogram(self, sql: str, col: str, bins: int = 12) -> tuple[list[dict], dict]:
        rows, insights = _charts.histogram_data(self._stage2(sql), col, bins)
        return [r.asDict() for r in rows], insights
