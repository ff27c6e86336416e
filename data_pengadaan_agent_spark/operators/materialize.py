"""S4 + M4: intermediary-table materialization contract.

The reference overwrites ``intermediary_table`` in a SQLite file per
stage-1 query so stage-2 chart queries and follow-ups never re-scan
the base table (openai/list_of_tools.py:152, langchain/my_toolkit.py:
67-71), and echoes {schema, first 5 rows} to the caller.

Spark realization: cached temp view (in-memory columnar, shared by
every follow-up query in the session) with an optional durable Parquet
overwrite for cross-session parity. Overwrite means release, too: the
relation the view named before is unpersisted once the new view is in
place, so a session holds one cached intermediary, not one per turn.
The LangChain variant's hard-coded column alias list
(my_toolkit.py:32,59) becomes an explicit, optional rename map —
silently mislabeling columns is a bug we do not port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_pengadaan_agent_spark.sources.catalog import schema_head_echo

INTERMEDIARY_VIEW = "intermediary_table"


def materialize(
    df: DataFrame,
    view_name: str = INTERMEDIARY_VIEW,
    rename: dict[str, str] | None = None,
    durable_path: str | None = None,
    echo_rows: int = 5,
) -> dict:
    """Overwrite the result cache with ``df`` and return the schema +
    first-rows echo (M4). ``rename`` applies explicit column aliases
    (the reference's English-alias behavior, made opt-in)."""
    if rename:
        for old, new in rename.items():
            df = df.withColumnRenamed(old, new)
    spark = df.sparkSession
    old = spark.table(view_name) if spark.catalog.tableExists(view_name) else None
    df = df.cache()
    df.createOrReplaceTempView(view_name)
    # after the swap: a new SQL that reads the old view was planned
    # against it, and Spark re-plans a dependent cache that has not
    # been filled yet once the old one is released
    if old is not None and not old.sameSemantics(df):
        old.unpersist()
    if durable_path:
        df.write.mode("overwrite").parquet(durable_path)
    return schema_head_echo(df, echo_rows)


def read_intermediary(spark: SparkSession, view_name: str = INTERMEDIARY_VIEW) -> DataFrame:
    """S2: stage-2 scan over the materialized result cache."""
    return spark.table(view_name)


def drop_intermediary(spark: SparkSession, view_name: str = INTERMEDIARY_VIEW) -> None:
    try:
        df = spark.table(view_name)
        df.unpersist()
    except Exception:
        pass
    spark.catalog.dropTempView(view_name)
