"""Sort / limit / top-k operators (SURVEY.md §2.6, T1–T4).

``orderBy(...).limit(k)`` compiles to ``TakeOrderedAndProject`` — each
partition keeps a k-element heap and only k rows per partition reach
the driver-side merge, so top-k never performs a full sort at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, order: list[Column], k: int = 10) -> DataFrame:
    """T1: sort_values(desc).head(k) (openai/list_of_tools.py:138-143).

    Callers should include a unique tie-break column in ``order`` when
    determinism under ties matters (the reference inherits pandas'
    unstable order; we make the contract explicit instead).
    """
    return df.orderBy(*order).limit(k)


def sorted_first_last(df: DataFrame, label_col: str, value_col: str) -> dict:
    """T4 fix: the reference reads .iloc[0]/.iloc[-1] assuming the
    query was sorted (openai/list_of_tools.py:262-266). Positional
    access on a distributed DataFrame is undefined; compute the same
    facts with max_by/min_by in one job."""
    row = df.agg(
        F.expr(f"max_by({label_col}, {value_col})").alias("first_label"),
        F.max(value_col).alias("first_value"),
        F.expr(f"min_by({label_col}, {value_col})").alias("last_label"),
        F.min(value_col).alias("last_value"),
    ).first()
    return row.asDict()
