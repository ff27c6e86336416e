"""Keyword-CNF filtering (SURVEY.md §2.2, P3–P6).

The reference's signature filter is an AND of OR-groups of
``LIKE '%kw%'`` predicates over a comma-joined keyword string
(openai/basic_functions.py:38-53, langchain/agent_setup.py:23-39).
Semantics to preserve (SURVEY.md §1.4):

- **substring**, not token, match: ``alat`` must also match rows whose
  keyword list contains ``peralatan``;
- SQLite ``LIKE`` is ASCII-case-insensitive, so we lower() both sides;
- exclusion groups are ``AND NOT (…OR…)``.

These are pure Column expressions → whole-stage codegen'd, no UDFs.
At 100 TB a leading-wildcard substring scan cannot prune row groups
(same fundamental limit as the reference); the scan stays parallel and
codegen'd, and `token_match` offers the sargable strict variant.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KeywordGroups = Sequence[Sequence[str]]


def _contains_any(col: Column, kws: Iterable[str]) -> Column:
    return reduce(
        lambda a, b: a | b,
        [F.lower(col).contains(kw.lower()) for kw in kws],
    )


def keyword_cnf(col: Column, include: KeywordGroups, exclude: Sequence[str] = ()) -> Column:
    """P3+P4: CNF of substring OR-groups, with an optional NOT-group.

    ``include=[["alat","peralatan"], ["tulis"]]`` →
    ``(kw LIKE '%alat%' OR kw LIKE '%peralatan%') AND kw LIKE '%tulis%'``
    ``exclude=["gedung"]`` appends ``AND NOT (kw LIKE '%gedung%')``.
    """
    if not include and not exclude:
        return F.lit(True)
    clauses: list[Column] = [_contains_any(col, grp) for grp in include if grp]
    if exclude:
        clauses.append(~_contains_any(col, exclude))
    # initial lit(True): include made only of EMPTY groups (each one
    # skipped, the existing no-constraint semantics) used to reduce()
    # an empty list and raise TypeError (self-review r12)
    return reduce(lambda a, b: a & b, clauses, F.lit(True))


def token_match(col: Column, token: str, sep: str = ",") -> Column:
    """Strict exact-token variant (NOT reference semantics — offered as
    the separate, stricter operator SURVEY.md §1.4 recommends).
    ``sep`` is a LITERAL separator — escaped before F.split's regex
    (self-review r12: sep='|' used to split between every character
    and the token never matched)."""
    import re as _re

    return F.array_contains(F.split(F.lower(col), _re.escape(sep)), token.lower())


def filter_keywords(
    df: DataFrame,
    column: str,
    include: KeywordGroups,
    exclude: Sequence[str] = (),
) -> DataFrame:
    """P3/P4 as a DataFrame op (full projection, P1 — pruning is Catalyst's)."""
    return df.filter(keyword_cnf(F.col(column), include, exclude))


def date_range_filter(df: DataFrame, ts_column: str, start=None, end=None) -> DataFrame:
    """P5: inclusive timestamp range filter (either bound optional)."""
    c = F.col(ts_column)
    if start is not None and end is not None:
        return df.filter(c.between(start, end))
    if start is not None:
        return df.filter(c >= start)
    if end is not None:
        return df.filter(c <= end)
    return df


def parse_ts_coerce(df: DataFrame, src: str, dst: str = "ts", fmt: str | None = None) -> DataFrame:
    """P6: parse-with-coerce — try_to_timestamp NULLs unparsable rows
    (plain to_timestamp THROWS under ANSI mode), then drop them,
    matching pd.to_datetime(errors='coerce')+dropna
    (openai/list_of_tools.py:49-51)."""
    parsed = (
        F.try_to_timestamp(F.col(src), F.lit(fmt)) if fmt else F.try_to_timestamp(F.col(src))
    )
    return df.withColumn(dst, parsed).filter(F.col(dst).isNotNull())
