"""P7: SELECT-only SQL gate + deterministic query preview.

The reference enforces "SELECT only, no DML" purely in the prompt
(openai/basic_functions.py:60, langchain/agent_setup.py:56) and lints
candidate SQL with an LLM (langchain/langchain_tool.py:106-160,
disabled). Here the gate is engine-level and deterministic, in two
layers:

1. A textual pre-gate over the WHOLE statement (string literals and
   quoted identifiers stripped first). Round-1 review found the
   prefix-only version bypassable: Spark happily parses and EXECUTES
   ``WITH t AS (SELECT 1) INSERT INTO tbl SELECT * FROM t`` — the
   leading ``WITH`` satisfied the allowlist while the DML hid inside.
2. A parse-level gate in ``safe_sql``: the statement is parsed with
   Catalyst's own SQL parser and the resulting logical plan is
   rejected if it is a runnable ``Command`` or a DML/DDL statement
   node (``InsertIntoStatement``, ``DeleteFromTable`` …). This is the
   authoritative check — it sees exactly what Spark would execute,
   so no string trick can smuggle DML past it. Read-only metadata
   commands (``DESCRIBE``/``SHOW``) stay allowed.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_FORBIDDEN_WORD = re.compile(
    r"\b(insert|update|delete|drop|alter|create|truncate|merge|grant|revoke|set|reset)\b",
    re.IGNORECASE,
)
_ALLOWED = re.compile(r"^\s*(select|with|values|table|explain|describe|show)\b", re.IGNORECASE)

# String literals ('…' with '' escapes), quoted identifiers (`…` or
# "…"), and comments — removed before keyword scanning so data values
# never trip the gate and keywords can't hide inside them.
_LITERALS = re.compile(
    r"""
      '(?:[^']|'')*'      # single-quoted string
    | `(?:[^`]|``)*`      # backtick identifier
    | "(?:[^"]|"")*"      # double-quoted identifier/string
    | --[^\n]*            # line comment
    | /\*.*?\*/           # block comment
    """,
    re.VERBOSE | re.DOTALL,
)

# Logical-plan node names that are DML/DDL/stateful even though they
# may not extend Command (statements are resolved to commands later).
_WRITE_PLAN = re.compile(
    r"^(Insert|Update|Delete|Merge|Create|Replace|Drop|Alter|Truncate|"
    r"Cache|Uncache|Set|Reset|Add|Remove|Analyze|Load|Repair|Refresh|"
    r"Write|CommentOn|Rename)"
)
# Command subclasses that are pure metadata reads: allowed.
_READONLY_PLAN = re.compile(r"^(Describe|Show|Explain)")


class SqlGateError(ValueError):
    pass


def check_select_only(sql: str) -> str:
    """Textual pre-gate: reject anything that is not a read-only query.
    Scans the FULL statement (not just its first keyword) after
    stripping literals/comments, so CTE-wrapped DML is caught even
    without a SparkSession. Returns the SQL."""
    stripped = sql.strip().rstrip(";")
    # strip literals/comments BEFORE the multi-statement check
    # (self-review r12: SELECT ';' AS sep — a semicolon inside a
    # string literal or comment — was falsely rejected)
    scannable = _LITERALS.sub(" ", stripped)
    if ";" in scannable:
        raise SqlGateError("multiple statements are not allowed")
    if not _ALLOWED.match(stripped):
        raise SqlGateError(f"only read-only queries are allowed, got: {stripped[:60]!r}")
    hit = _FORBIDDEN_WORD.search(scannable)
    if hit:
        raise SqlGateError(
            f"write/DDL keyword {hit.group(0)!r} is not allowed in a read-only query"
        )
    return stripped


def _reject_command_plan(spark: SparkSession, sql: str) -> None:
    """Authoritative gate: parse with Catalyst's parser and reject any
    plan that would execute a command or write. Best-effort on
    non-JVM sessions (Spark Connect) — the textual gate still holds."""
    try:
        jplan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except AttributeError:  # pragma: no cover - e.g. Spark Connect client
        return
    except Exception as e:
        raise SqlGateError(f"SQL failed to parse: {e}") from e
    name = jplan.getClass().getSimpleName()
    if _READONLY_PLAN.match(name):
        return
    try:
        jvm = spark.sparkContext._jvm
        command_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.plans.logical.Command"
        )
        is_command = command_cls.isInstance(jplan)
    except Exception:  # pragma: no cover
        is_command = False
    if is_command or _WRITE_PLAN.match(name):
        raise SqlGateError(f"statement parses to non-query plan {name}; read-only only")
    # A write can hide BELOW the top node (a CTE parses to
    # UnresolvedWith with the InsertIntoStatement as a child), so scan
    # every node name in the parsed tree, not just the root.
    for line in jplan.treeString().splitlines():
        node = re.match(r"[\s:+\-']*([A-Za-z]\w*)", line)
        if node and (_WRITE_PLAN.match(node.group(1)) or node.group(1).endswith("Command")):
            raise SqlGateError(
                f"statement contains non-query plan node {node.group(1)}; read-only only"
            )


def safe_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Gate + compile. Catalyst analysis runs eagerly on spark.sql, so
    invalid references fail here, before any execution."""
    gated = check_select_only(sql)
    _reject_command_plan(spark, gated)
    return spark.sql(gated)


def preview(spark: SparkSession, sql: str, n: int = 5) -> dict:
    """V1/V2 engine half: run a candidate query, return schema + first
    n rows (langchain/my_toolkit.py:119-180,487-549). The LLM-judging
    half stays a pluggable callback outside the engine.
    """
    df = safe_sql(spark, sql)
    return {
        "schema": df.schema.jsonValue(),
        "first_rows": [r.asDict(recursive=True) for r in df.limit(n).collect()],
    }
