"""Declarative data-quality constraints — one-pass ingest validation.

A 100 TB pipeline gates every ingest on a constraint suite (the
Deequ / dbt-test pattern): nulls, uniqueness, value domains, ranges,
referential integrity, freshness. The reference validates by
previewing (SURVEY.md §2.12 preview-validate); this module is the
production form of that idea: constraints DECLARED as data, compiled
into the fewest possible Spark jobs, violations REPORTED as a frame
(never an exception mid-job), detail rows retrievable per rule.

Spark-first compilation strategy — the part that matters at scale:

- every ROW-LOCAL rule (not_null / accepted_values / in_range /
  matches_regex / satisfies) compiles to one conditional-count
  aggregate, and ALL of them fold into a SINGLE scan of the table
  (one partial+final agg, no shuffle of data rows — the plan is one
  pass however many rules you declare);
- ``unique`` needs its own groupBy exchange on the key columns
  (count>1 groups), one per distinct key set;
- ``referential`` needs one join per foreign key (a LEFT join against
  the marked distinct dimension keys, so orphan count and checked
  count come from the same pass), built broadcast when the dimension
  is broadcastable.

So a 12-rule suite over a fact table costs one scan + one exchange
per uniqueness key + one join per FK — not 12 scans (self-review
r14 made this literal: the violations/checked pair for unique and
referential used to be two separate aggregations, i.e. two fact
scans per rule).

All outputs are exact integers (violations, checked) — the report is
oracle-certifiable value-for-value.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Rule:
    name: str
    kind: str
    col: str | None = None
    payload: dict = field(default_factory=dict)


def not_null(col: str, name: str | None = None) -> Rule:
    return Rule(name or f"not_null({col})", "not_null", col)


def accepted_values(col: str, values: list, name: str | None = None) -> Rule:
    """NULL is not a violation here — compose with not_null to forbid
    it (the dbt accepted_values convention)."""
    return Rule(
        name or f"accepted_values({col})", "accepted_values", col,
        {"values": list(values)},
    )


def in_range(col: str, lo, hi, name: str | None = None) -> Rule:
    """Closed interval; NULL is not a violation (compose with
    not_null)."""
    return Rule(name or f"in_range({col})", "in_range", col, {"lo": lo, "hi": hi})


def matches_regex(col: str, pattern: str, name: str | None = None) -> Rule:
    return Rule(
        name or f"matches_regex({col})", "matches_regex", col,
        {"pattern": pattern},
    )


def satisfies(predicate_sql: str, name: str) -> Rule:
    """Arbitrary row-local SQL predicate that every row must satisfy;
    rows where it is NULL or false violate."""
    return Rule(name, "satisfies", None, {"predicate": predicate_sql})


def unique(cols: list[str] | str, name: str | None = None) -> Rule:
    cols = [cols] if isinstance(cols, str) else list(cols)
    return Rule(
        name or f"unique({','.join(cols)})", "unique", None, {"cols": cols}
    )


def referential(
    fk_col: str, dim: DataFrame, pk_col: str, name: str | None = None,
    broadcast_dim: bool = True,
) -> Rule:
    """Every non-NULL fk value must exist in dim.pk (orphans violate;
    NULL fks are not violations — compose with not_null).
    ``broadcast_dim`` hints the anti-join (the common
    dimension-table case); pass False for a dimension too large to
    broadcast — the check becomes a shuffle anti-join."""
    return Rule(
        name or f"referential({fk_col})", "referential", fk_col,
        {"dim": dim, "pk": pk_col, "broadcast": bool(broadcast_dim)},
    )


def _violation_expr(rule: Rule) -> Column:
    """Row-local rules → a 0/1 violation flag column."""
    c = F.col(rule.col) if rule.col else None
    if rule.kind == "not_null":
        bad = c.isNull()
    elif rule.kind == "accepted_values":
        bad = c.isNotNull() & ~c.isin(rule.payload["values"])
    elif rule.kind == "in_range":
        bad = c.isNotNull() & (
            (c < F.lit(rule.payload["lo"])) | (c > F.lit(rule.payload["hi"]))
        )
    elif rule.kind == "matches_regex":
        bad = c.isNotNull() & ~c.rlike(rule.payload["pattern"])
    elif rule.kind == "satisfies":
        bad = ~F.coalesce(F.expr(rule.payload["predicate"]), F.lit(False))
    else:  # pragma: no cover - guarded by dq_check dispatch
        raise ValueError(f"not a row-local rule: {rule.kind}")
    return F.sum(F.when(bad, 1).otherwise(0)).cast("bigint")


_ROW_LOCAL = {"not_null", "accepted_values", "in_range", "matches_regex", "satisfies"}


def dq_check(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate the suite → (rule, violations, checked) one row per
    rule, in declaration order's sort (ordered by rule name for a
    stable output). checked = table row count for row-local and
    unique rules, non-NULL fk count for referential. Compiles to:
    one scan for ALL row-local rules + one exchange per unique rule
    + one anti-join per referential rule (see module docstring)."""
    if not rules:
        raise ValueError("dq_check: empty rule list")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError("dq_check: duplicate rule names")
    if any("'" in n or '"' in n for n in names):
        raise ValueError("dq_check: rule names must not contain quotes")
    parts: list[DataFrame] = []

    row_local = [r for r in rules if r.kind in _ROW_LOCAL]
    if row_local:
        aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")] + [
            _violation_expr(r).alias(f"_v{i}") for i, r in enumerate(row_local)
        ]
        wide = df.agg(*aggs)
        stacked = ", ".join(
            f"'{r.name}', _v{i}" for i, r in enumerate(row_local)
        )
        parts.append(
            wide.selectExpr(
                f"stack({len(row_local)}, {stacked}) AS (rule, violations)",
                "_n AS checked",
            ).select("rule", F.coalesce("violations", F.lit(0)).cast("bigint").alias("violations"), "checked")
        )

    for r in rules:
        if r.kind == "unique":
            # ONE scan + one exchange (self-review r14: the previous
            # violations-aggregate + separate row-count crossJoin
            # scanned the fact table twice per unique rule — the
            # docstring's cost model said once): both numbers fold
            # over the SAME grouped frame, since Σ_c = row count and
            # Σ_c over duplicated groups = violations.
            g = df.groupBy(*r.payload["cols"]).agg(
                F.count(F.lit(1)).alias("_c")
            )
            both = g.agg(
                F.coalesce(
                    F.sum(F.when(F.col("_c") > 1, F.col("_c"))), F.lit(0)
                ).cast("bigint").alias("violations"),
                F.coalesce(F.sum("_c"), F.lit(0)).cast("bigint").alias("checked"),
            )
            parts.append(
                both.select(F.lit(r.name).alias("rule"), "violations", "checked")
            )
        elif r.kind == "referential":
            # ONE fk scan (self-review r14, same defect class): the
            # anti-join count + separate fk count scanned the fact
            # table twice per FK rule. A left join against the marked
            # dimension keys yields both counts in one pass — an
            # unmatched fk is an orphan, every row is checked.
            fk = df.select(r.col).filter(F.col(r.col).isNotNull())
            dim_keys = (
                r.payload["dim"]
                .select(F.col(r.payload["pk"]).alias(r.col))
                .distinct()
                .withColumn("_hit", F.lit(1))
            )
            if r.payload.get("broadcast", True):
                dim_keys = F.broadcast(dim_keys)
            both = fk.join(dim_keys, r.col, "left").agg(
                F.coalesce(
                    F.sum(F.when(F.col("_hit").isNull(), 1)), F.lit(0)
                ).cast("bigint").alias("violations"),
                F.count(F.lit(1)).cast("bigint").alias("checked"),
            )
            parts.append(
                both.select(F.lit(r.name).alias("rule"), "violations", "checked")
            )
        elif r.kind not in _ROW_LOCAL:
            raise ValueError(f"dq_check: unknown rule kind {r.kind!r}")

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("rule")


def dq_violation_rows(df: DataFrame, rule: Rule, limit: int = 100) -> DataFrame:
    """Detail drill-down: the offending rows for one rule (row-local
    and referential kinds; unique returns the duplicated key groups
    with their multiplicities). Capped — detail is for triage, the
    counts in dq_check are the gate."""
    if rule.kind in _ROW_LOCAL:
        c = F.col(rule.col) if rule.col else None
        if rule.kind == "not_null":
            pred = c.isNull()
        elif rule.kind == "accepted_values":
            pred = c.isNotNull() & ~c.isin(rule.payload["values"])
        elif rule.kind == "in_range":
            pred = c.isNotNull() & (
                (c < F.lit(rule.payload["lo"])) | (c > F.lit(rule.payload["hi"]))
            )
        elif rule.kind == "matches_regex":
            pred = c.isNotNull() & ~c.rlike(rule.payload["pattern"])
        else:
            pred = ~F.coalesce(F.expr(rule.payload["predicate"]), F.lit(False))
        return df.filter(pred).limit(limit)
    if rule.kind == "unique":
        cols = rule.payload["cols"]
        return (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).cast("bigint").alias("multiplicity"))
            .filter(F.col("multiplicity") > 1)
            .orderBy(F.desc("multiplicity"), *cols)
            .limit(limit)
        )
    if rule.kind == "referential":
        dim_keys = (
            rule.payload["dim"]
            .select(F.col(rule.payload["pk"]).alias(rule.col))
            .distinct()
        )
        if rule.payload.get("broadcast", True):
            dim_keys = F.broadcast(dim_keys)
        return (
            df.filter(F.col(rule.col).isNotNull())
            .join(dim_keys, rule.col, "left_anti")
            .limit(limit)
        )
    raise ValueError(f"dq_violation_rows: unknown rule kind {rule.kind!r}")


def replay_quarantine(
    spark,
    quarantine_path: str,
    rules_factory,
    clean_path: str,
    report_path: str,
    epoch_col: str = "_epoch",
):
    """The quarantine's way OUT — without it the dq gate is a
    dead-letter queue. After the upstream defect is fixed (source
    repaired, rule corrected via ``rules_factory``), re-evaluate each
    quarantined epoch in isolation: epochs that now pass move to
    clean/ (appended with their original epoch stamp, so downstream
    epoch-dedup readers treat them exactly like first-time arrivals);
    epochs that still violate STAY — replay never discards evidence.
    A re-verdict row per epoch/rule appends to the report either way.

    Idempotent by the readers' epoch-dedup convention: a crash after
    the clean append but before quarantine rewrite leaves the epoch
    in both places, and epoch-keyed readers take one copy; the next
    replay re-moves nothing (it re-passes, re-appends the same rows,
    and the rewrite completes). Returns (epochs_released,
    epochs_retained)."""
    from pyspark.sql import functions as F

    try:
        quarantined = spark.read.parquet(quarantine_path)
    except Exception:
        return (0, 0)
    ep_type = quarantined.schema[epoch_col].dataType
    vals = {r[0] for r in quarantined.select(epoch_col).distinct().collect()}
    # NULL-stamped rows (a sink that forgot the epoch) are their own
    # batch, LAST — and every filter below is null-safe: a plain
    # isin()/== on a NULL epoch evaluates to NULL, which once upon a
    # time would have silently dropped EVERY row from the rewrite and
    # wiped the quarantine (the evidence the docstring promises never
    # to discard).
    epochs: list = sorted(vals - {None})
    if None in vals:
        epochs.append(None)
    released, retained = [], []
    for ep in epochs:
        pred = (
            F.col(epoch_col).isNull() if ep is None else F.col(epoch_col) == ep
        )
        batch = quarantined.filter(pred).drop(epoch_col)
        batch = batch.localCheckpoint(eager=True)
        stamp = F.lit(ep).cast(ep_type)
        report = dq_check(batch, rules_factory(batch)).withColumn(
            epoch_col, stamp
        ).withColumn("_replay", F.lit("true"))
        report = report.localCheckpoint(eager=True)
        n_bad = report.filter(F.col("violations") > 0).count()
        # ONE report layout shared with the streaming gate (ADVICE
        # r12): partitioned by (epoch, _replay) with _replay a string
        # partition value — the gate writes (_epoch=N, _replay=false),
        # replay writes (_epoch=N, _replay=true), so the two dynamic
        # overwrites touch disjoint partitions: a stream replay of the
        # epoch can't wipe re-verdicts, a re-run of THIS replay
        # idempotently rewrites its own re-verdict instead of
        # appending a duplicate, and no partition ever mixes schemas.
        report.coalesce(1).write.option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").partitionBy(epoch_col, "_replay").parquet(report_path)
        if n_bad:
            retained.append(ep)
        else:
            batch.withColumn(epoch_col, stamp).write.mode("append").partitionBy(
                epoch_col
            ).parquet(clean_path)
            released.append(ep)
        # free this epoch's checkpoints before the next iteration
        # (self-review r14): both frames are fully consumed by the
        # writes above, and without the release a long quarantine
        # pins every epoch's full batch in executor storage for the
        # session (the RDD handle, not DataFrame.unpersist, frees
        # localCheckpoint blocks)
        from data_pengadaan_agent_spark.operators.graph import (
            _release_local_checkpoint,
        )

        _release_local_checkpoint(report)
        _release_local_checkpoint(batch)
    if released:
        # raw collected epoch values, NOT int()-coerced (ADVICE r11:
        # string/timestamp epoch columns were already read fine above;
        # coercing here crashed the one type-specific line)
        non_null = [e for e in released if e is not None]
        keep_nonnull = (
            ~F.col(epoch_col).isin(non_null) if non_null else F.lit(True)
        )
        cond = (F.col(epoch_col).isNotNull() & keep_nonnull) | (
            F.col(epoch_col).isNull() & F.lit(None not in released)
        )
        keep = quarantined.filter(cond).localCheckpoint(eager=True)
        keep.write.mode("overwrite").partitionBy(epoch_col).parquet(
            quarantine_path
        )
    return (len(released), len(retained))
