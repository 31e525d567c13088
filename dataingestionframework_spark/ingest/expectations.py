"""Declarative data-quality expectations over a DataFrame.

The reference validates CONFIG (JSON-Schema, header ids — C1/C2) and
quarantines structurally corrupt records (T6); this adds the missing
third layer a production ingestion framework needs: RULE-level checks
on the data itself (not-null, unique, range, set membership, regex) —
the Great-Expectations/dbt-test shape, Spark-first.

All rules evaluate in ONE wide aggregate (a single job whatever the
rule count; at 100 TB per-rule queries would each rescan the table).
``unique`` is count - countDistinct over non-null values: 0 extras ⇔
no duplicated value. The 1-row result pivots driver-side into one
report row per rule.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """One rule: ``kind`` ∈ not_null | unique | between | in_set | matches."""

    name: str
    column: str
    kind: str
    lo: float | None = None
    hi: float | None = None
    allowed: tuple = field(default=())
    pattern: str | None = None

    def _fail_agg(self) -> Column:
        c = F.col(self.column)
        if self.kind == "not_null":
            bad = c.isNull()
        elif self.kind == "unique":
            return (F.count(c) - F.countDistinct(c)).alias(self.name)
        elif self.kind == "between":
            bad = ~c.between(self.lo, self.hi)
        elif self.kind == "in_set":
            bad = ~c.isin(*self.allowed)
        elif self.kind == "matches":
            bad = ~c.rlike(self.pattern)
        else:
            raise ValueError(f"unknown expectation kind {self.kind!r}")
        return F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias(self.name)


def evaluate(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Evaluate every rule in one aggregate pass.

    Output: (rule, column, kind, n_rows, n_failed, passed) per rule.
    """
    row = df.agg(
        F.count(F.lit(1)).alias("__n"), *[e._fail_agg() for e in expectations]
    ).first()
    n = row["__n"]
    out = [
        # an aggregate over ZERO rows yields NULL, not 0: zero rows
        # contain zero violations, so every rule passes vacuously
        (e.name, e.column, e.kind, n, int(row[e.name] or 0),
         int(row[e.name] or 0) == 0)
        for e in expectations
    ]
    return df.sparkSession.createDataFrame(
        out,
        "rule string, column string, kind string, n_rows long, "
        "n_failed long, passed boolean",
    )


def row_violation(e: Expectation, c: Column | None = None) -> Column:
    """Boolean column: this row violates ``e``, evaluated on ``c``
    (default: the rule's own column). Aggregate-level kinds
    (``unique``) have no row predicate — ValueError."""
    c = F.col(e.column) if c is None else c
    if e.kind == "not_null":
        return c.isNull()
    if e.kind == "between":
        return ~F.coalesce(c.between(e.lo, e.hi), F.lit(True))
    if e.kind == "in_set":
        return ~F.coalesce(c.isin(*e.allowed), F.lit(True))
    if e.kind == "matches":
        return ~F.coalesce(c.rlike(e.pattern), F.lit(True))
    raise ValueError(f"expectation kind {e.kind!r} has no row-level predicate")


def row_rules(expectations: list[Expectation]) -> list[Expectation]:
    """The rules with a row-level predicate (all but ``unique``)."""
    return [e for e in expectations if e.kind != "unique"]


def any_violation(rules: list[Expectation], col_of=lambda e: F.col(e.column)) -> Column:
    """Boolean column: the row breaks at least one of the row-level
    ``rules``, each evaluated on ``col_of(rule)``. The one predicate
    :func:`split_valid` routes by and :func:`violation_count` counts."""
    return reduce(operator.or_, [row_violation(e, col_of(e)) for e in rules])


def violation_count(expectations: list[Expectation], exprs: dict[str, str]) -> Column:
    """Aggregate: rows breaking any row-level rule, for observing on a
    frame the rules' columns are not yet projected on. ``exprs`` maps
    a rule's column to the SQL expression that will produce it (a
    column it does not name is read as is), so the count agrees with
    :func:`split_valid` on the projected frame."""
    return F.count_if(any_violation(
        row_rules(expectations),
        lambda e: F.expr(exprs[e.column]) if e.column in exprs else F.col(e.column),
    ))


def split_valid(
    df: DataFrame, expectations: list[Expectation]
) -> tuple[DataFrame, DataFrame]:
    """Route rows by the row-level rules: (valid, violations).

    Violations carry ``_failed_rules`` (comma-joined rule names) for
    the quarantine record. Aggregate-level rules (``unique``) are
    skipped here — run them via :func:`evaluate` as a batch verdict.
    NULL values only fail ``not_null`` (range/set/regex rules treat
    NULL as not-applicable, matching SQL three-valued logic).
    """
    rules = row_rules(expectations)
    if not rules:
        return df, df.limit(0).withColumn("_failed_rules", F.lit(""))
    flags = [(e.name, row_violation(e)) for e in rules]
    failed = F.concat_ws(
        ",", *[F.when(bad, F.lit(name)) for name, bad in flags]
    )
    any_bad = any_violation(rules)
    viol = df.filter(any_bad).withColumn("_failed_rules", failed)
    return df.filter(~any_bad), viol
