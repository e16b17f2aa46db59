"""Declarative data expectations — one-pass validation for ingest gates.

The reference enforces integrity with Postgres constraints
(`/root/reference/etl/sql/create_tables.sql`: PKs, FKs, NOT NULL);
operators/quality.py reproduces those. This module generalizes them to
the rule kinds a training-data pipeline actually gates on (null rate,
domain membership, numeric range, format regex, uniqueness) in the
Great-Expectations style, but executed the Spark-native way:

  - every row-level rule compiles to one conditional-SUM expression, so
    ALL rules run in a SINGLE aggregate pass over the table (one scan,
    map-side combinable, no matter how many rules);
  - uniqueness compiles to count - approx/count_distinct in the same
    pass (exact by default);
  - the result is a tiny (rule, violations) frame — melt of the one
    aggregate row — suitable for gating a batch promote (sinks/staged.py)
    or alerting.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


@dataclass(frozen=True)
class Expect:
    """One rule. kind ∈ {not_null, in_set, between, matches, unique}."""

    column: str
    kind: str
    params: tuple = field(default=())

    @property
    def name(self) -> str:
        return f"{self.column}:{self.kind}"


def _violation_expr(e: Expect):
    c = F.col(e.column)
    if e.kind == "not_null":
        cond = c.isNull()
    elif e.kind == "in_set":
        cond = c.isNotNull() & ~c.isin(list(e.params))
    elif e.kind == "between":
        lo, hi = e.params
        cond = c.isNotNull() & ((c < lo) | (c > hi))
    elif e.kind == "matches":
        (pattern,) = e.params
        cond = c.isNotNull() & ~c.rlike(pattern)
    else:
        raise ValueError(f"unknown expectation kind {e.kind!r}")
    return F.sum(cond.cast("long"))


def check_expectations(df: DataFrame, rules: list[Expect]) -> DataFrame:
    """(rule, violations, passed) per rule — ONE aggregate job for any
    number of rules."""
    aggs = []
    for e in rules:
        if e.kind == "unique":
            expr = F.count(F.col(e.column)) - F.count_distinct(F.col(e.column))
        else:
            expr = _violation_expr(e)
        aggs.append(expr.alias(e.name))
    one = df.agg(*aggs)
    melted = one.select(
        F.expr(
            "stack({n}, {args}) as (rule, violations)".format(
                n=len(rules),
                args=", ".join(f"'{e.name}', `{e.name}`" for e in rules),
            )
        )
    )
    return melted.select(
        "rule",
        F.coalesce("violations", F.lit(0)).alias("violations"),
        (F.coalesce("violations", F.lit(0)) == 0).alias("passed"),
    )

