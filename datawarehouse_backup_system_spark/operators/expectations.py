"""Declarative data-quality expectations (Deequ-lite).

The reference validates per stage with ``{"success": bool}`` dicts and 21
ledger statuses (SURVEY §5); at warehouse scale the analog is a
declarative check suite evaluated in ONE aggregation pass over the table:

    report = run_checks(df, [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", 0, 1e7),
        matches("o_orderstatus", "^[FOP]$"),
    ])

Each check contributes a violation-count aggregate; ``run_checks``
returns a tiny (check_name, violations, n_rows, passed) report. Uniqueness is
the one check that needs its own aggregate shape (count - countDistinct).
Referential integrity (``fk_exists``) is an anti-join count, evaluated
separately since it needs the other table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    name: str
    #: aggregate expression producing the number of violating rows
    violations: Column


def not_null(col: str) -> Check:
    return Check(f"not_null({col})", F.count_if(F.col(col).isNull()))


def unique(col: str) -> Check:
    return Check(
        f"unique({col})",
        (F.count(col) - F.countDistinct(col)).cast("bigint"),
    )


def in_range(col: str, lo, hi) -> Check:
    cond = F.col(col).isNotNull() & ~F.col(col).between(lo, hi)
    return Check(f"in_range({col},{lo},{hi})", F.count_if(cond))


def matches(col: str, pattern: str) -> Check:
    cond = F.col(col).isNotNull() & ~F.col(col).rlike(pattern)
    return Check(f"matches({col})", F.count_if(cond))


def satisfies(name: str, cond: Column) -> Check:
    """Arbitrary row-level predicate that must hold. A NULL-valued
    predicate counts as a VIOLATION (review r11: count_if(~cond) skips
    NULL, so an all-NULL column sailed through 'v > 0' as passed=True;
    a check that never held on any row must not pass). Use an explicit
    ``... | col.isNull()`` in the predicate to opt NULLs out, the same
    convention in_range/matches encode with their isNotNull guards."""
    return Check(name, F.count_if(~F.coalesce(cond, F.lit(False))))


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate every check in one aggregation pass → long-format report
    (check, violations, n_rows, passed).

    The long format is built with bound literals (explode over an
    array of structs), never by splicing check names into SQL text — a
    quote or backslash in a name previously broke the generated
    ``stack(...)`` or silently altered the reported check_name
    (review r8)."""
    if not checks:
        raise ValueError("run_checks requires at least one Check")
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[c.violations.alias(f"_v{i}") for i, c in enumerate(checks)],
    )
    pairs = F.array(*[
        F.struct(
            F.lit(c.name).alias("check_name"),
            F.col(f"_v{i}").alias("violations"),
        )
        for i, c in enumerate(checks)
    ])
    return (
        agg.select(F.explode(pairs).alias("_kv"), F.col("_n"))
        .select(
            F.col("_kv.check_name").alias("check_name"),
            F.col("_kv.violations").alias("violations"),
            F.col("_n").alias("n_rows"),
        )
        .withColumn("passed", F.col("violations") == 0)
    )


def fk_exists(child: DataFrame, child_col: str, parent: DataFrame, parent_col: str) -> DataFrame:
    """Referential-integrity report: child keys with no parent (anti-join
    count — one shuffle, broadcast when the parent key set is small)."""
    orphans = (
        child.select(F.col(child_col))
        .where(F.col(child_col).isNotNull())
        .join(
            parent.select(F.col(parent_col).alias(child_col)).distinct(),
            child_col,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    return orphans.select(
        F.lit(f"fk_exists({child_col}->{parent_col})").alias("check_name"),
        "violations",
        F.lit(None).cast("bigint").alias("n_rows"),
        (F.col("violations") == 0).alias("passed"),
    )
