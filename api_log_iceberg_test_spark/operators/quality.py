"""Declarative data-quality validation (Deequ / dbt-test style).

A pipeline gate: declare row-level expectations as named boolean Column
expressions and get one violations report back. All row-level rules
compile into ONE aggregate pass over the table (conditional count per
rule — map-side combinable, so the scan is shared no matter how many
rules run); dataset-level rules (uniqueness, referential integrity)
compose as their natural aggregate/anti-join counts and union into the
same report.

Scale: N row rules = 1 scan + one |rules|-row result. Uniqueness adds one
distinct-count over the key column; referential integrity one anti-join
that shuffles only the key — all independent of rule count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_rows(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One-pass row-level validation: ``rules`` maps rule name → a boolean
    Column that must hold for every row. Returns (rule, n_violations,
    passed) — one row per rule, computed in a single aggregate."""
    aggs = [
        F.count(F.when(~cond, True)).alias(name) for name, cond in rules.items()
    ]
    wide = df.agg(*aggs)
    stacked = ", ".join(f"'{name}', {name}" for name in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {stacked}) AS (rule, n_violations)"
    ).select("rule", "n_violations", (F.col("n_violations") == 0).alias("passed"))


def check_unique(df: DataFrame, key: str) -> DataFrame:
    """Duplicate-key count as a report row (COUNT − COUNT DISTINCT)."""
    name = f"unique_{key}"
    return df.agg(
        (F.count(key) - F.count_distinct(F.col(key))).alias("n_violations")
    ).select(
        F.lit(name).alias("rule"),
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def check_referential(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
) -> DataFrame:
    """Orphaned-foreign-key count via anti-join (keys only shuffle)."""
    name = f"fk_{child_key}"
    orphans = child.select(F.col(child_key).alias("_k")).join(
        parent.select(F.col(parent_key).alias("_k")), "_k", "left_anti"
    )
    return orphans.agg(F.count(F.lit(1)).alias("n_violations")).select(
        F.lit(name).alias("rule"),
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
