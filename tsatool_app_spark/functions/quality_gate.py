"""Declarative data-quality gates: constraint checks with quarantine.

Every production ingest needs the Delta-constraint / dbt-test shape: a
rule set evaluated per row, valid rows flowing on, violating rows
quarantined WITH the reason (for replay after upstream fixes). The
reference's equivalent is the hand-rolled NULL/range cleansing in its
loader (SURVEY.md §2.2 P4); this generalizes it to a rule list compiled
into ONE Column expression — a scan-speed filter, no UDF, no shuffle, one
pass for both outputs when the caller writes good/bad from the same
cached scan (or two pushdown-filtered scans otherwise, still no wide op).

Rules are (name, Column-predicate) pairs; a row's ``violations`` array
holds the names of every failed rule (not just the first), so quarantine
triage can aggregate by reason.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null(col: str) -> tuple[str, Column]:
    return (f"{col}_not_null", F.col(col).isNotNull())


def in_range(col: str, lo, hi) -> tuple[str, Column]:
    """NULL-tolerant range rule (pair with not_null to also reject NULLs —
    a NULL passes the range rule, SQL three-valued style)."""
    return (
        f"{col}_in_range",
        F.col(col).isNull() | F.col(col).between(F.lit(lo), F.lit(hi)),
    )


def matches(col: str, pattern: str) -> tuple[str, Column]:
    """NULL-tolerant regex rule (java∩RE2 subset for oracle portability)."""
    return (
        f"{col}_matches",
        F.col(col).isNull() | F.col(col).rlike(pattern),
    )


def check_constraints(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Annotate every row with its failed-rule names: adds ``violations``
    (array<string>, empty = clean) and ``is_valid``."""
    viol = F.array_compact(
        F.array(
            *[F.when(~pred, F.lit(name)) for name, pred in rules]
        )
    )
    return df.withColumn("violations", viol).withColumn(
        "is_valid", F.size("violations") == 0
    )


def fd_violations(
    df: DataFrame,
    lhs: list[str],
    rhs: list[str],
) -> DataFrame:
    """Functional-dependency check: LHS value combinations that map to
    MORE than one distinct RHS combination — the data-quality question
    behind every "key" that isn't enforced anywhere ("order line →
    part", "station → name").  Returns (lhs..., n_rhs_variants, n_rows)
    for violating LHS values only; empty result ⇒ the FD holds.

    One hash aggregate; countDistinct over a struct of the RHS columns
    keeps multi-column dependencies exact (NULLs compare as values
    inside the struct, so NULL vs 'x' counts as two variants)."""
    rhs_struct = F.struct(*[F.col(c) for c in rhs])
    return (
        df.groupBy(*lhs)
        .agg(
            F.countDistinct(rhs_struct).cast("long").alias("n_rhs_variants"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .where(F.col("n_rhs_variants") > 1)
        .orderBy(*lhs)
    )
