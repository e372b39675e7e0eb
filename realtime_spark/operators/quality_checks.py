"""Declarative data-quality constraint checking (Deequ-style, Schelter et
al. VLDB'18 "Automating Large-Scale Data Quality Verification"): a
constraint suite compiles to ONE aggregation pass per table — every
completeness/uniqueness/range/set/pattern check is a conditional-count
expression inside the same groupBy().agg(), so auditing a 100 TB table
costs a single scan + one partial-agg reduce, not one job per rule.
Referential-integrity checks are the exception (they need the dimension
side) and compile to a broadcast anti-join count each.

Output is long-format: (table, constraint, kind, violations, total, ok) —
exact integers, so the suite is oracle-checkable row for row.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    name: str
    kind: str
    # violation predicate: rows where the constraint is broken
    violated: Column | None = None
    # uniqueness checks carry their column here — the display name is a
    # label, not data (slicing it would break on any custom name)
    column: str | None = None


def not_null(col: str) -> Check:
    return Check(f"not_null({col})", "completeness", F.col(col).isNull())


def in_range(col: str, lo, hi) -> Check:
    return Check(
        f"range({col},[{lo},{hi}])",
        "validity",
        F.col(col).isNull() | (F.col(col) < lo) | (F.col(col) > hi),
    )


def in_set(col: str, values) -> Check:
    return Check(
        f"in_set({col})",
        "validity",
        ~F.col(col).isin(list(values)) | F.col(col).isNull(),
    )


def matches(col: str, pattern: str) -> Check:
    return Check(
        f"matches({col})",
        "validity",
        F.col(col).isNull() | ~F.col(col).rlike(pattern),
    )


def unique(col: str) -> Check:
    # evaluated via a dedicated agg (needs a distinct), flagged by kind
    return Check(f"unique({col})", "uniqueness", column=col)


def run_checks(
    df: DataFrame, table: str, checks: list[Check]
) -> DataFrame:
    """Evaluate all row-local checks in ONE aggregation pass; uniqueness
    checks add count_distinct aggregates to the same pass (Spark computes
    them with an expand, still one scan). Returns the long-format audit
    frame."""
    aggs = [F.count(F.lit(1)).alias("_total")]
    names: list[tuple[str, str]] = []
    for c in checks:
        if c.kind == "uniqueness":
            if c.column is None:
                raise ValueError(f"uniqueness check {c.name!r} needs column=")
            col = c.column
            aggs.append(
                (F.count(col) - F.countDistinct(col)).alias(f"_v_{c.name}")
            )
        else:
            # coalesce: SUM over an empty (but valid) table is NULL, and a
            # NULL ok would read as an audit FAILURE downstream
            aggs.append(
                F.coalesce(
                    F.sum(F.when(c.violated, 1).otherwise(0)), F.lit(0)
                ).alias(f"_v_{c.name}")
            )
        names.append((c.name, c.kind))
    row = df.agg(*aggs)
    pairs = []
    for name, kind in names:
        pairs.append(
            F.struct(
                F.lit(table).alias("table_name"),
                F.lit(name).alias("constraint"),
                F.lit(kind).alias("kind"),
                F.col(f"`_v_{name}`").cast("bigint").alias("violations"),
                F.col("_total").cast("bigint").alias("total"),
                (F.col(f"`_v_{name}`") == 0).alias("ok"),
            )
        )
    return row.select(F.explode(F.array(*pairs)).alias("r")).select("r.*")


def referential_check(
    child: DataFrame,
    parent: DataFrame,
    child_col: str,
    parent_col: str,
    child_table: str,
) -> DataFrame:
    """FK integrity: child keys with no parent (broadcast anti-join when
    the parent is dim-sized; AQE decides otherwise). One audit row.
    SQL FK semantics: a NULL child key references nothing and is NOT a
    violation (the anti-join would otherwise count every optional-FK row
    as an orphan)."""
    orphans = child.filter(F.col(child_col).isNotNull()).join(
        parent.select(F.col(parent_col).alias(child_col)).distinct(),
        child_col,
        "left_anti",
    )
    total = child.agg(F.count(F.lit(1)).alias("t"))
    return (
        orphans.agg(F.count(F.lit(1)).alias("violations"))
        .crossJoin(total)
        .select(
            F.lit(child_table).alias("table_name"),
            F.lit(f"fk({child_col}->{parent_col})").alias("constraint"),
            F.lit("referential").alias("kind"),
            F.col("violations").cast("bigint").alias("violations"),
            F.col("t").cast("bigint").alias("total"),
            (F.col("violations") == 0).alias("ok"),
        )
    )


def k_anonymity(df: DataFrame, quasi_cols: list[str]) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns (Sweeney 2002): a
    released dataset is k-anonymous iff every quasi-identifier combination
    matches >= k rows. Returns per-combination group sizes for groups
    BELOW k = 5 (the re-identification risks a release gate must suppress or
    generalize), plus each group's size — empty result == k-anonymous.

    Scale shape: one map-side-combined groupBy on the quasi columns; the
    audit of a 100 TB release costs one partial-agg shuffle keyed by the
    quasi tuple. Output: (*quasi_cols, group_size).
    """
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < 5)
    )


def k_anonymity_summary(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """One-row release report: total groups, risky groups (<k), rows at
    risk, and the minimum group size (the dataset's actual anonymity k)."""
    groups = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("g"))
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("g") < k, 1).otherwise(0))
        .cast("bigint")
        .alias("risky_groups"),
        F.sum(F.when(F.col("g") < k, F.col("g")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.min("g").cast("bigint").alias("anonymity_k"),
    )
