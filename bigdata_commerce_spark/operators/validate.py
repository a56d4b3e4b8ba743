"""Declarative data-quality validation (the Deequ/Great-Expectations
family): a constraint set compiled into the fewest possible passes
over the data, returning a tiny per-constraint violation report.

Not present in the reference (it has no tests and no data-quality
gates at all — SURVEY.md §5); at 100 TB a pipeline needs machine-
checkable contracts on every ingest boundary, and the way to afford
them is the compilation strategy here:

- every ROW-LEVEL check (not_null / in_range / in_set / matches /
  arbitrary boolean expression) becomes one conditional-sum column in
  a SINGLE hash aggregate — one scan total, map-side combined,
  whole-stage codegen, regardless of how many checks are declared;
- each UNIQUENESS check needs its own shuffle on its key columns
  (that is irreducible), computed as surplus rows over the grouped
  counts — never a self-join, never a window;
- the report is O(#checks) rows — nothing wide ever reaches the
  driver.

NULL semantics: a row where a check's condition evaluates to NULL
counts as a VIOLATION (the condition did not hold). Callers who want
"NULL is acceptable" say so in the condition (`col.isNull() | ...`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RowCheck:
    """A per-row predicate that every row must satisfy."""

    name: str
    kind: str
    condition: Column


@dataclass(frozen=True)
class AggCheck:
    """A constraint over an AGGREGATE of the table (mean/min/max/count
    within bounds) — rides the same single aggregate pass as the row
    checks; violations are 0 or 1 (the constraint holds or it
    doesn't). Vacuously true on an empty table."""

    name: str
    kind: str
    condition: Column


@dataclass(frozen=True)
class UniqueCheck:
    """Key columns that must identify rows uniquely."""

    name: str
    cols: tuple[str, ...]

    kind: str = "unique"


@dataclass(frozen=True)
class RefCheck:
    """Referential integrity: every non-NULL value of ``col`` must
    exist in a reference table's key column (the Deequ
    isContainedIn-table form). Needs a join, so each RefCheck adds
    one anti-join aggregate pass; the reference key side is reduced
    to DISTINCT keys and broadcast when it fits (AQE). NULLs do not
    violate — pair with not_null when they should."""

    name: str
    col: str
    ref: DataFrame
    ref_col: str

    kind: str = "in_reference"


Check = RowCheck | AggCheck | UniqueCheck | RefCheck


def not_null(col: str) -> RowCheck:
    return RowCheck(f"not_null({col})", "not_null", F.col(col).isNotNull())


def in_range(col: str, lo, hi) -> RowCheck:
    return RowCheck(
        f"in_range({col})", "in_range", F.col(col).between(F.lit(lo), F.lit(hi))
    )


def in_set(col: str, values) -> RowCheck:
    return RowCheck(f"in_set({col})", "in_set", F.col(col).isin(*values))


def matches(col: str, pattern: str) -> RowCheck:
    return RowCheck(
        f"matches({col})", "matches", F.col(col).rlike(pattern)
    )


def finite(col: str) -> RowCheck:
    """A double column carries no NaN/Inf (NULL passes — absent data
    is a not_null() concern). The gate for the decimal-exact money
    aggregates: non-finite addends NULL out in their decimal cast and
    are silently SKIPPED by money_sum/money_avg downstream, so corrupt
    upstream floats must be caught HERE, at the ingest boundary."""
    c = F.col(col)
    return RowCheck(
        f"finite({col})",
        "finite",
        c.isNull() | (~F.isnan(c) & (c != float("inf")) & (c != float("-inf"))),
    )


def satisfies(name: str, condition: Column) -> RowCheck:
    """An arbitrary boolean expression over the row (cross-column
    invariants like ship_date <= receipt_date)."""
    return RowCheck(name, "satisfies", condition)


def unique(*cols: str) -> UniqueCheck:
    return UniqueCheck(f"unique({','.join(cols)})", tuple(cols))


def in_reference(
    col: str, ref: DataFrame, ref_col: str, name: str | None = None
) -> RefCheck:
    """Every non-NULL value of ``col`` exists in ref[ref_col]
    (foreign-key containment)."""
    return RefCheck(name or f"in_reference({col})", col, ref, ref_col)


def mean_in_range(col: str, lo, hi) -> AggCheck:
    # Mean from EXACT decimal sum / count (the money_sum discipline),
    # not F.avg over doubles: a double avg is partitioning-order
    # dependent, so a mean sitting exactly on a bound could flip
    # pass/fail between runs. Totality over any numeric column, with
    # no silent shrinkage:
    # - try_cast: a value decimal(38,6) can't hold (|v| >= 1e32, NaN,
    #   infinity) becomes NULL instead of crashing the shared ANSI
    #   aggregate — and the count(col) == count(d) guard makes any
    #   such value FAIL the check loudly (a range gate must not pass
    #   by silently dropping exactly the pathological values it
    #   exists to catch);
    # - try_sum: a sum overflowing decimal(38,6) yields NULL (-> NULL
    #   condition -> violation) instead of an ANSI ARITHMETIC_OVERFLOW
    #   that would abort every co-compiled check.
    # Values are pinned to 6 decimal places by the cast; that is the
    # comparison precision.
    d = F.col(col).try_cast("decimal(38,6)")
    exact_mean = F.try_sum(d).cast("double") / F.count(d)
    return AggCheck(
        f"mean_in_range({col})",
        "mean_in_range",
        (F.count(col) == F.count(d)) & exact_mean.between(F.lit(lo), F.lit(hi)),
    )


def agg_satisfies(name: str, condition: Column) -> AggCheck:
    """Arbitrary boolean over aggregate expressions (e.g.
    ``F.max('ts') - F.min('ts') < lit(...)``)."""
    return AggCheck(name, "agg_satisfies", condition)


def validate(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Run every check, returning one report row per check:
    (check_name, kind, n_rows, n_violations, passed).

    Row checks share ONE aggregate; each unique check adds one
    grouped aggregate on its key; each referential check adds one
    anti-join pass against its reference keys. n_rows is the full row count for
    row checks and for unique checks alike (uniqueness violations =
    surplus rows beyond one per key, so passed == every key occurs
    once)."""
    if not checks:
        raise ValueError("validate() needs at least one check")
    row_checks = [c for c in checks if isinstance(c, RowCheck)]
    agg_checks = [c for c in checks if isinstance(c, AggCheck)]
    uniq_checks = [c for c in checks if isinstance(c, UniqueCheck)]
    ref_checks = [c for c in checks if isinstance(c, RefCheck)]
    seen: set[str] = set()
    for c in checks:
        if c.name in seen:
            raise ValueError(f"duplicate check name {c.name!r}")
        seen.add(c.name)

    reports: list[DataFrame] = []
    if row_checks or agg_checks:
        def _violations(c: RowCheck | AggCheck) -> Column:
            if isinstance(c, RowCheck):
                # NULL condition -> otherwise(1): evaluates-to-NULL is
                # a violation; coalesce handles the empty-input sum
                return F.coalesce(
                    F.sum(F.when(c.condition, 0).otherwise(1)), F.lit(0)
                )
            # agg check: violated -> 1; empty table -> vacuously 0
            return (
                F.when(F.count(F.lit(1)) == 0, 0).when(c.condition, 0).otherwise(1)
            )

        linear = row_checks + agg_checks
        wide = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[_violations(c).alias(f"v{i}") for i, c in enumerate(linear)],
        )
        melted = wide.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c.name).alias("check_name"),
                            F.lit(c.kind).alias("kind"),
                            F.col("n_rows").alias("n_rows"),
                            F.col(f"v{i}").cast("bigint").alias("n_violations"),
                        )
                        for i, c in enumerate(linear)
                    ]
                )
            ).alias("r")
        ).select("r.*")
        reports.append(melted)
    for c in uniq_checks:
        grouped = df.groupBy(*c.cols).agg(F.count(F.lit(1)).alias("cnt"))
        rep = grouped.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_rows"),
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("n_violations"),
        ).select(
            F.lit(c.name).alias("check_name"),
            F.lit(c.kind).alias("kind"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
        )
        reports.append(rep)

    for c in ref_checks:
        keys = c.ref.select(F.col(c.ref_col).alias("__k")).distinct()
        missing = (
            df.where(F.col(c.col).isNotNull())
            .join(keys, F.col(c.col) == F.col("__k"), "left_anti")
        )
        rep = df.agg(F.count(F.lit(1)).alias("n_rows")).crossJoin(
            missing.agg(F.count(F.lit(1)).alias("n_violations"))
        ).select(
            F.lit(c.name).alias("check_name"),
            F.lit(c.kind).alias("kind"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
        )
        reports.append(rep)

    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.withColumn("passed", F.col("n_violations") == 0)
