"""Single-pass sufficient-statistics operators: pairwise Pearson
correlation and per-key OLS trend lines.

Both reduce to sums (n, Σx, Σy, Σx², Σy², Σxy) and derive the
statistic from the closed form — the textbook sufficient-statistics
factoring that MLlib's Statistics.corr and SQL's regr_slope use
internally, re-expressed as plain DataFrame aggregates so the result
is oracle-checkable and the plan is ONE hash aggregate.

Scale shape: `corr_matrix` aggregates every pair's six sums in a
single scan — the agg row widens with O(pairs) columns but the scan
count stays 1 and every partial combines map-side; the output is
pairs-many rows from one result row (a map lookup + explode over a
constant-length pair list, no shuffle). `trend_per_key` is one
grouped aggregate on the key; the closed-form slope/intercept ride
the same agg row. Neither operator materializes an intermediate per
observation.

Determinism discipline: the sums are DECIMAL (exact, order- and
partitioning-independent); the final statistic is a fixed sequence
of double ops on those exact sums, rounded to a declared precision —
so the same value bit-matches across engines (the money_sum / z-score
discipline used across the package). Pairwise NULL handling is
complete-observations per pair: a row contributes to (x, y) only
when BOTH are non-null, tracked by a per-pair conditional count.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "corr_matrix",
    "corr_sums",
    "corr_from_sums",
    "corr_state_measures",
    "trend_per_key",
    "trend_sums",
    "trend_from_sums",
    "TREND_STATE_MEASURES",
]

# (18,6): products land at decimal(37,12) <= the 38-digit cap in BOTH
# Spark and DuckDB, so Σx², Σxy stay exact end-to-end (a (38,8) cast
# would overflow the product type and silently lose exactness). The
# implied domain bound — |value| < 1e12, 6 fractional digits — covers
# the metric columns these operators profile.
_DEC = "decimal(18,6)"


def _pair_sums(x: str, y: str, tag: str) -> list[Column]:
    both = F.col(x).isNotNull() & F.col(y).isNotNull()
    xv = F.when(both, F.col(x).cast(_DEC))
    yv = F.when(both, F.col(y).cast(_DEC))
    return [
        F.count(F.when(both, F.lit(1))).alias(f"__n_{tag}"),
        F.sum(xv).alias(f"__sx_{tag}"),
        F.sum(yv).alias(f"__sy_{tag}"),
        F.sum(xv * xv).alias(f"__sxx_{tag}"),
        F.sum(yv * yv).alias(f"__syy_{tag}"),
        F.sum(xv * yv).alias(f"__sxy_{tag}"),
    ]


def _corr_from_sums(tag: str, round_dp: int) -> Column:
    n = F.col(f"__n_{tag}").cast("double")
    sx = F.col(f"__sx_{tag}").cast("double")
    sy = F.col(f"__sy_{tag}").cast("double")
    sxx = F.col(f"__sxx_{tag}").cast("double")
    syy = F.col(f"__syy_{tag}").cast("double")
    sxy = F.col(f"__sxy_{tag}").cast("double")
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    # greatest(..., 0): the exact decimal sums make vx/vy >= 0
    # mathematically; the double cast can land a constant column a
    # hair negative — clamp deterministically before sqrt
    denom = F.sqrt(F.greatest(vx, F.lit(0.0))) * F.sqrt(F.greatest(vy, F.lit(0.0)))
    return F.when(
        (F.col(f"__n_{tag}") > 1) & (denom > 0), F.round(cov / denom, round_dp)
    )


def corr_sums(df: DataFrame, cols: list[str]) -> DataFrame:
    """Every pair's six sufficient sums in ONE scan / ONE ungrouped
    aggregate — MERGEABLE partial state (all counts and sums), so a
    maintained correlation matrix refreshes from a delta scan via
    incremental_agg.merge_partials(…, corr_state_measures(cols),
    keys=[]); finalize with corr_from_sums."""
    if len(cols) < 2:
        raise ValueError(f"corr needs >= 2 columns, got {cols!r}")
    aggs: list[Column] = []
    for i, (x, y) in enumerate(combinations(cols, 2)):
        aggs.extend(_pair_sums(x, y, str(i)))
    return df.agg(*aggs)


def corr_state_measures(cols: list[str]) -> dict:
    """incremental_agg MeasureSpec for a corr_sums state row: the
    conditional counts merge by addition like the sums."""
    out: dict = {}
    for i in range(len(list(combinations(cols, 2)))):
        out[f"__n_{i}"] = ("count", None)
        for part in ("sx", "sy", "sxx", "syy", "sxy"):
            out[f"__{part}_{i}"] = ("sum", f"__{part}_{i}")
    return out


def corr_from_sums(sums: DataFrame, cols: list[str]) -> DataFrame:
    """Derive (col_x, col_y, n_pairs, corr) rows from a corr_sums
    state row — a pure projection over one row."""
    pairs = list(combinations(cols, 2))
    rows = F.array(
        *[
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col(f"__n_{i}").alias("n_pairs"),
                _corr_from_sums(str(i), 6).alias("corr"),
            )
            for i, (x, y) in enumerate(pairs)
        ]
    )
    # one result row -> pairs-many rows; the explode runs over a
    # constant-length in-row array, not over data
    return sums.select(F.explode(rows).alias("p")).select("p.*")


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation over ``cols`` in ONE scan/ONE
    aggregate: (col_x, col_y, n_pairs, corr) for every unordered pair
    in input order, complete-observations per pair. A pair with fewer
    than 2 complete rows or a zero-variance side has no defined
    correlation — corr NULL."""
    return corr_from_sums(corr_sums(df, cols), cols)


# Merge spec for trend_sums partial state, in the
# incremental_agg.merge_partials MeasureSpec shape: count/sums add,
# the t-range bounds fold with min/max. Every trend statistic derives
# from this state, so a materialized per-key trend refreshes from a
# delta scan alone (incremental_agg's self-maintainability contract).
TREND_STATE_MEASURES = {
    "__n": ("count", None),
    "__st": ("sum", "__st"),
    "__sy": ("sum", "__sy"),
    "__stt": ("sum", "__stt"),
    "__syy": ("sum", "__syy"),
    "__sty": ("sum", "__sty"),
    "__tmin": ("min", "__tmin"),
    "__tmax": ("max", "__tmax"),
}


def trend_sums(
    df: DataFrame, key_col: str, t_col: str, value_col: str
) -> DataFrame:
    """Per-key sufficient sums for the OLS fit, in MERGEABLE
    partial-state form: count + five exact decimal sums + the t-range
    bounds. The degenerate-t guard rides min/max (tmin != tmax ⟺ ≥2
    distinct t — exact, mergeable, and cheaper than the COUNT(
    DISTINCT) expand it replaces). Store this table and refresh it
    with incremental_agg.merge_partials(…, TREND_STATE_MEASURES);
    finalize with trend_from_sums."""
    both = F.col(t_col).isNotNull() & F.col(value_col).isNotNull()
    tv = F.when(both, F.col(t_col).cast(_DEC))
    yv = F.when(both, F.col(value_col).cast(_DEC))
    return df.groupBy(key_col).agg(
        F.count(F.when(both, F.lit(1))).alias("__n"),
        F.sum(tv).alias("__st"),
        F.sum(yv).alias("__sy"),
        F.sum(tv * tv).alias("__stt"),
        F.sum(yv * yv).alias("__syy"),
        F.sum(tv * yv).alias("__sty"),
        F.min(F.when(both, F.col(t_col))).alias("__tmin"),
        F.max(F.when(both, F.col(t_col))).alias("__tmax"),
    )


def trend_from_sums(sums: DataFrame, key_col: str) -> DataFrame:
    """Derive (n_points, slope, intercept, r2) from a trend_sums
    state table — a pure projection, so finalizing a maintained
    state costs no scan of history."""
    n = F.col("__n").cast("double")
    st = F.col("__st").cast("double")
    sy = F.col("__sy").cast("double")
    stt = F.col("__stt").cast("double")
    syy = F.col("__syy").cast("double")
    sty = F.col("__sty").cast("double")
    ok = (
        (F.col("__n") > 1)
        & F.col("__tmin").isNotNull()
        & (F.col("__tmin") != F.col("__tmax"))
    )
    slope = (n * sty - st * sy) / (n * stt - st * st)
    intercept = (sy - slope * st) / n
    vy = n * syy - sy * sy
    # squared by multiplication, not pow(): x*x is IEEE-defined
    # identically everywhere, pow() is libm-dependent across engines
    cov = n * sty - st * sy
    r2 = F.when(vy > 0, cov * cov / ((n * stt - st * st) * vy))
    return sums.select(
        F.col(key_col),
        F.col("__n").alias("n_points"),
        F.when(ok, F.round(slope, 6)).alias("slope"),
        F.when(ok, F.round(intercept, 6)).alias("intercept"),
        F.when(ok, F.round(r2, 6)).alias("r2"),
    )


def trend_per_key(df: DataFrame, key_col: str, t_col: str, value_col: str) -> DataFrame:
    """Per-key OLS line value ~ slope * t + intercept, plus r2, from
    ONE grouped aggregate of exact decimal sums. ``t_col`` must be
    numeric (bucket index, epoch day — the caller picks the time
    axis). Keys with < 2 complete points or a single distinct t have
    no defined fit — slope/intercept/r2 NULL (detected exactly via
    the t-range bounds, never by a float epsilon)."""
    return trend_from_sums(
        trend_sums(df, key_col, t_col, value_col), key_col
    )
