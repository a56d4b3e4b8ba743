"""Distributed uncertainty estimation: Poisson-bootstrap confidence
intervals for per-group means.

The classic bootstrap resamples n rows WITH replacement — impossible
to do directly when the rows live on a thousand executors. The
Poisson bootstrap (Chamandy et al. 2012, "Estimating Uncertainty for
Massive Data Streams"; Hanley & MacGibbon 2006) replaces the
multinomial with independent per-row Poisson(1) weights: resample b
weighs row i by ``w_ib ~ Poisson(1)``, and the weighted means across
B resamples estimate the sampling distribution of the mean — each
row decides its own weights locally, which is exactly what a
map-side operator can do.

Scale shape: the resample fan-out happens in the MAP stage feeding
one hash aggregate keyed (group, resample) — with partial combine
the shuffle carries |groups| x B rows, NOT B copies of the corpus.
The B-row-per-group means frame then takes a per-group ranking
window (B rows per partition) to read the CI endpoints as exact
order statistics. One corpus-scale aggregate, nothing else grows.

Determinism and engine-exactness: the Poisson(1) draw inverts the
CDF against the md5-uniform of (id, resample) — thresholds are
precomputed 60-bit INTEGER literals (floor(cdf * 2^60)) compared
against the integer hash, so the weights are pure integer functions
of the id, identical across runs, partitionings, and engines.
Weighted sums accumulate as DECIMAL(30,8); each mean is ONE
correctly-rounded division rounded to 8 dp; CI endpoints are picked
by rank, never interpolated — no float surface anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BOOT_SALT = ":boot:"
_MAX_W = 8  # the ~1.0e-5 tail P(Poisson(1) >= 8) collapses onto w=8


def poisson_cdf_thresholds() -> list[int]:
    """floor(P(Poisson(1) <= k) * 2^60) for k = 0.._MAX_W-1 — the
    integer comparison grid both engines share."""
    out, p, cdf = [], math.exp(-1.0), 0.0
    for k in range(_MAX_W):
        cdf += p
        out.append(int(cdf * (1 << 60)))
        p /= k + 1
    return out


def _weight_case_sql(u_expr: str) -> str:
    """The SQL CASE mapping the 60-bit uniform to a Poisson(1) weight
    — generated from the SAME thresholds the Spark plan uses."""
    ts = poisson_cdf_thresholds()
    branches = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}" for k, t in enumerate(ts)
    )
    return f"CASE {branches} ELSE {_MAX_W} END"


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: list[str] | None = None,
    n_resamples: int = 40,
    level: float = 0.95,
) -> DataFrame:
    """One row per group: ``(group..., n_rows, mean_value, ci_lo,
    ci_hi)`` where the CI endpoints are the order statistics of the
    B Poisson-bootstrap resample means at ranks ``ceil(a*B)`` /
    ``ceil((1-a)*B)`` with ``a = (1 - level) / 2`` (computed over the
    resamples whose weight total is positive; a resample that drew
    weight 0 everywhere carries no information and is skipped).
    NULL values are excluded."""
    group_cols = group_cols or []
    ts = poisson_cdf_thresholds()

    b = F.explode(
        F.sequence(F.lit(0), F.lit(n_resamples - 1))
    ).alias("__b")
    rows = df.where(F.col(value_col).isNotNull()).select(
        *group_cols, id_col, value_col
    ).select("*", b)
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(_BOOT_SALT),
                    F.col("__b").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = F.lit(_MAX_W)
    for k in reversed(range(len(ts))):
        w = F.when(u < F.lit(ts[k]), F.lit(k)).otherwise(w)

    per_resample = (
        rows.withColumn("__w", w)
        .groupBy(*group_cols, "__b")
        .agg(
            F.sum("__w").alias("__wsum"),
            # weight as DECIMAL(2,0): keeps the product inside
            # DECIMAL(33,8) under BOTH engines' precision rules
            F.sum(
                F.col(value_col).cast("decimal(30,8)")
                * F.col("__w").cast("decimal(2,0)")
            ).alias("__wxsum"),
        )
        .where(F.col("__wsum") > 0)
        .select(
            *group_cols,
            "__b",
            F.round(
                F.col("__wxsum").cast("string").cast("double")
                / F.col("__wsum"),
                8,
            ).alias("__mean_b"),
        )
    )
    w_rank = Window.partitionBy(*group_cols).orderBy("__mean_b", "__b")
    w_n = Window.partitionBy(*group_cols)
    ranked = per_resample.withColumn(
        "__rnk", F.row_number().over(w_rank)
    ).withColumn("__nb", F.count(F.lit(1)).over(w_n))
    # rank arithmetic in INTEGERS: ceil(nb * a) computed as doubles
    # differs between engines on exact boundaries (0.025 * 40 ceils
    # to 2 in binary doubles, 1 in decimal), so the level becomes a
    # per-mille rational and ceil becomes (num + den - 1) div den
    lv = round(level * 1000)
    lo_num, den = 1000 - lv, 2000
    hi_num = 1000 + lv
    lo_k = F.greatest(
        F.expr(f"(__nb * {lo_num} + {den} - 1) div {den}"), F.lit(1)
    )
    hi_k = F.expr(f"(__nb * {hi_num} + {den} - 1) div {den}")
    ci = ranked.groupBy(*group_cols).agg(
        F.max(F.when(F.col("__rnk") == lo_k, F.col("__mean_b"))).alias(
            "ci_lo"
        ),
        F.max(F.when(F.col("__rnk") == hi_k, F.col("__mean_b"))).alias(
            "ci_hi"
        ),
    )
    base = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col(value_col).cast("decimal(30,8)"))
                .cast("string")
                .cast("double")
                / F.count(F.lit(1)),
                8,
            ).alias("mean_value"),
        )
    )
    if group_cols:
        return base.join(ci, group_cols)
    return base.crossJoin(F.broadcast(ci))
