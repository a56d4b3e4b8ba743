"""Campaign-effect significance testing: per-campaign 2x2 chi-square
on user conversion.

A lift dashboard that reports rates without a significance column
invites decisions on noise. For each campaign this computes the
one-vs-rest contingency table over USERS — exposed (clicked the
campaign) vs not, converted (made a purchase) vs not — and the
chi-square statistic with 1 degree of freedom, plus the standard
95% verdict (chi2 > 3.841459). The algebraic identity
``a*d - b*c = a*N - E*C`` keeps the cross term in exact int64
(a = converted∩exposed, E = exposed, C = converted, N = population).

Scale shape: exposures collapse to distinct (campaign, user) and
conversions to distinct users — two hash-distinct shuffles on the
user key; the converted flag joins user-to-user; the contingency
counts are ONE hash aggregate per campaign; population totals are a
1-row broadcast. Nothing beyond user-keyed shuffles; campaigns ride
the aggregate.

Engine-exactness: all table cells are exact int64; the statistic is
a FIXED left-associative chain of IEEE double products and one
division (the corpus_token_economics discipline — identical
parenthesization, no intermediate ROUND surface), rounded to 8 dp at
the end; the significance comparison runs on that identical double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHI2_95_DF1 = 3.841459


def conversion_chi2(
    population: DataFrame,
    exposures: DataFrame,
    conversions: DataFrame,
) -> DataFrame:
    """Per-campaign report: ``(campaign, exposed, converted_exposed,
    rate_exposed, rate_rest, chi2, significant)`` plus the population
    columns ``n_users`` / ``n_converted`` on every row.

    ``population`` is the user universe (one row per user after an
    internal distinct); ``exposures`` rows are (campaign, user)
    events (multi-exposure collapses); ``conversions`` rows are user
    events. Degenerate margins (every user exposed, zero or all
    converted) yield NULL chi2 rather than a division error."""
    users = population.select("user_id").distinct()
    exp_u = exposures.select("campaign", "user_id").distinct()
    conv_u = (
        conversions.select("user_id")
        .distinct()
        .withColumn("__conv", F.lit(1))
    )
    flags = users.join(conv_u, "user_id", "left").select(
        "user_id", F.coalesce(F.col("__conv"), F.lit(0)).alias("__conv")
    )
    tot = flags.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("__conv").alias("n_converted"),
    )
    per = (
        exp_u.join(flags, "user_id")
        .groupBy("campaign")
        .agg(
            F.count(F.lit(1)).alias("exposed"),
            F.sum("__conv").alias("converted_exposed"),
        )
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n_users").cast("double")
    e = F.col("exposed").cast("double")
    c = F.col("n_converted").cast("double")
    a = F.col("converted_exposed").cast("double")
    # exact in int64 first, then one cast: x = a*N - E*C
    x = (
        F.col("converted_exposed") * F.col("n_users")
        - F.col("exposed") * F.col("n_converted")
    ).cast("double")
    den = e * (n - e) * c * (n - c)
    chi2 = F.when(den > 0, F.round(n * x * x / den, 8))
    return per.select(
        "campaign",
        "exposed",
        "converted_exposed",
        F.round(a * F.lit(1.0) / e, 8).alias("rate_exposed"),
        F.when(
            n - e > 0, F.round((c - a) * F.lit(1.0) / (n - e), 8)
        ).alias("rate_rest"),
        chi2.alias("chi2"),
        (chi2 > F.lit(CHI2_95_DF1)).alias("significant"),
        "n_users",
        "n_converted",
    )
