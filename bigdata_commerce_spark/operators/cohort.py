"""Cohort retention — the standard commerce engagement analytic.

Users are grouped into cohorts by their first-activity month; for
every cohort and month offset k, retention is the share of the
cohort active k months after joining. Three aggregates, all with
map-side partial aggregation, no window over raw events:

1. (user, month) distinct activity — one shuffle on user+month;
2. per-user cohort month = min(activity month) — rides the same
   keyed shuffle;
3. (cohort, offset) distinct-user counts joined to cohort sizes.

At 100 TB the only large shuffle is the (user, month) distinct; the
cohort/offset matrix is (months × months) rows — tiny. Exactly
expressible in ANSI SQL for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cohort_retention(events: DataFrame) -> DataFrame:
    """(cohort_month, period, cohort_size, active_users,
    retention_rate) — period 0 rows carry retention 1.0 by
    construction (every cohort member is active in their first
    month)."""
    activity = events.select(
        F.col("user_id").alias("u"),
        F.trunc(F.col("ts").cast("timestamp").cast("date"), "month").alias("m"),
    ).distinct()
    cohorts = activity.groupBy("u").agg(F.min("m").alias("cohort_month"))
    joined = activity.join(cohorts, "u").select(
        "u",
        "cohort_month",
        (
            (F.year("m") - F.year("cohort_month")) * 12
            + (F.month("m") - F.month("cohort_month"))
        ).alias("period"),
    )
    per_period = joined.groupBy("cohort_month", "period").agg(
        F.countDistinct("u").alias("active_users")
    )
    sizes = cohorts.groupBy("cohort_month").agg(
        F.countDistinct("u").alias("cohort_size")
    )
    return (
        per_period.join(sizes, "cohort_month")
        .select(
            "cohort_month",
            "period",
            "cohort_size",
            "active_users",
            F.round(F.col("active_users") / F.col("cohort_size"), 4).alias(
                "retention_rate"
            ),
        )
    )
