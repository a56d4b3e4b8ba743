"""Robust statistics for training-data preparation: percentile
winsorization and median/MAD anomaly flags.

Feature pipelines clip raw metrics before they reach a model
(winsorize) and use median/MAD rather than mean/stddev when the
series itself contains the outliers being hunted — a handful of
extreme points drags the mean and inflates the stddev until the
z-score path (timeseries.flag_anomalies) stops flagging anything,
while the median/MAD pair is unmoved by up to half the points
(Leys et al. 2013, "Detecting outliers: use absolute deviation
around the median"; robust-scaling as in scikit-learn's
RobustScaler, re-expressed as Spark aggregates).

Scale shape: both operators are built from exact interpolated
``percentile`` aggregates (Spark's exact counterpart of DuckDB's
``quantile_cont`` — the oracle-proven pairing from
exact_price_percentiles). Winsorize is ONE hash aggregate for every
(column × bound) pair — adding columns widens the agg row, it does
not add scans — followed by a pure clip projection; the bounds side
is one row per group, so AQE picks broadcast vs shuffle by measured
size (no forced hint — same rationale as flag_anomalies, key
cardinality is unbounded). The MAD path is two grouped percentile
aggregates with a join between (the deviation column needs the
median first); both shuffles hash on the same key so the exchange
is reused where AQE can prove it. Exact percentile holds each
group's values for the agg — groups are per-key series (bounded per
key), not the global table, so the state is the same order as the
group's row share; for million-row single groups switch the caller
to approx_percentile and drop the oracle to rows-only.

Determinism discipline: every percentile boundary is rounded to a
fixed precision BEFORE it participates in comparisons or arithmetic,
so float interpolation noise cannot flip a clip or a flag between
engines or partitionings (the money_sum / rounded-z discipline used
across the package).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["winsorize", "robust_flag_anomalies"]


def _clip(value: Column, lo: Column, hi: Column) -> Column:
    # CASE-shaped on purpose: least/greatest skip NULL arguments in
    # both Spark and DuckDB, which would silently turn a NULL value
    # into the boundary. A NULL observation must stay NULL.
    return (
        F.when(value < lo, lo).when(value > hi, hi).otherwise(value)
    )


def winsorize(
    df: DataFrame,
    cols: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
    group_col: str | None = None,
) -> DataFrame:
    """Clip each column in ``cols`` to its [lower, upper] exact
    percentile band — per ``group_col`` when given, else globally —
    appending ``<col>_w`` clipped columns. One aggregate computes
    every bound; NULLs pass through unclipped."""
    if not cols or not 0.0 <= lower <= upper <= 1.0:
        raise ValueError(
            f"winsorize needs columns and 0 <= lower <= upper <= 1, "
            f"got cols={cols!r} lower={lower} upper={upper}"
        )
    aggs = []
    for c in cols:
        aggs.append(
            F.round(F.expr(f"percentile({c}, {lower!r})"), 6).alias(f"__lo_{c}")
        )
        aggs.append(
            F.round(F.expr(f"percentile({c}, {upper!r})"), 6).alias(f"__hi_{c}")
        )
    if group_col is None:
        bounds = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(bounds))  # one-row bounds frame
    else:
        bounds = df.groupBy(group_col).agg(*aggs)
        out = df.join(bounds, group_col, "left")
    for c in cols:
        out = out.withColumn(
            f"{c}_w", _clip(F.col(c), F.col(f"__lo_{c}"), F.col(f"__hi_{c}"))
        )
    drop = [f"__lo_{c}" for c in cols] + [f"__hi_{c}" for c in cols]
    return out.drop(*drop)


def robust_flag_anomalies(
    df: DataFrame,
    key_col: str,
    z_threshold: float = 3.5,
) -> DataFrame:
    """Median/MAD outlier flags per key: ``rz = (x - median) /
    (1.4826 * MAD)``, ``is_anomaly = |rz| > z_threshold`` (3.5 is
    the conventional cut for the 1.4826-scaled MAD, which estimates
    sigma under normality). A key whose MAD is zero — at least half
    its points sit exactly on the median — has no defined robust
    z-score: rz NULL, is_anomaly false, never a divide by zero.
    LEFT joins keep NULL-key and NULL-value rows in the output.

    Returns the input columns plus (rz, is_anomaly).
    """
    # med feeds the deviation pass AND the final join; mad is likewise
    # read by the final join while its build re-reads med. Persist both
    # — they are one row per key (the flag_anomalies stats-table class;
    # no broadcast forced, AQE sizes the joins) — so the source is
    # scanned 3× (med build, mad build, output), the two-pass minimum
    # for MAD, instead of re-deriving the aggregates per consumer.
    # LRU eviction reclaims them; at scale use MEMORY_AND_DISK.
    from bigdata_commerce_spark.operators.cache_util import persist_bounded

    med = persist_bounded(df.groupBy(key_col).agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("__med")
    ))
    with_dev = df.join(med, key_col, "left").withColumn(
        "__ad", F.abs(F.col("value") - F.col("__med"))
    )
    mad = persist_bounded(with_dev.groupBy(key_col).agg(
        F.round(F.expr("percentile(__ad, 0.5)"), 6).alias("__mad")
    ))
    rz = F.when(
        F.col("__mad") > 0,
        F.round(
            (F.col("value") - F.col("__med"))
            / (F.lit(1.4826) * F.col("__mad")),
            4,
        ),
    )
    return (
        with_dev.drop("__ad")
        .join(mad, key_col, "left")
        .withColumn("rz", rz)
        .withColumn(
            "is_anomaly", F.coalesce(F.abs(F.col("rz")) > z_threshold, F.lit(False))
        )
        .drop("__med", "__mad")
    )
