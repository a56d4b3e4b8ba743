"""RFM segmentation (recency / frequency / monetary): the classic
commerce customer-value grid, computed engine-portably at corpus
scale.

Each customer gets three 1..n_bins scores — how recently they bought
(higher = more recent), how often, and how much — from equi-depth
quantile bins of the per-customer aggregates. Marketing stacks cut
campaigns on exactly this table; the reference engine's session/
area analytics stop one step short of it.

Scale shape: ONE hash aggregate to per-customer (map-side combined);
bin boundaries are exact interpolated percentiles of the per-customer
frame (drift.py's equi_depth machinery — one small aggregate, a
driver-side list that IS the model artifact); scoring is a literal
fold, zero additional shuffle. The deliberate NON-choice: a global
ntile() window would sort every customer in ONE partition — the
single-partition trap the boundary broadcast exists to avoid.

Monetary sums use exact decimals before the final double cast (the
money_sum discipline), so scores are partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.drift import (
    assign_bins,
    equi_depth_boundaries,
)


def rfm_scores(orders: DataFrame, n_bins: int = 4) -> DataFrame:
    """(customer, recency_days, frequency, monetary, r_score,
    f_score, m_score, rfm) — scores in 1..n_bins, higher better on
    every axis (recency INVERTS the bin: the most recent quantile
    scores n_bins). Recency counts days to the corpus's max order date
    (one collected scalar). ``rfm`` is the concatenated
    segment label ('444' = best everything). Ties at quantile boundaries fold into the lower bin
    on both engines (strictly-greater counting — drift.assign_bins
    semantics)."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    per = orders.groupBy(F.col("o_custkey").alias("customer")).agg(
        F.max("o_orderdate").alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    asof = orders.agg(F.max("o_orderdate")).collect()[0][0]
    if asof is None:
        raise ValueError("cannot anchor recency on an empty/all-NULL corpus")
    per = per.withColumn(
        "recency_days", F.datediff(F.lit(asof), F.col("__last"))
    ).withColumn("__rec_d", F.col("recency_days").cast("double")).withColumn(
        "__freq_d", F.col("frequency").cast("double")
    )
    rb = equi_depth_boundaries(per, "__rec_d", n_bins)
    fb = equi_depth_boundaries(per, "__freq_d", n_bins)
    mb = equi_depth_boundaries(per, "monetary", n_bins)
    scored = assign_bins(per, "__rec_d", rb, bin_col="__rbin")
    scored = assign_bins(scored, "__freq_d", fb, bin_col="__fbin")
    scored = assign_bins(scored, "monetary", mb, bin_col="__mbin")
    r = (F.lit(n_bins) - F.col("__rbin")).alias("r_score")
    f_ = (F.col("__fbin") + 1).alias("f_score")
    m = (F.col("__mbin") + 1).alias("m_score")
    return scored.select(
        "customer",
        "recency_days",
        "frequency",
        F.round("monetary", 2).alias("monetary"),
        r,
        f_,
        m,
    ).withColumn(
        "rfm",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )
