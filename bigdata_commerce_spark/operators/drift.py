"""Distribution drift detection: equi-depth binning + population
stability index (PSI).

The monitoring counterpart of the validation suite: validate.py
checks CONTRACTS (bounds, nulls, uniqueness), this module checks
SHAPE — has the distribution of a column moved between a reference
corpus (last week's snapshot, the training distribution) and the
current one? The standard industrial metric is PSI over equi-depth
bins of the REFERENCE distribution: PSI < 0.1 stable, 0.1-0.25
moderate shift, > 0.25 investigate.

Scale shape: bin boundaries are exact interpolated percentiles of
the reference (one aggregate — the same `percentile` machinery the
catalog's exact_price_percentiles uses, so the DuckDB oracle
reproduces them bit for bit); bin assignment is a broadcast of the
n-1 boundary values folded with a filter-count (no join explosion,
no per-row UDF); each side's bin shares are one small hash
aggregate. Nothing scales with more than the two scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Laplace-style smoothing for empty bins: PSI's log blows up on a
# zero share; the conventional fix is flooring shares at a small
# epsilon. Module constant so the oracle generates from the same
# value.
PSI_EPS = 1e-6


def equi_depth_boundaries(df: DataFrame, col: str, n_bins: int) -> list[float]:
    """The n_bins-1 interior boundaries of an equi-depth binning of
    ``col`` (exact interpolated percentiles). Driver-side list — it
    IS the model artifact a drift monitor persists alongside the
    reference snapshot."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    fracs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    row = df.agg(
        F.expr(f"percentile(`{col}`, array({fracs}))").alias("b")
    ).collect()[0]
    if row.b is None:
        raise ValueError(f"cannot bin an empty/all-NULL column {col!r}")
    return [float(x) for x in row.b]


def assign_bins(
    df: DataFrame, col: str, boundaries: list[float], bin_col: str = "bin"
) -> DataFrame:
    """Add ``bin_col`` = number of boundaries strictly below the value
    (0..len(boundaries)); NULL values get NULL bins. Pure projection:
    the boundary array is a literal folded with filter+size — no
    join, no UDF, codegen end to end. Refuses to overwrite an
    existing column rather than silently clobbering it."""
    if bin_col in df.columns:
        raise ValueError(f"column {bin_col!r} already exists; pass bin_col=...")
    arr = F.array(*[F.lit(b) for b in boundaries])
    bin_expr = F.when(
        F.col(col).isNotNull(),
        F.size(F.filter(arr, lambda b: F.col(col) > b)),
    )
    return df.withColumn(bin_col, bin_expr)


def _bin_shares(df: DataFrame, col: str, boundaries: list[float]) -> DataFrame:
    n_bins = len(boundaries) + 1
    counts = (
        assign_bins(df, col, boundaries)
        .where(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # coalesce: a completely EMPTY side (broken upstream) must yield
    # share 0 in every bin — the epsilon floor then drives PSI loud —
    # not NULL shares that contradict the psi_term next to them
    total = counts.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("t"))
    # left-join a literal 0..n_bins-1 frame so EMPTY bins appear with
    # share 0 (smoothed later) instead of silently vanishing
    spark = df.sparkSession
    all_bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    return (
        all_bins.join(counts, "bin", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "bin",
            F.when(F.col("t") > 0, F.coalesce(F.col("n"), F.lit(0)) / F.col("t"))
            .otherwise(0.0)
            .alias("share"),
        )
    )


def psi_report(
    reference: DataFrame, current: DataFrame, col: str, n_bins: int = 10
) -> DataFrame:
    """Per-bin PSI contributions between the reference and current
    distributions of ``col`` (bins = equi-depth on the REFERENCE), and
    the total in every row for a single-read verdict.

    Returns (bin, ref_share, cur_share, psi_term, psi_total), shares
    and terms rounded to 6 dp for engine-portable comparison.

    The reference is consumed twice (percentile boundaries, then bin
    shares); to avoid two full scans of what is typically the largest
    input (last cycle's snapshot), the projected column is persisted —
    the boundary collect materializes the cache and the share
    aggregate reads it back. The cache is one column of the reference;
    it is unpersisted as soon as the share aggregate has run."""
    # Project to the one needed column BEFORE caching: the cache then
    # costs O(column), not O(row), and both passes read it.
    ref_proj = reference.select(col).persist()
    try:
        bounds = equi_depth_boundaries(ref_proj, col, n_bins)
        # _bin_shares ends in a tiny (n_bins-row) aggregate; collect it
        # through a localCheckpoint-free eager materialization so the
        # cache can be released before the (lazy) result is consumed.
        # The ORIGINAL schema is passed explicitly: inference from the
        # collected python ints would silently widen `bin` from int to
        # bigint in the public report.
        shares = _bin_shares(ref_proj, col, bounds)
        ref = (
            ref_proj.sparkSession.createDataFrame(
                shares.collect(), shares.schema
            )
            .withColumnRenamed("share", "ref_share")
        )
    finally:
        ref_proj.unpersist()
    cur = _bin_shares(current, col, bounds).withColumnRenamed("share", "cur_share")
    joined = ref.join(cur, "bin")
    r = F.greatest(F.col("ref_share"), F.lit(PSI_EPS))
    c = F.greatest(F.col("cur_share"), F.lit(PSI_EPS))
    terms = joined.select(
        "bin",
        F.round("ref_share", 6).alias("ref_share"),
        F.round("cur_share", 6).alias("cur_share"),
        F.round((c - r) * F.log(c / r), 6).alias("psi_term"),
    )
    from pyspark.sql import Window

    total = F.round(
        F.sum("psi_term").over(Window.partitionBy()), 6
    )
    return terms.withColumn("psi_total", total)


def embedding_centroid_drift(reference: DataFrame, current: DataFrame) -> DataFrame:
    """Semantic drift monitor: per-group embedding centroids of two
    corpus versions, compared by cosine. PSI watches a scalar
    column's shape; this watches where each group's MASS sits in
    embedding space — a re-crawl whose 'news' cluster moved is
    invisible to scalar stats but shows up immediately as a centroid
    rotation.

    Returns (group, n_ref, n_cur, centroid_cosine, l2_shift), cosine
    and shift rounded to 6 dp. Groups present on only one side report
    NULL cosine/shift (nothing to compare — surfaced, not dropped).

    Scale shape per side: posexplode(dim) fans out corpus x dim rows
    MAP-SIDE, but the (group, dim) hash aggregate's partial combine
    collapses them before the exchange — the shuffle carries
    groups x dims rows, not the corpus (the one shape that beats both
    a collect_list buffer, which would hold every group vector in one
    aggregate buffer, and a driver fold). Reassembly is one more
    aggregate bounded by dims-per-group. The final compare is a tiny
    full-outer join on the group key. Per-dimension sums are exact
    up to float association inside one dimension's partials; the 6 dp
    rounding absorbs that (flag_anomalies' documented posture).
    """

    def centroid(df: DataFrame, n_name: str, c_name: str) -> DataFrame:
        e = df.where(F.col("embedding").isNotNull()).select(
            F.col("label"),
            F.posexplode(
                F.transform(F.col("embedding"), lambda x: x.cast("double"))
            ).alias("__dim", "__val"),
        )
        per_dim = e.groupBy("label", "__dim").agg(
            F.sum("__val").alias("__s"), F.count(F.lit(1)).alias("__n")
        )
        return per_dim.groupBy("label").agg(
            F.max("__n").alias(n_name),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("__dim"), (F.col("__s") / F.col("__n")).alias("m"))
                    )
                ),
                lambda s: s["m"],
            ).alias(c_name),
        )

    ref = centroid(reference, "n_ref", "__cr")
    cur = centroid(current, "n_cur", "__cc")
    j = ref.join(cur, "label", "full")
    dot = F.aggregate(
        F.zip_with(F.col("__cr"), F.col("__cc"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
            )
        )

    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("__cr"), F.col("__cc"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return j.select(
        "label",
        "n_ref",
        "n_cur",
        F.round(dot / (norm(F.col("__cr")) * norm(F.col("__cc"))), 6).alias(
            "centroid_cosine"
        ),
        F.round(l2, 6).alias("l2_shift"),
    )


def ks_report(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    ``value_col`` distributions of two groups — PSI's sharper sibling
    for numeric drift: D = max over v of |F_a(v) - F_b(v)|, the
    largest empirical-CDF gap, with the value where the gap peaks.
    PSI coarsens into bins and saturates; KS localizes the shift and
    needs no binning choice. Returns ONE row:
    (ks_stat 4dp, at_value, n_a, n_b); at_value is the SMALLEST value
    attaining the max gap (deterministic tiebreak).

    Exactness discipline: the gap is compared as the INTEGER
    |F_a(v) * n_b - F_b(v) * n_a| (cross-multiplied counts — no float
    CDFs until the single final division), so engines agree to the
    bit while n_a * n_b fits int64 (~3e9 rows per side; beyond that,
    pre-aggregate or sample — a drift statistic does not need 1e11
    rows). NULL values are excluded (a CDF over NULL is undefined).

    Scale shape: the classic formulation is a cumulative-sum window
    over ALL distinct values ordered by value — a single-reducer
    global window, exactly the thing this codebase never ships.
    Instead: one hash aggregate to per-value counts, then a two-level
    ordered prefix sum (the with_group_shuffled_index posture, keyed
    by VALUE RANGE): equi-depth boundaries split the value axis into
    ``n_buckets`` monotone ranges (boundaries ride a broadcast
    one-row cross join — in-plan, no driver round-trip), per-bucket
    totals (tiny) take an exclusive running offset, and the heavy
    cumulative window partitions by bucket. The final max is a
    TakeOrderedAndProject top-1, never a full sort. Size n_buckets to
    the distinct-value cardinality (64 keeps ~1/64th of distinct
    values per reducer).
    """
    base = df.where(
        F.col(group_col).isin([group_a, group_b]) & F.col(value_col).isNotNull()
    )
    counts = base.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col(group_col) == group_b, 1).otherwise(0)).alias("c2"),
    )
    fracs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    bounds = base.agg(
        F.expr(f"percentile(`{value_col}`, array({fracs}))").alias("__bd")
    )
    # monotone range id: number of boundaries strictly below v. The
    # boundaries come from percentile over the union, so buckets are
    # ~equi-depth in ROWS; distinct-value cardinality per bucket is
    # bounded by that depth whatever the value skew.
    bucket = F.aggregate(
        F.col("__bd"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("v") > b, 1).otherwise(0),
    )
    bucketed = counts.crossJoin(F.broadcast(bounds)).withColumn(
        "__bk", bucket
    ).drop("__bd")
    per_bucket = bucketed.groupBy("__bk").agg(
        F.sum("c1").alias("s1"), F.sum("c2").alias("s2")
    )
    w_off = (
        Window.partitionBy()
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "__bk",
        F.coalesce(F.sum("s1").over(w_off), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("s2").over(w_off), F.lit(0)).alias("o2"),
    )
    w_in = (
        Window.partitionBy("__bk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = counts.agg(
        F.sum("c1").cast("bigint").alias("n_a"),
        F.sum("c2").cast("bigint").alias("n_b"),
    )
    gaps = (
        bucketed.join(F.broadcast(offsets), "__bk")
        .withColumn("f1", (F.col("o1") + F.sum("c1").over(w_in)).cast("bigint"))
        .withColumn("f2", (F.col("o2") + F.sum("c2").over(w_in)).cast("bigint"))
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "__d",
            F.abs(F.col("f1") * F.col("n_b") - F.col("f2") * F.col("n_a")),
        )
    )
    top = gaps.orderBy(F.col("__d").desc(), F.col("v").asc()).limit(1)
    return top.select(
        F.round(F.col("__d") / (F.col("n_a") * F.col("n_b")), 4).alias("ks_stat"),
        F.col("v").alias("at_value"),
        "n_a",
        "n_b",
    )
