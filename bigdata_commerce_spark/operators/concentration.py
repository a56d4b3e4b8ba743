"""Corpus-concentration reports: how much of the corpus mass a few
keys own (domains, sources, licenses).

Curation pipelines watch domain diversity — C4-style per-host caps
exist precisely because crawl mass is Zipfian, and "one site is 30%
of the tokens" is a training-data bug. This module turns a keyed mass
column (chars, tokens, bytes) into the standard concentration
statistics: per-key share and cumulative share (the Lorenz curve,
largest-first), plus the Gini coefficient, the Herfindahl-Hirschman
index, and top-1/top-N shares as corpus-level columns.

Scale shape: ONE hash aggregate over the corpus (per-key mass), then
everything else runs on the |keys| aggregate frame. Ranks and running
sums over that frame use the two-level bucketed prefix-sum kernel
(the ``sources/shards.with_global_index`` construction, extended to
carry a mass running total): keys bucket by ``mass div bucket_width``,
the tiny per-bucket (count, mass) frame takes a driver-sized running
total, and within-bucket windows are bounded — no single-reducer
global window even when |keys| is 1e8 crawl hosts. The per-key frame
is persisted through the bounded registry so the corpus scans once.

Engine-exactness (the repo's standard discipline): every share is ONE
correctly-rounded division of exact int64 masses rounded to 8 dp; the
HHI sums 8dp-rounded per-key terms as DECIMAL(20,8); the Gini is
computed from exact DECIMAL rank-weighted sums converted to double
via VARCHAR (shortest-repr, correctly rounded in both engines), so
float summation order cannot drift an oracle hash.

Gini via the rank formula (ranks ascending by mass, ties broken by
key — tie order cannot change the sum, but determinism is cheap):
``G = (2 * sum(i * m_i) - (n + 1) * T) / (n * T)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.cache_util import persist_bounded


def concentration_report(
    df: DataFrame,
    key_col: str,
    mass_col: str,
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """One row per key: ``(key, n_rows, mass, share, cum_share,
    mass_rank)`` plus corpus-level columns repeated on every row
    (``n_keys, total_mass, gini, hhi, top1_share, topn_share``).

    ``mass_rank`` is 1 for the heaviest key; ``cum_share`` is the
    Lorenz cumulative share through this key largest-first (so the
    row with ``mass_rank = k`` reads "the top k keys own this
    fraction"). NULL keys are excluded (report what you can name);
    a zero total mass yields NULL shares rather than a division
    error. ``topn_share`` is the cumulative share at rank
    ``min(5, n_keys)``.
    """
    km = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        # COALESCE: a key whose every mass is NULL owns 0 mass — a
        # NULL here would hit the engines' opposite null-ordering
        # defaults in the rank tie-break (the kanonymity fuzz find)
        F.coalesce(
            F.sum(F.col(mass_col).cast("long")), F.lit(0)
        ).alias("mass"),
    )
    # Lineage CUT, not just a persist: the report references the
    # per-key aggregate from several branches (ranks, bucket offsets,
    # totals, the global-stats aggregate), and each logical-plan
    # reference would re-embed the whole upstream expression tree —
    # ruinous when the input projection is expression-heavy (the PSL
    # registered-domain CASE is megabytes of plan; 6 copies took the
    # sf0.1 report from ~2s to ~20s of pure driver planning). After
    # the eager localCheckpoint every branch sees a LogicalRDD leaf.
    # The incremental_dedup.py caveat applies verbatim: on a real
    # cluster prefer a reliable checkpoint dir for executor-loss
    # safety; the frame is |keys| rows either way.
    km = km.localCheckpoint(eager=True)
    # NULL keys are dropped AFTER the lineage cut, never with a
    # pre-agg filter: a predicate on a derived key column gets pushed
    # below the aggregate onto the key expression (filter-through-
    # aggregate is a standard rewrite), and for expression-heavy keys
    # (the PSL registered-domain CASE) that duplication pushed the
    # scan stage past the codegen cache — every call re-paid a ~15s
    # compile. Null rows instead collapse into ONE group that this
    # post-checkpoint predicate (which nothing can push down through
    # the RDD boundary) removes.
    km = km.where(F.col(key_col).isNotNull())

    # Two-level prefix sums over the aggregate frame: bucket by the
    # integer mass so bucket order == mass order; ties (same mass)
    # land in one bucket where the key tie-break applies.
    rows = km.withColumn("__bucket", F.expr(f"mass div {bucket_width}"))
    per_bucket = rows.groupBy("__bucket").agg(
        F.count(F.lit(1)).alias("__n"), F.sum("mass").alias("__m")
    )
    w_off = (
        Window.partitionBy()
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "__bucket",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__n_off"),
        F.coalesce(F.sum("__m").over(w_off), F.lit(0)).alias("__m_off"),
    )
    w_in = Window.partitionBy("__bucket").orderBy("mass", key_col)
    w_run = w_in.rowsBetween(Window.unboundedPreceding, 0)
    ranked = (
        rows.join(F.broadcast(offsets), "__bucket")
        .withColumn("asc_rank", F.col("__n_off") + F.row_number().over(w_in))
        .withColumn(
            "cum_mass_asc", F.col("__m_off") + F.sum("mass").over(w_run)
        )
        .drop("__bucket", "__n_off", "__m_off")
    )

    tot = km.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("mass").alias("total_mass"),
    )
    t = F.expr("nullif(total_mass, 0)")
    with_tot = ranked.crossJoin(F.broadcast(tot)).select(
        "*",
        F.round(F.col("mass") * F.lit(1.0) / t, 8).alias("share"),
        (F.col("n_keys") - F.col("asc_rank") + 1).alias("mass_rank"),
        F.round(
            (F.col("total_mass") - F.col("cum_mass_asc") + F.col("mass"))
            * F.lit(1.0)
            / t,
            8,
        ).alias("cum_share"),
    )
    with_tot = persist_bounded(with_tot)

    sq = (F.col("mass") * F.lit(1.0) / t) * (F.col("mass") * F.lit(1.0) / t)
    g = with_tot.agg(
        # exact DECIMAL rank-weighted sum; to double via VARCHAR
        F.sum(
            F.col("asc_rank").cast("decimal(18,0)")
            * F.col("mass").cast("decimal(18,0)")
        )
        .cast("string")
        .cast("double")
        .alias("__s1"),
        F.sum(F.round(sq, 8).cast("decimal(20,8)"))
        .cast("string")
        .cast("double")
        .alias("hhi"),
        F.max(F.when(F.col("mass_rank") == 1, F.col("share"))).alias(
            "top1_share"
        ),
        F.max(
            F.when(
                F.col("mass_rank")
                == F.least(F.lit(5), F.col("n_keys")),
                F.col("cum_share"),
            )
        ).alias("topn_share"),
    )

    n_d = F.col("n_keys").cast("double")
    t_d = F.col("total_mass").cast("double")
    gini = F.when(
        (F.col("total_mass") > 0) & (F.col("n_keys") > 0),
        F.round(
            (F.lit(2.0) * F.col("__s1") - (n_d + 1) * t_d) / (n_d * t_d), 8
        ),
    )
    return (
        with_tot.crossJoin(F.broadcast(g))
        .withColumn("gini", gini)
        .select(
            key_col,
            "n_rows",
            "mass",
            "share",
            "cum_share",
            F.col("mass_rank").cast("int").alias("mass_rank"),
            "n_keys",
            "total_mass",
            "gini",
            "hhi",
            "top1_share",
            "topn_share",
        )
    )
