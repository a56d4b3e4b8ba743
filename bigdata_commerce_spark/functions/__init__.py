"""Scalar column helpers shared across operators.

These replace the reference's string-era utilities
(``commons/src/main/scala/commons/utils/Utils.scala``): sentinel
handling, CSV-encoded arrays, exact money arithmetic, and the
visit/step bucket classifiers — all as Catalyst ``Column``
expressions (JVM-side, codegen'd), never Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Sentinel / CSV compatibility (SURVEY.md §1.3)
# ---------------------------------------------------------------------------


def fan_out(df, min_parallelism: int | None = None):
    """Widen a narrow input to the cluster's parallelism — only ever
    *increases* partitions (a no-op on real many-partition inputs).

    For CPU-heavy per-row operators (tokenization, hashing, vector
    folds) a small single-file scan is otherwise pinned to one or a
    few row-group partitions and serializes the work; the repartition
    of a small input costs microseconds against a multi-second win.
    """
    target = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def nullif_sentinel(col: Column | str) -> Column:
    """``-1``-as-null compat: reference uses Long -1 / String null
    sentinels (``MockDataGenerate.scala:58-64``); the engine uses real
    NULLs at the boundary."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(c, F.lit(-1))


def csv_to_array(col: Column | str) -> Column:
    """Comma-joined id string -> array<bigint> (reference keeps
    ``order_category_ids`` as ``"12,34"`` and re-splits at every use
    site — ``SessionStat.scala:173-179``). Per-element try_cast:
    one garbage token ("12,abc,34") becomes a NULL element instead of
    ANSI-aborting the whole ingest job."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull() & (F.length(c) > 0),
        F.transform(F.split(c, ","), lambda x: x.try_cast("bigint")),
    )


# ---------------------------------------------------------------------------
# Exact money arithmetic for oracle-stable aggregates
# ---------------------------------------------------------------------------


def money_sum(col: Column) -> Column:
    """Order-insensitive, bit-stable sum of a money-like double.

    Summing doubles is order-dependent, so a Spark sum and a DuckDB
    sum can differ in the last ulp and break value-hash comparison.
    Casting each addend to decimal makes the sum exact, then one
    deterministic rounding back to double.

    NaN/Inf addends become NULL in the decimal cast (measured, Spark 4
    ANSI) and are therefore silently SKIPPED by the sum — a non-finite
    money value is corrupt upstream data, and the place to catch it is
    the ingest gate (operators/validate.finite), not a job abort in
    every downstream aggregate.
    """
    return F.round(F.sum(col.cast("decimal(30,8)")), 2).cast("double")


def money_dec(col: Column) -> Column:
    """The exact per-row addend ``money_sum``/``money_avg`` cast inside
    their aggregates — exposed so queries can BIND it once per source
    row. Two places the inline cast evaluates more than once per row:
    grouping sets (CUBE/ROLLUP run aggregate input expressions per
    Expand copy — 4x for a 2-dim cube), and aggregate sets where
    several functions share one addend (sum + avg of the same column)
    and codegen subexpression elimination only partially dedups. The
    double->decimal cast is the expensive step (Double.toString +
    BigDecimal parse per value), so project ``money_dec(col)`` before
    the groupBy/cube/rollup and aggregate with ``money_sum_dec`` /
    ``money_avg_dec`` — same addends, same sums, byte-identical
    results (oracle-pinned)."""
    return col.cast("decimal(30,8)")


def money_sum_dec(col: Column) -> Column:
    """``money_sum`` over a column already bound via ``money_dec``."""
    return F.round(F.sum(col), 2).cast("double")


def money_avg_dec(dec_col: Column, raw_col: Column) -> Column:
    """``money_avg`` over a column already bound via ``money_dec``.
    The count divisor is the RAW column, exactly as money_avg counts
    it: a NaN/Inf addend becomes NULL in the decimal cast (skipped by
    the sum) but is a non-NULL double the original COUNT(col) still
    counts — dividing by COUNT(dec_col) would silently change the avg
    on corrupt rows."""
    return F.round(F.sum(dec_col).cast("double") / F.count(raw_col), 6)


def money_avg(col: Column) -> Column:
    """Exact-decimal sum -> double division -> deterministic rounding.

    (Dividing the *exact* sum keeps the whole computation bit-stable
    across engines; decimal/bigint division semantics differ between
    dialects, double division does not.)
    """
    return F.round(
        F.sum(col.cast("decimal(30,8)")).cast("double") / F.count(col), 6
    )


# ---------------------------------------------------------------------------
# Bucket classifiers (reference: Constants.scala:50-67 +
# SessionStat.scala:581-617 — accumulator-based; here pure expressions)
# ---------------------------------------------------------------------------

# (label, lo_seconds, hi_seconds) — inclusive bounds; None = open.
VISIT_LENGTH_BUCKETS: list[tuple[str, int | None, int | None]] = [
    ("1s_3s", 1, 3),
    ("4s_6s", 4, 6),
    ("7s_9s", 7, 9),
    ("10s_30s", 10, 30),
    ("30s_60s", 31, 60),
    ("1m_3m", 61, 180),
    ("3m_10m", 181, 600),
    ("10m_30m", 601, 1800),
    ("30m", 1801, None),
]

STEP_LENGTH_BUCKETS: list[tuple[str, int | None, int | None]] = [
    ("1_3", 1, 3),
    ("4_6", 4, 6),
    ("7_9", 7, 9),
    ("10_30", 10, 30),
    ("30_60", 31, 60),
    ("60", 61, None),
]


def bucket_flag(col: Column, lo: int | None, hi: int | None) -> Column:
    """1 when col falls in [lo, hi] (open-ended when a bound is None)."""
    if hi is None:
        cond = col >= F.lit(lo)
    elif lo is None:
        cond = col <= F.lit(hi)
    else:
        cond = col.between(F.lit(lo), F.lit(hi))
    return F.when(cond, F.lit(1)).otherwise(F.lit(0))


def ratio(numer: Column, denom: Column) -> Column:
    """HALF_UP-style rounded ratio (reference ``Utils.formatDouble``,
    ``Utils.scala:156-168``); 0.0 when the denominator is empty."""
    return F.when(denom == 0, F.lit(0.0)).otherwise(F.round(numer / denom, 2))


def require_integer_id(df, id_col: str, context: str = "id column") -> None:
    """Shared precondition for operators whose id encodings assume an
    integer key (fingerprint stores, side-tagged similarity joins):
    fail loudly at plan-build time instead of corrupting silently or
    crashing a later read."""
    from pyspark.sql.types import IntegerType, LongType

    dt = df.schema[id_col].dataType
    if not isinstance(dt, (IntegerType, LongType)):
        raise ValueError(f"{context} {id_col!r} must be an integer type, got {dt}")


def md5_uniform60(id_col: str, salt: str) -> Column:
    """Engine-portable 60-bit uniform key: the first 15 hex chars of
    md5(id:salt) as a BIGINT — the seeded pseudo-randomness behind
    the shuffled training index (sources/shards.py) and A-ES weighted
    sampling (operators/mixing.py). ONE definition on purpose: the
    DuckDB oracles replay `CAST(concat('0x', substr(md5(id || ':salt'),
    1, 15)) AS BIGINT)` character-for-character, so any drift here is
    a determinism break across every consumer at once."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
