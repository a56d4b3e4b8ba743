"""One-pass table profiling (the Deequ `ColumnProfiler` family): per
column — row/non-null/null counts, distinct cardinality, min/max,
and an exact-decimal mean for numerics. The data-card companion to
`operators/validate.py` (which *checks* declared constraints; this
*discovers* the shape you'd write constraints against — the first
thing run against an unfamiliar 100 TB crawl drop).

Scale shape:
- ALL requested columns' counts, min/max and means ride ONE scan
  and ONE aggregate: N columns = ~4N agg expressions on a single
  hash aggregate with map-side partials, exactly like validate.py's
  single-pass rule suite.
- Distinct counts are exact COUNT(DISTINCT), one single-distinct
  aggregate per column cross-joined onto the 1-row result: each
  reads only its own column and shuffles only that column's
  map-side-deduplicated values (the twin query's oracle must
  hash-match). Several COUNT(DISTINCT)s in ONE aggregate would plan
  as an Expand whose group order follows expression-id hashes, so
  that plan — and its fingerprint — would vary from run to run; the
  plan-shape test asserts there is no Expand.
- The wide 1-row agg result is reshaped to one-row-per-column with
  `inline` on a literal struct array — driver-free, shuffle-free.
- Mean uses the money_sum discipline (exact decimal(38,6) try_sum /
  count, never F.avg over doubles) so the report is bit-stable
  across partitionings and engines; try_sum/try_cast keep one
  pathological column (NaN/±inf/1e32) from aborting the whole
  co-compiled aggregate under ANSI mode — it reports NULL mean
  instead, loudly visible in the profile.

Typed min/max land in type-segregated columns (`min_num`/`max_num`
as double, `min_str`/`max_str` as string) rather than one stringly
column: casting doubles to strings formats differently across
engines, which would poison oracle comparison and downstream typed
consumers alike. Unprofiled types (arrays, maps, structs, binary)
get counts and distinct only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
# booleans route through the string min/max ('false' < 'true'
# matches boolean ordering, and both engines render them identically)
_ORDERED_STR = (T.StringType, T.BooleanType)
_TIMELIKE = (T.TimestampType, T.TimestampNTZType, T.DateType)


def profile_table(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """One row per profiled column:
    ``(column, n_rows, n_nonnull, n_null, n_distinct, min_num,
    max_num, min_str, max_str, mean)``.

    Numerics fill ``min_num/max_num/mean`` (double); strings and
    booleans fill ``min_str/max_str``; timestamps (tz and ntz) and
    dates fill ``min_str/max_str`` via ISO `date_format`
    (engine-portable text). ``mean`` is rounded to 6
    places from the exact decimal sum.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    by_name = {f.name: f.dataType for f in df.schema.fields}

    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        dt = by_name[c]
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        if isinstance(dt, _NUMERIC):
            aggs.append(F.min(c).cast("double").alias(f"_minn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"_maxn_{c}"))
            d = F.col(c).try_cast("decimal(38,6)")
            aggs.append(F.try_sum(d).alias(f"_sum_{c}"))
            aggs.append(F.count(d).alias(f"_cnt_{c}"))
        elif isinstance(dt, _ORDERED_STR):
            # cast is identity for strings; booleans render as
            # 'true'/'false' (min/max computed in the native type
            # first, so boolean ordering — false < true — applies)
            aggs.append(F.min(c).cast("string").alias(f"_mins_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"_maxs_{c}"))
        elif isinstance(dt, _TIMELIKE):
            fmt = (
                "yyyy-MM-dd"
                if isinstance(dt, T.DateType)
                else "yyyy-MM-dd HH:mm:ss"
            )
            aggs.append(F.date_format(F.min(c), fmt).alias(f"_mins_{c}"))
            aggs.append(F.date_format(F.max(c), fmt).alias(f"_maxs_{c}"))
    wide = df.agg(*aggs)
    for c in cols:
        wide = wide.crossJoin(df.agg(F.count_distinct(c).alias(f"_nd_{c}")))

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = []
    for c in cols:
        dt = by_name[c]
        num = isinstance(dt, _NUMERIC)
        ordered_s = isinstance(dt, _ORDERED_STR) or isinstance(dt, _TIMELIKE)
        # count(col) == count(decimal-cast) guard (validate.py's
        # discipline): NaN/inf/|v|>=1e32 try_cast to NULL, and a mean
        # that silently excluded exactly the pathological values
        # would be worse than no mean — report NULL loudly instead.
        mean = (
            F.when(
                F.col(f"_nn_{c}") == F.col(f"_cnt_{c}"),
                F.round(
                    F.col(f"_sum_{c}").cast("double") / F.col(f"_cnt_{c}"),
                    6,
                ),
            )
            if num
            else null_d
        )
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n_rows").alias("n_rows"),
                F.col(f"_nn_{c}").alias("n_nonnull"),
                (F.col("_n_rows") - F.col(f"_nn_{c}")).alias("n_null"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                (F.col(f"_minn_{c}") if num else null_d).alias("min_num"),
                (F.col(f"_maxn_{c}") if num else null_d).alias("max_num"),
                (F.col(f"_mins_{c}") if ordered_s else null_s).alias("min_str"),
                (F.col(f"_maxs_{c}") if ordered_s else null_s).alias("max_str"),
                mean.alias("mean"),
            )
        )
    return wide.select(F.inline(F.array(*structs)))


def join_key_overlap(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
) -> DataFrame:
    """Pre-join diagnostic: how well do two tables' keys actually
    line up? Returns ONE row — (n_left, n_right, left_keys,
    right_keys, matched_keys, left_orphan_keys, right_orphan_keys,
    left_match_rate, right_match_rate) — the numbers that decide
    whether a planned join is inner-safe, needs an outer, or signals
    an upstream extraction bug (90% orphans = wrong key column), and
    which side a semi-join would prune.

    Rates are row-weighted (share of ROWS whose key matches — the
    number that predicts join output size), distinct-key counts are
    exact. NULL keys never match anything (SQL join semantics) and
    are counted as orphan rows.

    Shape: each side collapses to (key, row_count) with one hash
    aggregate — map-side combined, so the exchange carries distinct
    keys, not rows; ONE full-outer join of the two key sets; one
    final one-row aggregate. No row-level join ever happens.
    """
    lk = left.groupBy(F.col(left_col).alias("__k")).agg(
        F.count(F.lit(1)).alias("__ln")
    )
    rk = right.groupBy(F.col(right_col).alias("__k")).agg(
        F.count(F.lit(1)).alias("__rn")
    )
    # NULL keys must NOT match each other: join on null-UNsafe
    # equality, so each side's NULL-key row survives as its own
    # orphan (full outer keeps both)
    j = lk.join(rk, lk["__k"] == rk["__k"], "full").select(
        lk["__k"].alias("__lk"),
        rk["__k"].alias("__rk"),
        F.col("__ln"),
        F.col("__rn"),
    )
    both = F.col("__lk").isNotNull() & F.col("__rk").isNotNull()
    n_left = F.coalesce(F.sum("__ln"), F.lit(0))
    n_right = F.coalesce(F.sum("__rn"), F.lit(0))
    matched_l_rows = F.coalesce(F.sum(F.when(both, F.col("__ln"))), F.lit(0))
    matched_r_rows = F.coalesce(F.sum(F.when(both, F.col("__rn"))), F.lit(0))
    return j.agg(
        n_left.cast("bigint").alias("n_left"),
        n_right.cast("bigint").alias("n_right"),
        F.sum(F.when(F.col("__ln").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("left_keys"),
        F.sum(F.when(F.col("__rn").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("right_keys"),
        F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias("matched_keys"),
        F.sum(F.when(F.col("__ln").isNotNull() & ~both, 1).otherwise(0))
        .cast("bigint")
        .alias("left_orphan_keys"),
        F.sum(F.when(F.col("__rn").isNotNull() & ~both, 1).otherwise(0))
        .cast("bigint")
        .alias("right_orphan_keys"),
        F.round(
            F.when(n_left > 0, matched_l_rows / n_left).otherwise(F.lit(0.0)), 6
        ).alias("left_match_rate"),
        F.round(
            F.when(n_right > 0, matched_r_rows / n_right).otherwise(F.lit(0.0)), 6
        ).alias("right_match_rate"),
    )
