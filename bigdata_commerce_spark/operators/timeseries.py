"""Time-series similarity search over the event stream.

Pattern from the distributed time-series literature (e.g. "Time
Series Similarity Search for Streaming Data in Distributed Systems",
EDBT 2019): resample each entity's raw events onto a fixed-length
grid, treat the grid as a dense vector, and run similarity search
with the same vector machinery the embedding family already has —
``similarity.cosine_topk`` exact search here; the LSH/IVF ANN paths
accept the same (id, vector) shape when the entity count outgrows
brute force.

The resample is one aggregation: events bucket to grid cells
map-side, partial sums combine, and the dense vector materializes
per entity from a map lookup over ``sequence(0, n-1)`` — no explode,
no per-entity collect, no UDF. At 100 TB the only shuffle is the
(entity, bucket) aggregate; grid length is a constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.similarity import cosine_topk


def value_series(
    events: DataFrame,
    n_buckets: int,
    bucket_seconds: int,
    origin: str,
) -> DataFrame:
    """(key, series) with ``series[i]`` = sum of ``value`` in
    ``[origin + i*bucket, origin + (i+1)*bucket)``; events outside the
    grid are dropped. ``origin`` is an ISO timestamp string so the
    grid is a fixed contract, not data-dependent (series from
    different runs/partitions align)."""
    origin_us = F.unix_micros(F.lit(origin).cast("timestamp"))
    # floor, not truncate-toward-zero: a pre-origin event must land in
    # a negative bucket (and be dropped), not alias into bucket 0
    bucket = F.floor(
        (F.unix_micros(F.col("ts").cast("timestamp")) - origin_us)
        / (bucket_seconds * 1_000_000)
    ).cast("bigint")
    per_bucket = (
        events.select(
            F.col("user_id").alias("series_id"),
            bucket.alias("bucket"),
            F.col("value").alias("v"),
        )
        .where((F.col("bucket") >= 0) & (F.col("bucket") < n_buckets))
        .groupBy("series_id", "bucket")
        .agg(
            # rounding pins the per-bucket sum to a fixed precision so
            # float summation order (partial-aggregation dependent)
            # cannot drift an oracle hash comparison
            F.round(F.sum("v"), 6).alias("v")
        )
    )
    # dense vector: aggregate the sparse (bucket, v) entries into a
    # map (<= n_buckets entries per key — bounded by the grid, not the
    # data), then one projection fills the fixed grid via map lookup.
    sparse = per_bucket.groupBy("series_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("v")))
        ).alias("m")
    )
    return sparse.select(
        "series_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(n_buckets - 1)),
            lambda i: F.coalesce(F.element_at("m", i.cast("bigint")), F.lit(0.0)),
        ).alias("series"),
    )


def similar_series(
    events: DataFrame,
    probe_keys: list,
    k: int = 5,
    n_buckets: int = 48,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Top-k most similar entities (cosine over resampled value
    series) for each probe entity. Exact brute-force via
    ``cosine_topk`` — probes broadcast, corpus never shuffled; swap in
    ``lsh_ann_topk``/``ivf_topk`` unchanged when entities outgrow
    brute force.

    Returns (probe_id, corpus_id, score, rank).
    """
    series = value_series(
        events, n_buckets, bucket_seconds, "2024-01-01 00:00:00"
    )
    # Probe vectors resample from the probes' OWN events only — a
    # `series.where(isin)` would re-run the full-corpus aggregation a
    # second time just to extract a handful of probe rows (cosine_topk
    # evaluates its probe branch independently).
    probes = value_series(
        events.where(F.col("user_id").isin(probe_keys)),
        n_buckets,
        bucket_seconds,
        "2024-01-01 00:00:00",
    )
    return cosine_topk(series, probes, k=k, id_col="series_id", vec_col="series")


def fill_gaps_locf(df: DataFrame, bucket_seconds: int) -> DataFrame:
    """Regularize a sparse per-key series: emit one row for EVERY
    bucket between each key's first and last observation, carrying
    the last observed value forward through gaps (LOCF) — the
    standard densification before window features, similarity
    vectors or charting.

    Shape: per-key bounds ride one aggregate; the dense grid is a
    map-side ``sequence`` + explode (never a driver loop); observed
    values left-join back on (key, bucket); the carry-forward is a
    single ``last(ignorenulls)`` over an unbounded-preceding window —
    one shuffle on the key, the same partitioning the join already
    produced. Grid cells are epoch-bucket indices so the contract is
    engine-portable (the oracle reproduces it with generate_series).

    Returns (key, bucket, bucket_ts, value, is_observed). A bucket
    with multiple observations carries the LAST one by timestamp
    (deterministic tiebreak on value for equal timestamps).
    """
    from pyspark.sql import Window

    b = F.lit(bucket_seconds)
    obs = df.select(
        F.col("user_id").alias("key"),
        F.floor(F.unix_timestamp(F.col("ts")) / b).cast("bigint").alias("bucket"),
        F.col("ts"),
        F.col("value").alias("value"),
    )
    # last observation per (key, bucket): max_by with a total order
    per_bucket = obs.groupBy("key", "bucket").agg(
        F.max_by("value", F.struct("ts", "value")).alias("value")
    )
    bounds = per_bucket.groupBy("key").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = bounds.select(
        "key", F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_bucket, ["key", "bucket"], "left")
        .select(
            F.col("key").alias("user_id"),
            "bucket",
            (F.col("bucket") * b).cast("timestamp").alias("bucket_ts"),
            F.last("value", ignorenulls=True).over(w).alias("value"),
            F.col("value").isNotNull().alias("is_observed"),
        )
    )


def flag_anomalies(df: DataFrame, z_threshold: float = 3.0) -> DataFrame:
    """Per-key z-score anomaly flags over a (key, ..., value) series —
    the monitoring pass a rollup ladder feeds (volume spikes per
    user/region/ad, quality-metric drift per source).

    Two-aggregate shape, no self-join and no second scan of the base
    table: per-key sum / sum-of-squares in one hash aggregate (exact
    DECIMAL(18,6) arithmetic — mean and stddev are then derived in
    double from EXACT sums, so results are bit-stable across
    partitionings and engines; inputs are assumed to carry <= 6
    decimal places and |value| < 1e12, the money_sum discipline),
    joined back onto the series rows with a LEFT join so NULL-key
    rows keep their output row (z NULL) instead of silently
    vanishing. The stats side is one row per key, but key cardinality
    is unbounded (per-user / per-ad series), so no broadcast hint is
    forced: AQE's size-based planning picks broadcast when the stats
    table is actually small and a shuffle join when it is not —
    forcing the hint would blow the 8 GB broadcast limit at high
    cardinality. A key with fewer than 2 points or zero variance has no
    defined z-score — z NULL, is_anomaly false, never a divide by
    zero. The textbook sum-of-squares form trades a little precision
    on near-constant series for the single-pass exactness; those
    series flag nothing either way.

    Returns the input columns plus (z, is_anomaly).
    """
    v = F.col("value").cast("decimal(18,6)")
    stats = df.groupBy("user_id").agg(
        F.count("value").alias("__n"),
        F.sum(v).cast("double").alias("__s"),
        F.sum(v * v).cast("double").alias("__s2"),
    )
    n = F.col("__n")
    mean = F.col("__s") / n
    # greatest(...,0): catastrophic cancellation on a near-constant
    # series can drive the exact-sums variance a hair negative; clamp
    # deterministically (both engines) instead of sqrt(NaN)
    var = F.when(
        n > 1,
        F.greatest(
            (F.col("__s2") - F.col("__s") * F.col("__s") / n) / (n - 1), F.lit(0.0)
        ),
    )
    sd = F.sqrt(var)
    stats = stats.withColumn("__mean", mean).withColumn("__sd", sd)
    z = F.when(
        F.col("__sd") > 0,
        F.round((F.col("value") - F.col("__mean")) / F.col("__sd"), 4),
    )
    return (
        df.join(stats, "user_id", "left")
        .withColumn("z", z)
        .withColumn(
            "is_anomaly", F.coalesce(F.abs(F.col("z")) > z_threshold, F.lit(False))
        )
        .drop("__n", "__s", "__s2", "__mean", "__sd")
    )


def ohlc_resample(df: DataFrame, bucket_seconds: int) -> DataFrame:
    """Downsample a value series to per-bucket OHLC bars
    (open/high/low/close + count) — the lossy inverse of
    fill_gaps_locf, and the standard reduction before charting or
    long-horizon features. ONE hash aggregate: open/close are
    min_by/max_by on a (ts, value) total order (deterministic under
    equal timestamps), high/low plain min/max — no window, no sort.
    """
    b = F.lit(bucket_seconds)
    key = F.struct(F.col("ts"), F.col("value"))
    # NULL values are NOT observations: without the filter min_by's
    # struct key still admits them (structs with NULL fields sort
    # first) and a bar could carry open=NULL next to a real high/low
    return (
        df.where(F.col("value").isNotNull()).select(
            F.col("user_id"),
            F.floor(F.unix_timestamp(F.col("ts")) / b).cast("bigint").alias("bucket"),
            F.col("ts"),
            F.col("value"),
        )
        .groupBy("user_id", "bucket")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA (exponentially weighted moving average)
# ---------------------------------------------------------------------------

def ewma_per_key(
    df: DataFrame,
    alpha: float,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Per-key EWMA in (ts, event_id) order — the standard
    ``adjust=False`` recurrence: y_1 = v_1, y_t = a*v_t + (1-a)*y_{t-1}
    (pandas ``Series.ewm``; the smoothing half of every
    anomaly/forecast baseline). Returns
    ``(user_id, event_id, ts, value, ewma)``; rows with NULL ts or
    NULL value are excluded (they have no place in the recurrence —
    pre-impute with `fill_gaps_locf` if they should).

    A sequential recurrence is the one shape a running window cannot
    bound and a re-association cannot make bit-exact, so there are
    two deliberate paths:

    - **exact** (default): ONE shuffle — groupBy(key), sort_array over
      the collected (ts, event_id, value) structs, then a single
      `F.aggregate` fold that applies the recurrence element-by-element
      in exactly the IEEE op order ``a*v + b*y`` — bit-identical to
      the DuckDB recursive-CTE oracle and to pandas. The per-key
      array bounds this path: a key's whole history sits in one task
      (same caveat as any per-key sequential state), and the
      append-per-element fold copies O(n²) elements — fine to ~1e5
      rows/key, wrong for a hot key at 100 TB.
    - **bucketized** (``bucket_seconds``): the recurrence is linear
      (y_out = decay*y_in + local, decay = (1-a)^m), so buckets
      summarize independently — per (key, bucket) fold computes
      (m, local, seeded), a per-key spine fold over the bucket
      summaries (bounded by time-range/bucket, not traffic) threads
      the entry state through, and a second in-bucket fold emits
      per-row values. No task ever folds more than one bucket of the
      hot key — `running_sum_per_key`'s spine discipline. Floating
      re-association makes this path equal to the exact one only to
      ~1e-12 relative (tested), NOT bit-identical: unlike the decimal
      running sum, an IEEE recurrence cannot be exactly re-associated.
      Use the exact path when hash-stable output matters; use this
      one under skew.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if bucket_seconds is not None and int(bucket_seconds) < 1:
        raise ValueError(f"bucket_seconds must be >= 1, got {bucket_seconds}")
    a, b = float(alpha), 1.0 - float(alpha)
    rows = df.where(F.col("ts").isNotNull() & F.col("value").isNotNull())

    item = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
        F.col("value").cast("double").alias("v"),
    )
    empty_ys = F.expr("CAST(array() AS array<double>)")
    init = F.struct(empty_ys.alias("ys"), F.lit(0.0).alias("y"))

    def _step():
        # The key's first element starts the series (y_1 = v_1).
        def merge(acc, x):
            stepped = F.lit(a) * x["v"] + F.lit(b) * acc["y"]
            y = F.when(F.size(acc["ys"]) == 0, x["v"]).otherwise(stepped)
            return F.struct(
                F.concat(acc["ys"], F.array(y)).alias("ys"), y.alias("y")
            )

        return merge

    def _emit(grouped: DataFrame, extra_cols: list[str]) -> DataFrame:
        z = F.arrays_zip(F.col("__items").alias("i"), F.col("__ys").alias("y"))
        return grouped.select(
            "user_id",
            *extra_cols,
            F.explode(z).alias("__z"),
        ).select(
            "user_id",
            *extra_cols,
            F.col("__z.i.ts").alias("ts"),
            F.col("__z.i.event_id").alias("event_id"),
            F.col("__z.i.v").alias("value"),
            F.col("__z.y").alias("ewma"),
        )

    if bucket_seconds is None:
        g = rows.groupBy("user_id").agg(
            F.sort_array(F.collect_list(item)).alias("__items")
        )
        g = g.withColumn("__ys", F.aggregate("__items", init, _step())["ys"])
        return _emit(g, [])

    bucket = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp"))
        / F.lit(int(bucket_seconds) * 1_000_000)
    )
    g = (
        rows.withColumn("__bk", bucket)
        .groupBy("user_id", "__bk")
        .agg(F.sort_array(F.collect_list(item)).alias("__items"))
    )
    # Per-bucket linear summary: seeded fold (if this is the key's
    # first bucket), 0-init fold (local), and the state decay b^m.
    # These folds carry SCALAR (y, has) state — O(m) per bucket, no
    # array building; only the final per-row emit pays the append.
    def _scalar_fold(has_init: bool):
        init_s = F.struct(F.lit(0.0).alias("y"), F.lit(has_init).alias("has"))

        def merge(acc, x):
            y = F.when(
                acc["has"], F.lit(a) * x["v"] + F.lit(b) * acc["y"]
            ).otherwise(x["v"])
            return F.struct(y.alias("y"), F.lit(True).alias("has"))

        return F.aggregate("__items", init_s, merge)["y"]

    g = g.withColumn("__seeded", _scalar_fold(has_init=False))
    g = g.withColumn("__local", _scalar_fold(has_init=True))
    g = g.withColumn("__decay", F.pow(F.lit(b), F.size("__items")))

    # Spine: one row per (key, bucket); thread entry state through in
    # bucket order with one fold per key over the (tiny) summaries.
    spine = g.select("user_id", "__bk", "__seeded", "__local", "__decay")
    sk = spine.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("__bk", "__seeded", "__local", "__decay"))
        ).alias("__bks")
    )
    entry_init = F.struct(
        F.expr(
            "CAST(array() AS array<struct<bk:bigint,y_in:double,has:boolean>>)"
        ).alias("es"),
        F.lit(0.0).alias("y"),
        F.lit(False).alias("has"),
    )

    def entry_merge(acc, x):
        y_out = F.when(
            acc["has"], x["__decay"] * acc["y"] + x["__local"]
        ).otherwise(x["__seeded"])
        e = F.struct(
            x["__bk"].alias("bk"), acc["y"].alias("y_in"), acc["has"].alias("has")
        )
        return F.struct(
            F.concat(acc["es"], F.array(e)).alias("es"),
            y_out.alias("y"),
            F.lit(True).alias("has"),
        )

    entries = (
        sk.withColumn("__entries", F.aggregate("__bks", entry_init, entry_merge)["es"])
        .select("user_id", F.explode("__entries").alias("__e"))
        .select(
            "user_id",
            F.col("__e.bk").alias("__bk"),
            F.col("__e.y_in").alias("__y_in"),
            F.col("__e.has").alias("__has"),
        )
    )

    # Re-fold each bucket from its entry state, emitting per-row values.
    withe = g.join(entries, ["user_id", "__bk"])
    init2 = F.struct(
        empty_ys.alias("ys"), F.col("__y_in").alias("y"), F.col("__has").alias("has")
    )

    def merge2(acc, x):
        y = F.when(
            acc["has"], F.lit(a) * x["v"] + F.lit(b) * acc["y"]
        ).otherwise(x["v"])
        return F.struct(
            F.concat(acc["ys"], F.array(y)).alias("ys"),
            y.alias("y"),
            F.lit(True).alias("has"),
        )

    withe = withe.withColumn("__ys", F.aggregate("__items", init2, merge2)["ys"])
    return _emit(withe, [])


def decayed_sum_per_key(df: DataFrame, half_life_seconds: float, asof) -> DataFrame:
    """Exponentially time-decayed sum and count per key, as of a fixed
    anchor: sum(v * 2^(-(asof - t)/half_life)) — recency-weighted
    popularity/affinity (the ranking-feature staple: an event loses
    half its weight every ``half_life_seconds``). Unlike ewma_per_key
    this needs NO order and NO sequential state: decay against a
    FIXED anchor is a plain weighted sum, so it is ONE hash aggregate
    with map-side partials — the cheap form to prefer whenever the
    consumer wants "score now", not a per-event trajectory.

    ``asof`` is an explicit datetime (pass one; an implicit max(ts)
    would make two runs over growing data silently incomparable).
    Events after ``asof`` are excluded — they have not happened yet
    from the anchor's viewpoint. NULL ts/value rows are excluded.
    Returns (key, decayed_sum, decayed_count, n_events), decayed
    figures rounded to 6 dp.
    """
    if half_life_seconds <= 0:
        raise ValueError("half_life_seconds must be > 0")
    # fractional epoch seconds on BOTH engines: unix_timestamp would
    # TRUNCATE the microsecond part that DuckDB's epoch() keeps, and
    # the weights would drift
    age = F.lit(asof).cast("timestamp").cast("double") - F.col("ts").cast(
        "double"
    )
    w = F.pow(F.lit(2.0), -age / F.lit(float(half_life_seconds)))
    eligible = df.where(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("ts") <= F.lit(asof))
    )
    return (
        eligible.groupBy("user_id")
        .agg(
            F.round(F.sum(w * F.col("value").cast("double")), 6).alias(
                "decayed_sum"
            ),
            F.round(F.sum(w), 6).alias("decayed_count"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
