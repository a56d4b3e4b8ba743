"""Property tests (SURVEY.md §5.3): algebraic invariants over
generated inputs — quota bounds for the stratified sampler, funnel
rate bounds, top-k subset/ordering laws, dedup symmetry."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators.sessionize import (
    session_aggregates,
    sessionize,
    stratified_session_sample,
)
from bigdata_commerce_spark.operators.topk import global_top_k, top_k_per_group


def _random_events(spark, seed, n_users=20, n_events=400, days=3):
    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    rows = [
        (
            rng.randrange(n_users),
            base + timedelta(seconds=rng.randrange(days * 86400)),
        )
        for _ in range(n_events)
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_sessionize_partitions_events(spark, seed):
    """Sessionization is a partition of the input: every event lands in
    exactly one session; session event counts sum to the input size;
    within a session, max gap <= threshold."""
    ev = _random_events(spark, seed)
    agg = session_aggregates(sessionize(ev, gap_minutes=30))
    total = ev.count()
    assert agg.agg(F.sum("step_length")).first()[0] == total
    # sessions of the same user don't overlap in time
    rows = sorted(
        agg.collect(), key=lambda r: (r.user_id, r.start_time)
    )
    for a, b in zip(rows, rows[1:]):
        if a.user_id == b.user_id:
            assert b.start_time > a.end_time


def test_session_aggregates_cross_user_session_id(spark):
    """An externally assigned session id shared by two users yields
    one row per (user, session), each over that user's events only."""
    t0 = datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, "s1", t0),
            (1, "s1", t0 + timedelta(seconds=60)),
            (2, "s1", t0 + timedelta(seconds=10)),
            (2, "s1", t0 + timedelta(seconds=130)),
            (2, "s1", t0 + timedelta(seconds=70)),
            (2, "s2", t0 + timedelta(seconds=500)),
        ],
        "user_id long, session_id string, ts timestamp",
    )
    got = sorted(tuple(r) for r in session_aggregates(ev).collect())
    assert got == [
        ("s1", 1, t0, t0 + timedelta(seconds=60), 2, 60),
        ("s1", 2, t0 + timedelta(seconds=10), t0 + timedelta(seconds=130), 3, 120),
        ("s2", 2, t0 + timedelta(seconds=500), t0 + timedelta(seconds=500), 1, 0),
    ]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_sessionize_bucketed_equals_exact(spark, seed):
    """The skew-bounded (time-bucketized) sessionizer must emit the
    IDENTICAL session id for every row, across bucket widths narrower
    than, equal to, and wider than the gap threshold."""
    ev = _random_events(spark, seed)
    exact = sorted(
        sessionize(ev, gap_minutes=30).collect(),
        key=lambda r: (r.user_id, r.ts),
    )
    for b in (300, 1800, 6 * 3600):
        got = sorted(
            sessionize(ev, gap_minutes=30, bucket_seconds=b).collect(),
            key=lambda r: (r.user_id, r.ts),
        )
        assert got == exact, f"bucket_seconds={b} diverged"


def test_sessionize_bucketed_null_ts_rows(spark):
    """NULL-ts rows each start their own session (undefined gap) in
    both paths, and the first real-ts row after them breaks again."""
    from datetime import datetime

    rows = [
        (1, None),
        (1, None),
        (1, datetime(2024, 1, 1, 10, 0)),
        (1, datetime(2024, 1, 1, 10, 5)),
        (2, datetime(2024, 1, 1, 9, 0)),
        # NULL user: the exact path windows it like any other key;
        # the bucketized join-back must be null-safe to keep the rows
        (None, datetime(2024, 1, 1, 8, 0)),
        (None, datetime(2024, 1, 1, 8, 10)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    exact = sessionize(ev, gap_minutes=30).collect()
    bucketed = sessionize(ev, gap_minutes=30, bucket_seconds=3600).collect()

    def sig(out):
        # None (user or ts) is not orderable — sort NULLs first
        return sorted(
            (
                r.user_id is not None,
                r.user_id or 0,
                r.ts is not None,
                r.ts or datetime.min,
                r.session_id,
            )
            for r in out
        )

    assert sig(exact) == sig(bucketed)
    # the two real-ts rows of user 1 share one session; the NULL rows
    # hold two other session ids
    u1 = [r.session_id for r in exact if r.user_id == 1 and r.ts is not None]
    assert len(set(u1)) == 1
    nulls = {r.session_id for r in exact if r.ts is None}
    assert len(nulls) == 2 and not nulls & set(u1)


@pytest.mark.parametrize("seed", [3, 4])
def test_stratified_sample_quotas(spark, seed):
    """Per-(day, hour) extraction count <= max(floor share, 1) and the
    sample is a subset of the population."""
    ev = _random_events(spark, seed, n_events=1000)
    agg = session_aggregates(sessionize(ev, gap_minutes=30))
    out = stratified_session_sample(agg, per_day=50)
    pop = {r.session_id for r in agg.collect()}
    sample = out.collect()
    assert {r.session_id for r in sample} <= pop
    per_day = {}
    for r in sample:
        per_day.setdefault(r.s_date, []).append(r)
    day_totals = {}
    for r in agg.withColumn("d", F.to_date("start_time")).groupBy("d").count().collect():
        day_totals[r.d] = r["count"]
    for d, rows in per_day.items():
        # a day never extracts more than quota + one-per-hour slack
        assert len(rows) <= 50 + 24
        assert len(rows) <= day_totals[d]


@pytest.mark.parametrize("seed", [5, 6])
def test_topk_laws(spark, seed):
    rng = random.Random(seed)
    rows = [(rng.randrange(5), rng.randrange(100), i) for i in range(300)]
    df = spark.createDataFrame(rows, "grp int, score int, id long")
    topk = top_k_per_group(df, ["grp"], [F.desc("score"), F.asc("id")], k=7).collect()
    per_group = {}
    for r in topk:
        per_group.setdefault(r.grp, []).append(r)
    base = df.collect()
    for g, members in per_group.items():
        assert len(members) <= 7
        ordered = sorted(members, key=lambda r: r.rank)
        scores = [m.score for m in ordered]
        assert scores == sorted(scores, reverse=True)
        # nothing outside the top-k beats anything inside it
        outside = [r for r in base if r.grp == g and r.id not in {m.id for m in members}]
        if len(members) == 7 and outside:
            assert max(r.score for r in outside) <= min(scores)
    glob = global_top_k(df, [F.desc("score"), F.asc("id")], 7).collect()
    assert len(glob) == 7
    cutoff = min(r.score for r in glob)
    better = [r for r in base if r.score > cutoff]
    assert len(better) <= 7


def test_funnel_rates_bounded(spark):
    from bigdata_commerce_spark.operators.funnel import funnel_counts

    ev = _random_events(spark, 9, n_users=10, n_events=300).withColumn(
        "page", (F.col("user_id") + F.year("ts")) % 4
    )
    out = funnel_counts(
        spark, ev, ["0", "1", "2"], session_col="user_id", ts_col="ts", page_col="page"
    ).collect()
    for r in out:
        assert 0.0 <= r.rate_vs_start
        assert r.split_count >= 0
