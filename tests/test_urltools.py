"""URL canonicalization / registered-domain / URL-dedup unit tests.

Hand fixtures pin every documented canonicalization rule
(operators/urltools.py module docstring); the DuckDB-oracle twins in
tests/test_twin_queries.py check the same rules at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import urltools


def _canon_one(spark, url: str):
    df = spark.createDataFrame([(url,)], "url string")
    return urltools.with_canonical_url(df).head()["canonical_url"]


CANON_CASES = [
    # rule 1: scheme + host case
    ("HTTP://WWW.Example.COM/A/B", "http://www.example.com/A/B"),
    # rule 2: default ports stripped, non-default kept, trailing dot
    ("http://example.com:80/x", "http://example.com/x"),
    ("https://example.com:443/x", "https://example.com/x"),
    ("https://example.com:80/x", "https://example.com:80/x"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    ("https://example.com./x", "https://example.com/x"),
    # rule 3: slash runs, trailing slash, empty path
    ("https://example.com//a///b/", "https://example.com/a/b"),
    ("https://example.com", "https://example.com/"),
    ("https://example.com/", "https://example.com/"),
    # rule 4: fragment dropped — including SPA-style fragments that
    # CONTAIN a '?': the query is only what precedes the '#'
    ("https://example.com/a#sec-2", "https://example.com/a"),
    ("https://example.com/p#sec?a=1", "https://example.com/p"),
    ("https://example.com/p#/route?x=1&utm_source=t", "https://example.com/p"),
    # a second '?' is query CONTENT (RFC 3986), not a new query
    ("https://example.com/p?a=1?b=2", "https://example.com/p?a=1?b=2"),
    # rule 5: tracking params out, the rest sorted; '?' dropped if empty
    (
        "https://example.com/a?z=1&utm_source=t&a=2&fbclid=xyz",
        "https://example.com/a?a=2&z=1",
    ),
    ("https://example.com/a?utm_campaign=c&gclid=1", "https://example.com/a"),
    ("https://example.com/a?", "https://example.com/a"),
    # valueless param scrubbed by name; values untouched (case kept)
    ("https://example.com/a?fbclid&B=UPPER", "https://example.com/a?B=UPPER"),
    # param VALUES are not tracking keys: id=ref survives
    ("https://example.com/a?id=ref", "https://example.com/a?id=ref"),
    # 'ref' is content-significant (GitHub '?ref=branch') — NOT in the
    # scrub set
    ("https://example.com/a?ref=main&z=1", "https://example.com/a?ref=main&z=1"),
]


def test_canonicalization_rules(spark):
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(CANON_CASES)], "i int, url string"
    )
    got = {
        r["i"]: r["canonical_url"]
        for r in urltools.with_canonical_url(df).collect()
    }
    for i, (raw, want) in enumerate(CANON_CASES):
        assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"


def test_non_absolute_urls_yield_null(spark):
    bad = ["/relative/path", "mailto:a@example.com", "not a url", "http://", ""]
    df = spark.createDataFrame([(u,) for u in bad], "url string")
    rows = urltools.with_canonical_url(df).collect()
    assert all(r["canonical_url"] is None for r in rows)


def test_registered_domain_rules(spark):
    cases = [
        ("https://www.blog.example.com/x", "example.com"),
        ("https://example.com/x", "example.com"),
        # multi-part public suffix: last THREE labels
        ("https://www.example.co.uk/x", "example.co.uk"),
        ("https://example.co.uk/x", "example.co.uk"),
        # single-label host (intranet): kept whole
        ("http://localhost:8080/x", "localhost"),
        # non-default port excluded from the domain
        ("http://a.example.com:8080/x", "example.com"),
        # IPv4 literal: no domain hierarchy, kept whole
        ("http://192.168.10.4:8080/x", "192.168.10.4"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i int, url string"
    )
    out = urltools.with_registered_domain(urltools.with_canonical_url(df))
    got = {r["i"]: r["registered_domain"] for r in out.collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"
    # NULL canonical -> NULL domain
    null_df = spark.createDataFrame([("garbage",)], "url string")
    out = urltools.with_registered_domain(urltools.with_canonical_url(null_df))
    assert out.head()["registered_domain"] is None


def test_dedup_keeps_min_id_and_drops_null_canonicals(spark):
    rows = [
        (1, "https://Example.com/a?utm_source=x"),
        (2, "https://example.com:443/a"),   # same canonical as 1
        (3, "https://example.com/b"),
        (4, "not a url"),                   # NULL canonical: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r["canonical_url"]: r["doc_id"]
        for r in urltools.dedup_by_canonical_url(df).collect()
    }
    assert out == {"https://example.com/a": 1, "https://example.com/b": 3}


def test_host_report_counts_and_dup_ratio(spark):
    rows = [
        (1, "https://a.example.com/x"),
        (2, "https://a.example.com/x?utm_source=t"),  # dup of 1
        (3, "https://b.example.com/y"),
        (4, "https://other.co.uk/z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["registered_domain"]: (r["n_rows"], r["n_urls"], r["dup_ratio"])
        for r in urltools.host_report(df).collect()
    }
    assert got == {
        "example.com": (3, 2, round(1.0 - 2 / 3, 4)),
        "other.co.uk": (1, 1, 0.0),
    }


def test_canonicalization_is_a_pure_projection(spark):
    """Zero shuffle: the canonical+domain projection must plan as a
    scan-stage Project with no Exchange."""
    df = spark.range(10).select(
        F.concat(F.lit("https://h"), F.col("id"), F.lit(".example.com/p")).alias(
            "url"
        )
    )
    out = urltools.with_registered_domain(urltools.with_canonical_url(df))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# Hypothesis laws: idempotence + surface-variant invariance
# ---------------------------------------------------------------------------

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_LABEL = st.from_regex(r"[a-z][a-z0-9-]{0,8}", fullmatch=True)
_SEG = st.from_regex(r"[A-Za-z0-9._~-]{1,8}", fullmatch=True)


@st.composite
def url_families(draw):
    """A clean canonical-ish URL plus randomized surface variants
    that must all canonicalize to the SAME string: scheme/host case,
    userinfo, default port, trailing FQDN dot, duplicated slashes,
    trailing slash, a fragment (sometimes containing a '?'), tracking
    params, and param reordering."""
    scheme = draw(st.sampled_from(["http", "https"]))
    host = ".".join(draw(st.lists(_LABEL, min_size=2, max_size=4)))
    segs = draw(st.lists(_SEG, min_size=0, max_size=3))
    params = draw(
        st.lists(
            st.tuples(_LABEL.filter(lambda k: not k.startswith("utm")), _SEG),
            max_size=3,
            unique_by=lambda kv: kv[0],
        )
    )
    rng = random.Random(draw(st.integers(0, 2**32)))

    def variant():
        s = scheme.upper() if rng.random() < 0.5 else scheme
        h = host.upper() if rng.random() < 0.5 else host
        if rng.random() < 0.3:
            h = "user:pw@" + h  # rule 6: userinfo stripped
        if rng.random() < 0.5:
            h += "."
        if rng.random() < 0.5:
            h += ":80" if scheme == "http" else ":443"
        path = "".join(
            "/" * rng.randint(1, 3) + seg for seg in segs
        )
        if segs and rng.random() < 0.5:
            path += "/"
        q = list(params)
        if rng.random() < 0.5:
            q.append(("utm_source", "x"))
        if rng.random() < 0.5:
            q.append(("gclid", "y"))
        rng.shuffle(q)
        qs = "&".join(f"{k}={v}" for k, v in q)
        frag = (
            rng.choice(["#frag", "#/route?x=1", "#sec?a=1&b=2"])
            if rng.random() < 0.5
            else ""
        )
        return f"{s}://{h}{path}" + (f"?{qs}" if qs else "") + frag

    return [variant() for _ in range(4)]


@_SETTINGS
@given(fams=st.lists(url_families(), min_size=1, max_size=6))
def test_variants_canonicalize_identically_and_idempotently(spark, fams):
    rows = [
        (fi, vi, u) for fi, fam in enumerate(fams) for vi, u in enumerate(fam)
    ]
    df = spark.createDataFrame(rows, "family int, variant int, url string")
    out = urltools.with_canonical_url(df).collect()
    by_family: dict[int, set] = {}
    for r in out:
        assert r["canonical_url"] is not None, r["url"]
        by_family.setdefault(r["family"], set()).add(r["canonical_url"])
    for fam, canons in by_family.items():
        assert len(canons) == 1, (fam, canons)
    # Idempotence: the canonical form is a fixed point.
    canon_df = spark.createDataFrame(
        [(c,) for canons in by_family.values() for c in canons], "url string"
    )
    again = urltools.with_canonical_url(canon_df).collect()
    assert all(r["canonical_url"] == r["url"] for r in again), [
        (r["url"], r["canonical_url"]) for r in again if r["canonical_url"] != r["url"]
    ]


def test_filter_blocked_domains_drops_blocked_and_unvettable(spark):
    rows = [
        (1, "https://a.spam.example/x"),
        (2, "https://ok.example.com/y"),
        (3, "https://sub.ok.example.com/z"),
        (4, "not a url"),  # NULL canonical: unvettable, dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = spark.createDataFrame([("spam.example",)], "domain string")
    out = urltools.filter_blocked_domains(df, blocked)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
    assert {"canonical_url", "registered_domain"} <= set(out.columns)
