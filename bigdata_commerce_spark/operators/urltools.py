"""URL canonicalization and host-level curation primitives.

The first stage of every crawl-curation pipeline is URL-keyed: the
same page arrives under dozens of surface forms (scheme/host case,
default ports, trailing dots, duplicated slashes, tracking query
params, fragments), and dedup/quota/blocklist decisions key on the
*canonical* form and on the *registered domain*, not on the raw
string. The reference engine has no URL stage (its inputs are
pre-keyed session logs); this module is part of the beyond-reference
training-data layer, next to ``mixing.cap_per_source`` (per-source
quota caps) and ``dedup`` (content-level dedup) — URL dedup runs
BEFORE content dedup because it is one cheap hash agg instead of a
shingle pipeline.

100 TB shape: ``with_canonical_url`` / ``with_registered_domain`` are
pure column projections — zero shuffle, no UDF, evaluated inside the
scan stage. ``dedup_by_canonical_url`` is ONE hash aggregate on the
canonical string (identical shuffle shape to ``dedup.dedup_exact``,
map-side partial min). ``host_report`` is one hash aggregate on the
registered domain (domain cardinality ≪ row count, so the partial
agg collapses almost everything map-side).

Canonicalization contract (documented so the DuckDB oracle can state
the same rules):

1. scheme and host are lowercased;
2. the scheme's default port is stripped (``:80`` for http, ``:443``
   for https), then a trailing FQDN dot on the host;
3. runs of ``/`` in the path collapse to one, a trailing ``/`` is
   dropped (except for the root path), an empty path becomes ``/``;
4. the fragment is dropped;
5. query params are split on ``&``; empties, ``utm_*`` and the
   exact tracking keys in ``TRACKING_PARAMS`` are removed; the rest
   are sorted bytewise and rejoined (param ORDER never identifies a
   resource; param VALUES may, so values are untouched);
6. userinfo (``user:pass@``) is STRIPPED — credentials never
   identify a resource and must not leak into dedup keys;
7. hosts with non-ASCII (IDN/unicode) characters yield NULL —
   quarantine, not mis-key. Corpora with internationalized hosts run
   the ``with_idna_host`` pre-pass first (punycode/IDNA encoding,
   the one step that genuinely needs Python), after which the host
   is ASCII and every rule above applies.

Only absolute ``scheme://host...`` URLs are canonicalized; anything
else (relative refs, ``mailto:``, garbage) yields NULL so callers can
quarantine rather than silently mis-key.

``with_registered_domain`` implements the full Public Suffix List
algorithm via ``operators/psl.py`` (exact + wildcard + exception
rules, ICANN and PRIVATE sections of the bundled snapshot).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_commerce_spark.operators import psl

# Exact query keys that are tracking/attribution noise (the utm_*
# family is matched by prefix instead — it is open-ended). 'ref' /
# 'ref_src' are deliberately NOT here: on major sites 'ref' selects
# content (GitHub '?ref=branch'), so stripping it would merge
# genuinely different resources.
TRACKING_PARAMS: frozenset[str] = frozenset(
    {"fbclid", "gclid", "msclkid", "mc_eid", "igshid", "_ga"}
)

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
# Query = everything after the FIRST '?' that precedes any '#': the
# leading [^#?]* refuses to skip past a '?' or into the fragment, so
# 'https://h/p#sec?a=1' has NO query (the '?' is fragment content)
# while 'https://h/p?a=1?b=2' keeps 'a=1?b=2' (RFC 3986: later '?'s
# are query content).
_QUERY_RE = r"^[^#?]*\?([^#]*)"


def _canonical_expr(url: Column) -> Column:
    """The canonical-URL Column expression. Pure built-ins; every
    step mirrors a numbered rule in the module docstring."""
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    # Rule 6: userinfo stripped BEFORE lowering (credentials are
    # dropped entirely, so their case never matters).
    hostport = F.lower(
        F.regexp_replace(F.regexp_extract(url, _HOSTPORT_RE, 1), "^[^@]*@", "")
    )
    # Rule 2: default port, then trailing FQDN dot.
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80\\z", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443\\z", ""))
        .otherwise(hostport)
    )
    host = F.regexp_replace(host, r"\.\z", "")
    # Rule 3: collapse slash runs, drop trailing slash, '' -> '/'.
    rawpath = F.regexp_extract(url, _PATH_RE, 1)
    path = F.regexp_replace(rawpath, "/{2,}", "/")
    path = (
        F.when(path == "", F.lit("/"))
        .when(path != "/", F.regexp_replace(path, "/\\z", ""))
        .otherwise(path)
    )
    # Rule 5: split, scrub tracking keys, sort, rejoin. Fragment is
    # never captured (rule 4). Keys compare via the text before the
    # first '=' so valueless params ('flag') scrub by name too.
    tracked = F.array(*[F.lit(p) for p in sorted(TRACKING_PARAMS)])
    kept = F.filter(
        F.split(F.regexp_extract(url, _QUERY_RE, 1), "&"),
        lambda p: (p != "")
        & ~p.startswith("utm_")
        & ~F.array_contains(tracked, F.split(p, "=").getItem(0)),
    )
    query = F.array_join(F.array_sort(kept), "&")
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    # Absolute http(s)-style URLs only, ASCII hosts only (rule 7 —
    # IDN hosts quarantine until the with_idna_host pre-pass runs);
    # everything else is NULL so callers quarantine instead of
    # mis-keying (module docstring).
    host_is_ascii = ~hostport.rlike(r"[^\x21-\x7e]")
    return F.when((scheme != "") & (hostport != "") & host_is_ascii, canonical)


def _domain_expr(canonical: Column) -> Column:
    """Registered domain of an already-canonical URL (NULL in → NULL
    out), per the full Public Suffix List algorithm over the bundled
    snapshot (operators/psl.py): longest matching exact/wildcard
    rule, exceptions win, the implicit ``*`` fallback otherwise. IP
    literals and hosts that ARE public suffixes key as themselves
    (psl module docstring documents the deviation from the spec's
    NULL)."""
    host = F.regexp_extract(canonical, _HOSTPORT_RE, 1)
    bare = F.regexp_replace(host, ":[0-9]+\\z", "")  # non-default port stays in host
    return F.when(
        canonical.isNull(), F.lit(None).cast("string")
    ).otherwise(psl.registered_domain_expr(bare, psl.default_rules()))


def with_canonical_url(df: DataFrame) -> DataFrame:
    """Add the canonical form of ``url``. Zero shuffle. The exact-key
    scrub set is TRACKING_PARAMS, which deliberately excludes
    content-significant keys like 'ref'."""
    return df.withColumn("canonical_url", _canonical_expr(F.col("url")))


def with_registered_domain(df: DataFrame) -> DataFrame:
    """Add the registered domain of an already-canonical URL column.
    Zero shuffle — the PSL is CONFIG, embedded as literal arrays, so
    this stays a scan-stage projection."""
    return df.withColumn("registered_domain", _domain_expr(F.col("canonical_url")))


def dedup_by_canonical_url(df: DataFrame) -> DataFrame:
    """URL-level dedup: canonicalize and keep the min-``doc_id`` row
    id per canonical URL. Returns (canonical_url, survivor id) —
    callers semi-join back for payloads, exactly the
    ``dedup.dedup_exact`` contract. NULL canonicals (non-absolute
    URLs) are excluded, not grouped into one bucket.

    ONE hash aggregate on the canonical string; min() gives a
    map-side partial so the shuffle carries one row per (partition,
    url), not per input row."""
    return (
        with_canonical_url(df)
        .where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("doc_id"))
    )


def host_report(df: DataFrame) -> DataFrame:
    """Per-registered-domain curation stats: rows seen, distinct
    canonical URLs, and the URL-dup ratio — the table a crawl
    operator reads to set per-domain quota caps
    (``mixing.cap_per_source``).

    One hash aggregate keyed on the domain. countDistinct adds the
    usual expand-for-distinct, still one shuffle; domain cardinality
    is tiny vs rows, so partials collapse map-side."""
    canon = with_canonical_url(df).where(
        F.col("canonical_url").isNotNull()
    )
    canon = with_registered_domain(canon)
    return canon.groupBy("registered_domain").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("canonical_url").alias("n_urls"),
        F.round(
            1.0 - F.countDistinct("canonical_url") / F.count(F.lit(1)), 4
        ).alias("dup_ratio"),
    )


def with_idna_host(
    df: DataFrame, url_col: str = "url", out_col: str | None = None
) -> DataFrame:
    """Rewrite internationalized (non-ASCII) URL hosts to their
    IDNA/punycode ASCII form in place (``out_col`` defaults to
    ``url_col``), so rule 7's quarantine no longer fires and the
    pure-expression canonicalizer applies. ASCII-host URLs pass
    through byte-identical — the pre-pass is idempotent.

    Why a pandas UDF (the package's second, after the ANN plane
    projection): punycode (RFC 3492 bootstring) is an iterative
    per-label ALGORITHM — no composition of built-in expressions
    expresses it. Cost containment: corpora route only rows matching
    the non-ASCII-host predicate through this pre-pass if they wish
    (the predicate is a cheap rlike), and the UDF itself short-
    circuits pure-ASCII batches with one vectorized str-check before
    touching codecs — measured: ASCII-only batches run at Arrow
    passthrough speed. Hosts that fail IDNA (empty labels, overlong)
    are left unchanged, so canonicalization still quarantines them
    to NULL instead of this op throwing mid-pipeline."""
    out = out_col or url_col

    @F.pandas_udf("string")
    def _idna(urls: pd.Series) -> pd.Series:
        import re

        hostport_re = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*://)([^/?#]*)(.*)$",
                                 re.DOTALL)
        nonascii = urls.notna() & ~urls.map(
            lambda u: u.isascii() if isinstance(u, str) else True
        )
        if not nonascii.any():  # vectorized ASCII short-circuit
            return urls

        def enc(u: str) -> str:
            m = hostport_re.match(u)
            if not m:
                return u
            prefix, hostport, rest = m.groups()
            userinfo, sep, hp = hostport.rpartition("@")
            host, colon, port = hp.partition(":")
            if host.isascii():
                return u
            parts = host.lower().rstrip(".").split(".")
            if "" in parts:  # empty label: malformed, keep for quarantine
                return u
            try:
                encoded = ".".join(
                    lb.encode("idna").decode("ascii") if not lb.isascii() else lb
                    for lb in parts
                ) + ("." if host.endswith(".") else "")
            except UnicodeError:
                return u  # quarantined downstream by rule 7
            return prefix + userinfo + sep + encoded + colon + port + rest

        result = urls.copy()
        result[nonascii] = urls[nonascii].map(enc)
        return result

    return df.withColumn(out, _idna(F.col(url_col)))


def filter_blocked_domains(df: DataFrame, blocked: DataFrame) -> DataFrame:
    """Drop rows whose registered domain appears in ``blocked`` (a
    one-column DataFrame of registered domains — the crawl blocklist;
    NULL-canonical rows are dropped too, they cannot be vetted).
    Returns the input columns plus canonical_url/registered_domain so
    downstream stages (dedup, quota caps) reuse the parse.

    ONE left-anti equi-join on the domain. No forced broadcast hint:
    real blocklists range from tens (fits broadcast — AQE picks it)
    to hundreds of millions of domains (shuffle join is the only
    correct plan); size-based planning decides."""
    canon = with_registered_domain(with_canonical_url(df)).where(
        F.col("canonical_url").isNotNull()
    )
    key = blocked.columns[0]
    return canon.join(
        blocked.select(F.col(key).alias("registered_domain")).distinct(),
        "registered_domain",
        "left_anti",
    )
