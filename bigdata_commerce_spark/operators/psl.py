"""Public Suffix List (PSL) parsing and registered-domain extraction.

Implements the publicsuffix.org algorithm (the same contract as
Mozilla's effective-TLD service and `tldextract`):

- a RULE is a dot-separated suffix; ``*`` matches exactly one label;
  a leading ``!`` marks an EXCEPTION rule;
- the prevailing rule for a host is the matching EXCEPTION if any,
  else the matching rule with the MOST labels, else the implicit
  ``*`` (the bare TLD is the public suffix);
- the public suffix is the prevailing rule's labels (for an
  exception: the rule minus its leftmost label);
- the registered (registrable) domain is the public suffix plus one
  more label of the host.

Deliberate deviation, shared with ``urltools`` and documented there:
where the spec says "no registrable domain" (the host IS a public
suffix, or a single label like ``localhost``), this engine returns
the bare host instead of NULL — curation pipelines need EVERY
non-quarantined row to key somewhere, and "this host keys as itself"
beats a NULL bucket that mixes unrelated hosts. IPv4 literals and
bracketed IPv6 literals also key as themselves.

Scale shape: the rule set is CONFIG (the full PSL is ~10k rules,
the bundled snapshot ~250) — parsed once driver-side and embedded
as per-label-count literal arrays, so ``registered_domain_expr``
stays a pure column expression: zero shuffle, no UDF, no join,
evaluated inside the scan stage. ``registered_domain_sql`` emits the
IDENTICAL logic as a DuckDB SQL expression from the SAME parsed
rules, so the Spark side and the oracle side cannot drift.

The rules are the bundled ``PSL_SNAPSHOT`` below: a hand-curated
subset of https://publicsuffix.org/list/public_suffix_list.dat in the
exact same format (ICANN + PRIVATE sections, wildcard and exception
rules included). Both sections apply, so every tenant of a hosting
platform (github.io) keys as its own site.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

# Snapshot of the Public Suffix List (publicsuffix.org, MPL 2.0) —
# a curated subset in the canonical file format. Covers the common
# ccTLD second-level registries, the wildcard/exception shapes
# (*.ck/!www.ck, the Japanese city domains), a 3-label ICANN suffix
# (k12.ma.us), and the high-traffic PRIVATE-section hosting suffixes.
PSL_SNAPSHOT = """\
// ===BEGIN ICANN DOMAINS===
com
net
org
edu
gov
mil
int
info
biz
io
co
ai
app
dev
me
tv
cc
us
k12.ma.us
cc.ma.us
pvt.k12.ma.us
uk
co.uk
org.uk
gov.uk
ac.uk
net.uk
ltd.uk
plc.uk
me.uk
nhs.uk
sch.uk
police.uk
au
com.au
net.au
org.au
edu.au
gov.au
asn.au
id.au
jp
co.jp
ne.jp
or.jp
ac.jp
ad.jp
ed.jp
go.jp
gr.jp
lg.jp
*.kawasaki.jp
*.kitakyushu.jp
*.kobe.jp
*.nagoya.jp
*.sapporo.jp
*.sendai.jp
*.yokohama.jp
!city.kawasaki.jp
!city.kitakyushu.jp
!city.kobe.jp
!city.nagoya.jp
!city.sapporo.jp
!city.sendai.jp
!city.yokohama.jp
ck
*.ck
!www.ck
nz
co.nz
net.nz
org.nz
govt.nz
ac.nz
geek.nz
za
co.za
net.za
org.za
gov.za
ac.za
web.za
br
com.br
net.br
org.br
gov.br
edu.br
cn
com.cn
net.cn
org.cn
gov.cn
edu.cn
ac.cn
in
co.in
net.in
org.in
firm.in
gen.in
ind.in
gov.in
ac.in
edu.in
res.in
kr
co.kr
ne.kr
or.kr
go.kr
ac.kr
re.kr
pe.kr
mx
com.mx
net.mx
org.mx
gob.mx
edu.mx
tr
com.tr
net.tr
org.tr
gov.tr
edu.tr
sg
com.sg
net.sg
org.sg
gov.sg
edu.sg
hk
com.hk
net.hk
org.hk
gov.hk
edu.hk
tw
com.tw
net.tw
org.tw
gov.tw
edu.tw
il
co.il
net.il
org.il
gov.il
ac.il
muni.il
ar
com.ar
net.ar
org.ar
gob.ar
edu.ar
id
co.id
net.id
or.id
go.id
ac.id
web.id
my.id
th
co.th
net.th
or.th
go.th
ac.th
in.th
my
com.my
net.my
org.my
gov.my
edu.my
ph
com.ph
net.ph
org.ph
gov.ph
edu.ph
vn
com.vn
net.vn
org.vn
gov.vn
edu.vn
ua
com.ua
net.ua
org.ua
gov.ua
edu.ua
in.ua
ru
com.ru
net.ru
org.ru
msk.ru
spb.ru
pl
com.pl
net.pl
org.pl
gov.pl
edu.pl
waw.pl
de
fr
it
nl
es
se
no
fi
dk
pt
ch
at
be
ie
ca
eu
xn--p1ai
// ===END ICANN DOMAINS===
// ===BEGIN PRIVATE DOMAINS===
github.io
githubusercontent.com
gitlab.io
blogspot.com
blogspot.co.uk
blogspot.com.au
wordpress.com
netlify.app
vercel.app
herokuapp.com
web.app
firebaseapp.com
pages.dev
workers.dev
*.compute.amazonaws.com
s3.amazonaws.com
elasticbeanstalk.com
azurewebsites.net
cloudfront.net
appspot.com
tumblr.com
weebly.com
wixsite.com
neocities.org
readthedocs.io
surge.sh
onrender.com
fly.dev
deno.dev
repl.co
glitch.me
sourceforge.io
keybase.pub
// ===END PRIVATE DOMAINS===
"""


@dataclass(frozen=True)
class PslRules:
    """Parsed PSL: exact suffixes, wildcard bases (the part after
    ``*.``), and exception domains (the part after ``!``), each as a
    frozenset of lowercase dotted strings."""

    exact: frozenset = field(default_factory=frozenset)
    wildcard: frozenset = field(default_factory=frozenset)
    exception: frozenset = field(default_factory=frozenset)

    def max_labels(self) -> int:
        """Deepest label count any rule can force the suffix to."""
        most = 1
        for s in self.exact:
            most = max(most, s.count(".") + 1)
        for b in self.wildcard:
            most = max(most, b.count(".") + 2)  # * adds one label
        for e in self.exception:
            most = max(most, e.count("."))  # suffix = rule minus 1
        return most


def parse_psl(text: str) -> PslRules:
    """Parse PSL file text (comments ``//`` and section markers are
    skipped; wildcard ``*.`` and exception ``!`` rules), ICANN and
    PRIVATE sections alike."""
    exact, wildcard, exception = set(), set(), set()
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower()
        if rule.startswith("!"):
            exception.add(rule[1:])
        elif rule.startswith("*."):
            wildcard.add(rule[2:])
        else:
            exact.add(rule)
    return PslRules(frozenset(exact), frozenset(wildcard), frozenset(exception))


@lru_cache(maxsize=1)
def default_rules() -> PslRules:
    """The bundled snapshot, parsed once."""
    return parse_psl(PSL_SNAPSHOT)


def _by_label_count(rules: frozenset) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for r in rules:
        out.setdefault(r.count(".") + 1, []).append(r)
    return {k: sorted(v) for k, v in sorted(out.items())}


# ---------------------------------------------------------------------------
# Spark expression
# ---------------------------------------------------------------------------


def registered_domain_expr(bare_host: Column, rules: PslRules) -> Column:
    """Registered domain of an already-lowercased, port-free host, as
    a pure column expression (zero shuffle, no UDF). NULL in -> NULL
    out; IP literals and unregistrable hosts key as themselves (see
    module docstring)."""
    labels = F.split(bare_host, r"\.")
    n = F.size(labels)

    def last_k(k: int) -> Column:
        # Guarded by n >= k at every use site; ANSI-safe.
        return F.array_join(F.slice(labels, -k, k), ".")

    def match(k: int, values: list[str]) -> Column:
        # isin, NOT array_contains(array(<200 literals>)): the
        # literal-array form inlines every string into the generated
        # java and blows janino's 64KB method limit (measured: 277
        # compile-failure log lines, whole-stage codegen falls back
        # to interpreted eval — a per-row tax at 100 TB). isin
        # optimizes to an InSet static hash-set lookup that codegen
        # references, keeping the projection compiled.
        return (n >= k) & last_k(k).isin(*values)

    # Longest matching exact/wildcard rule -> public-suffix label
    # count; implicit '*' fallback = 1. FLAT construction (one
    # greatest() over independent per-rule-group candidates), NOT an
    # iterative when(...).otherwise(prev) chain — the chained form
    # embeds the previous expression twice per group, i.e. 2^groups
    # copies of the base tree: measured as a 12k-line generated-java
    # file that janino refuses, dropping the whole projection to
    # interpreted eval.
    candidates: list[Column] = [F.lit(1)]
    for k, vals in _by_label_count(rules.exact).items():
        if k == 1:
            continue  # 1-label exact rules coincide with the fallback
        candidates.append(F.when(match(k, vals), F.lit(k)).otherwise(F.lit(1)))
    for b, vals in _by_label_count(rules.wildcard).items():
        # '*.base' makes ANY (base_labels+1)-label suffix public —
        # the host must supply that extra label.
        candidates.append(
            F.when(match(b, vals) & (n >= b + 1), F.lit(b + 1)).otherwise(F.lit(1))
        )
    base_slen = F.greatest(*candidates) if len(candidates) > 1 else candidates[0]
    # Exceptions beat everything: suffix = rule minus leftmost label;
    # longest matching exception first, then the greatest() fallback.
    exc_whens = [
        F.when(match(e, vals), F.lit(e - 1))
        for e, vals in sorted(_by_label_count(rules.exception).items(), reverse=True)
    ]
    slen = F.coalesce(*exc_whens, base_slen) if exc_whens else base_slen

    # Dynamic slice: positive form, start = n - slen, len = slen + 1.
    registered = F.when(
        n > slen, F.array_join(F.slice(labels, n - slen, slen + 1), ".")
    ).otherwise(bare_host)

    return (
        F.when(bare_host.isNull(), F.lit(None).cast("string"))
        .when(bare_host.rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}\z"), bare_host)
        .when(bare_host.startswith("["), bare_host)  # bracketed IPv6
        .otherwise(registered)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle restatement (generated from the SAME rules object)
# ---------------------------------------------------------------------------


def registered_domain_sql(bare_host_sql: str, rules: PslRules) -> str:
    """DuckDB SQL expression computing the identical registered
    domain for an already-lowercased, port-free host expression.
    Generated from the same ``PslRules`` the Spark side uses, so the
    two restatements cannot drift."""
    h = bare_host_sql
    labels = f"string_split({h}, '.')"
    n = f"len({labels})"

    def last_k_sql(k: int) -> str:
        return f"array_to_string({labels}[-{k}:], '.')"

    def in_list(k: int, values: list[str]) -> str:
        lits = ", ".join(f"'{v}'" for v in values)
        return f"({n} >= {k} AND {last_k_sql(k)} IN ({lits}))"

    greatest_args = ["1"]
    for k, vals in _by_label_count(rules.exact).items():
        if k == 1:
            continue
        greatest_args.append(f"CASE WHEN {in_list(k, vals)} THEN {k} ELSE 1 END")
    for b, vals in _by_label_count(rules.wildcard).items():
        greatest_args.append(
            f"CASE WHEN {in_list(b, vals)} AND {n} >= {b + 1} "
            f"THEN {b + 1} ELSE 1 END"
        )
    slen = "GREATEST(" + ", ".join(greatest_args) + ")"
    # Wrap shortest-first so the LONGEST-label exception check ends up
    # outermost — matching the Spark side's longest-first coalesce.
    # (With nested exceptions like {!www.ck, !foo.www.ck}, wrapping
    # longest-first put the shortest CASE outermost and it won; the
    # bundled snapshot has no nested exceptions, but a swapped-in full
    # PSL does — round-6 advice.)
    for e, vals in sorted(_by_label_count(rules.exception).items()):
        slen = f"CASE WHEN {in_list(e, vals)} THEN {e - 1} ELSE {slen} END"

    return (
        f"CASE WHEN {h} IS NULL THEN NULL "
        f"WHEN regexp_matches({h}, '^[0-9]{{1,3}}(\\.[0-9]{{1,3}}){{3}}\\z') THEN {h} "
        f"WHEN starts_with({h}, '[') THEN {h} "
        f"WHEN {n} > ({slen}) "
        f"THEN array_to_string({labels}[({n} - ({slen})):], '.') "
        f"ELSE {h} END"
    )
