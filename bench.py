"""Benchmark harness: runs the HEADLINE query suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec, ...},
"sf": ...}.

The headline suite is PINNED to BENCH_BASELINE.json's query set (the
round-1 catalog), independent of which registry each query sits in,
so the suite total measures the same queries in every BENCH_r{N}.
Queries outside the driver catalog are found in the twin registry;
the timing contract is identical.

Each query is timed over a full materialization (collect) after a
warm-up of the session itself; inputs are re-read per query (no
cross-query caching — ENFORCED since round 13: every timed shot first
resets the operator persist registry and the Spark catalog cache, so a
cache-bearing query's recorded time always includes materializing its
own caches. VERDICT r12 item 1: the warm re-shot protocol recorded
cache-hit minimums — ad_launch_window_counts 0.141 s warm vs 0.961 s
cold — and queries riding a cache an EARLIER query materialized, e.g.
dedup_ngram_jaccard at 0.057 s, were not measuring their own plan at
all).
The timed region is the collect alone — the
DataFrame build, planning, and plan fingerprint run BEFORE the timer
(ADVICE r11 item 3: the fingerprint's toString + normalization inside
the timer was a systematic additive bias, largest on the fastest
queries); planning is cached by the QueryExecution so the collect
reuses it. BENCH_BASELINE.json is recorded under the same protocol
(see its provenance note), so ratios compare like with like. Any
query whose single-shot ratio lands >1.2x its baseline is re-timed
twice and the BEST of the three shots is recorded in `queries` (the
shots are kept in `retimed` for audit): single-shot archiving let
+-50% cold-start/GC noise into round artifacts (round-5 verdict:
embedding_neardup 1.51x archived vs 1.19x quiet-box re-run), and a
warm best-of-3 is the measurement the plan actually supports.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from bigdata_commerce_spark import get_spark  # noqa: E402
from bigdata_commerce_spark.operators.cache_util import reset_caches  # noqa: E402
from bigdata_commerce_spark.plans import QUERIES, TWIN_QUERIES  # noqa: E402

# The pinned suite spans both registries (see module docstring); they
# share the (spark, sf_dir) contract.
ALL_QUERIES = {**TWIN_QUERIES, **QUERIES}


def headline_names() -> list[str]:
    """The pinned suite: BENCH_BASELINE.json's keys (round-1 catalog).
    Falls back to the current driver catalog when no baseline exists
    (fresh checkout)."""
    baseline_path = REPO / "BENCH_BASELINE.json"
    if baseline_path.exists():
        names = sorted(json.loads(baseline_path.read_text())["queries"])
        missing = [n for n in names if n not in ALL_QUERIES]
        if missing:
            raise KeyError(f"baseline queries missing from registries: {missing}")
        return names
    return sorted(QUERIES)


# Run-varying tokens in a physical-plan string, in normalization
# order: expression ids (#123), plan ids, codegen stage ids, cached
# RDD / checkpoint numbers, and exchange/subquery reuse ids. What
# remains is the plan SHAPE — operators, join strategies, pushed
# filters, read schemas — which is a pure function of code + config +
# data layout at a fixed SF.
_PLAN_NOISE = (
    # scans of files inside the checkout (the commerce fixtures, the
    # ivf index store) print their absolute path; where the checkout
    # sits on disk is not plan shape
    (re.compile(re.escape(str(REPO))), "<repo>"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\*\(\d+\)"), "*(n)"),
    (re.compile(r"\brdd_\d+\b"), "rdd_n"),
    (re.compile(r"\[id=#?\d*\]"), "[id=n]"),
    (re.compile(r"(Subquery(?:Broadcast)?|ReusedExchange|cte)\s*\d+"), r"\1 n"),
    # AQE stage ids are allocated in runtime materialization order —
    # two broadcast stages of one already-executed (memoized) frame
    # race, so the SAME plan prints BroadcastQueryStage 5/6 in either
    # order run-to-run (seen via the pairs frame dedup_clusters
    # materializes before dedup_ngram_jaccard fingerprints it)
    (re.compile(r"\b((?:Shuffle|Broadcast|Result|TableCache)QueryStage)\s*\d+"), r"\1 n"),
    # higher-order-function variable names carry a session-global
    # counter: `lambda x_11#` on one build is `lambda x_21#` on the next
    (re.compile(r"\blambda ([A-Za-z]\w*?)_\d+"), r"lambda \1_n"),
    # incremental_dedup_novel's fingerprint store is pid-suffixed so
    # concurrent harness runs can't rmtree each other's live store —
    # the pid in the scan's file-index Location is run identity, not
    # plan shape (the sf-tag before it, which IS plan-relevant, stays)
    (re.compile(r"(bcs_fpstore_twin_[0-9a-f]+)_\d+"), r"\1_pid"),
    # a persisted subtree's InMemoryRelation prints its cached child
    # plan, and once ANOTHER query materialized that shared cache
    # entry the child gains an executed AdaptiveSparkPlan with a
    # "== Final Plan ==" section — materialization state, not plan
    # shape. Keep only the Initial Plan (what pre-execution plans
    # show) so the fingerprint is cache-warmth-invariant.
    (re.compile(r"== Final Plan ==.*?== Initial Plan ==", re.S), "== Initial Plan =="),
    (re.compile(r"isFinalPlan=true"), "isFinalPlan=false"),
)


def plan_fingerprint(df) -> str:
    """Stable hash of a DataFrame's compiled physical plan (VERDICT
    r10 item 5): the pre-execution explain string with run-varying ids
    normalized away, sha256'd to 16 hex chars. Computing it forces
    planning, which the QueryExecution caches — the subsequent collect
    reuses it, so fingerprinting inside the timed region does not add
    work the collect wouldn't have done. Equal fingerprints across
    rounds == "plan unchanged" as a machine-checkable artifact instead
    of a hand-read; a changed fingerprint is the round a plan
    regression (or intended improvement) actually landed.

    Metadata strings (DataFilters, ReadSchema, ...) truncate at
    spark.sql.maxMetadataStringLength CHARACTERS, so a 2-digit vs
    3-digit expression id would shift the cut point and defeat the id
    normalization — the cap is raised around the toString and
    restored after.

    One warmth effect is NOT normalized away, deliberately: once a
    shared persisted subtree is materialized, Catalyst sees its
    ACCURATE statistics and can pick a different join strategy for
    later builds that reuse it (measured: dedup_ngram_jaccard plans
    differently after its shingle cache materializes). That is a real
    physical-plan difference, so the fingerprint reports it — treat a
    changed fp across rounds as a prompt to READ the plan, not as an
    automatic failure. The determinism test clears the cache between
    passes, which pins the code-level property exactly."""
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    prev = conf.get(key)
    conf.set(key, "100000")
    try:
        text = df._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.set(key, prev)
    for pat, repl in _PLAN_NOISE:
        text = pat.sub(repl, text)
    # canonicalize formatting: the tree gutter / indentation of a
    # cached subtree differs between its executed and never-executed
    # renderings even when the node content is identical — fingerprint
    # the node lines, not the ASCII art
    lines = []
    for ln in text.splitlines():
        ln = re.sub(r"^[\s:+\-*]+", "", ln).rstrip()
        if not ln or ln.startswith("== "):
            continue
        lines.append(ln)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def fp_changes(
    prev: dict[str, str | None], cur: dict[str, str | None]
) -> dict[str, dict[str, str | None]]:
    """Queries whose plan fingerprint differs from the previous
    archive: {name: {"prev": fp, "cur": fp}}. Only names present in
    BOTH dicts compare (a rotated/added query has no prior fp and is
    not a plan change); None (errored build) counts as a change so a
    query that stopped planning is loud."""
    return {
        q: {"prev": prev[q], "cur": cur[q]}
        for q in cur
        if q in prev and prev[q] != cur[q]
    }


def baseline_comparable(baseline: dict, cpus: int) -> bool:
    """Whether per-query ratios against ``baseline`` (a
    BENCH_BASELINE.json document) mean anything on a session of
    ``cpus`` cores: the baseline's provenance protocol names the
    ``local[N]`` it was recorded at, and a different N changes every
    query's parallelism. A baseline that names no N is taken as
    comparable. The provenance's own ``cpus`` field, when present, is
    preferred over the protocol string."""
    prov = baseline.get("provenance", {})
    if "cpus" in prov:
        return prov["cpus"] == cpus
    m = re.search(r"local\[(\d+)\]", prov.get("protocol", ""))
    return m is None or int(m.group(1)) == cpus


def time_query(fn, spark, sf_dir: str) -> tuple[float, str]:
    """One timed shot: reset data caches (see ``reset_caches``), then
    build + plan + fingerprint OUTSIDE the timed region, then time the
    collect alone. ADVICE r11 item 3: the
    fingerprint's executedPlan().toString() (with the metadata-length
    cap raised) plus regex normalization and two conf RPCs ran inside
    the timer, a small systematic additive bias largest in relative
    terms on the fastest queries. Fingerprinting forces planning and
    the QueryExecution caches it, so the collect reuses the plan —
    the timed region is execution + result transfer, the same
    quantity on every shot. BENCH_BASELINE.json records which
    protocol produced it in its `provenance` note; ratios only
    compare like with like."""
    reset_caches(spark)
    df = fn(spark, sf_dir)
    fp = plan_fingerprint(df)
    t0 = time.perf_counter()
    df.collect()
    return round(time.perf_counter() - t0, 3), fp


def aggregate_total(
    timings: dict[str, float | None], base: dict[str, float]
) -> float | None:
    """Suite total that can only DEGRADE on failure: an errored query
    (None timing) contributes its baseline timing; with no baseline to
    substitute the aggregate is meaningless — None. (A dropped query
    would make the headline number improve when something breaks.)"""
    total = 0.0
    for name, t in timings.items():
        if t is not None:
            total += t
        elif base.get(name) is not None:
            total += base[name]
        else:
            return None
    return round(total, 3)


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM/session, Hadoop FS/parquet reader, and the
    aggregate/join/window codegen paths so the alphabetically-first
    query isn't charged one-time init costs."""
    spark.range(1000).count()
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    r = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(Window.partitionBy().orderBy("r_name")))
        .collect()
    )
    # JIT/codegen warmup for the dedup family's shingle pipeline (its
    # first query otherwise absorbs the whole family's cold start —
    # measured 14.4s first call vs 5.0s steady on identical input).
    # Broadcast joins are disabled during the warmup so AQE compiles
    # the same sort-merge plan shapes the full-size query uses; a
    # 50-doc broadcast-join warmup leaves the SMJ codegen cold.
    from bigdata_commerce_spark.operators.dedup import jaccard_pairs

    docs_sample = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(60)
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    jaccard_pairs(docs_sample, threshold=0.8).count()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    # Python-worker startup (pandas UDF / Arrow) warmup. One partition
    # per core so EVERY reusable python worker forks and imports numpy
    # — a 100-row single-partition warmup leaves ~30 of 32 workers
    # cold, and the first UDF-bearing query (embedding_neardup, which
    # fans its matmul kernel across all cores) then absorbs 32 × the
    # (fork + numpy import) cost: measured 1.65x single-shot vs 1.09x
    # steady on an identical plan. (Hint-free pandas_udf form: string
    # annotations don't resolve under `from __future__ import
    # annotations`.) The UDF output feeds a sum: under a bare count()
    # Catalyst prunes the unused column and no worker starts.
    def _warm_kernel(s):
        import numpy as np  # the heavy per-worker import the kernels pay

        return s * np.float64(1.0)

    _warm = F.pandas_udf(_warm_kernel, "double")
    cpus = spark.sparkContext.defaultParallelism
    spark.range(0, cpus * 4, 1, cpus).select(
        _warm(F.col("id").cast("double")).alias("w")
    ).agg(F.sum("w")).collect()


def main() -> None:
    # Stdout contract (VERDICT r12 item 8): the driver parses ONE JSON
    # line from stdout, and round 11's artifact failed that parse
    # (BENCH_r11 parsed: null, rc 0) — a stray fd-1 write from the JVM
    # or an operator is enough to break a whole round's comparability.
    # Divert fd 1 to stderr for the entire run (dup2 catches JVM-side
    # writes that sys.stdout redirection cannot), restore it after
    # spark.stop(), and print the JSON line as the very last act.
    sys.stdout.flush()
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        out = _run_suite()
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
    print(json.dumps(out))


def _run_suite() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bigdata_commerce_spark_bench")
    warm_session(spark, sf_dir)

    # Per-query error isolation: one broken query must never zero out
    # the whole round's bench signal — record null and keep going.
    timings: dict[str, float | None] = {}
    plan_fp: dict[str, str | None] = {}
    errors: dict[str, str] = {}
    for name in headline_names():
        fn = ALL_QUERIES[name]
        try:
            timings[name], plan_fp[name] = time_query(fn, spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            timings[name] = None
            plan_fp.setdefault(name, None)
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    baseline_path = REPO / "BENCH_BASELINE.json"
    baseline = json.loads(baseline_path.read_text()) if baseline_path.exists() else {}
    base: dict[str, float] = baseline.get("queries", {})
    cpus = spark.sparkContext.defaultParallelism

    # Artifact hygiene: single-shot noise must not survive into the
    # round artifact. SYMMETRIC rule (round-6 advice: a one-sided
    # >1.2x-only retime biased the archived total downward — slow
    # outliers got best-of-N while lucky fast shots stood): any query
    # outside +-20% of its baseline gets warm re-shots, `queries`
    # records the best, and `retimed` keeps EVERY shot — the original
    # single-shot value is always shots[0], so the pre-retime number
    # stays auditable. Headline sf only — smoke sfs have no baseline.
    retimed: dict[str, list[float]] = {}
    for name, t in list(timings.items()):
        b = base.get(name)
        # baselines are sf0.1 numbers — only comparable at sf0.1
        if sf != "0.1" or t is None or not b or 0.8 * b <= t <= 1.2 * b:
            continue
        shots = [t]
        # 2 warm re-shots; for slow outliers, if the best still reads
        # >1.25x baseline, up to 2 more — measured: first re-shots
        # under residual box load can stay inflated while the true
        # steady state is below the bar (embedding_neardup: 3.25s
        # best-of-3 busy vs 2.9s steady). Bounded at 5 total shots.
        # Fast outliers always get exactly 2 confirming re-shots:
        # noise here is additive (GC, contention), so a warm min
        # confirms — or walks back — the lucky cold shot.
        while len(shots) < 5:
            try:
                t_shot, _ = time_query(ALL_QUERIES[name], spark, sf_dir)
            except Exception:  # noqa: BLE001
                break
            shots.append(t_shot)
            if len(shots) >= 3 and min(shots) <= 1.25 * b:
                break
        retimed[name] = shots
        # Slow outlier: best of all shots (the cold shot is the thing
        # being corrected, and any shot below it is evidence). Fast
        # outlier: best of the WARM re-shots only — min(shots) would
        # always include the lucky cold shot, so it could never be
        # walked back and the downward bias the symmetric rule exists
        # to remove would survive (round-7 advice).
        if t > 1.2 * b:
            timings[name] = min(shots)
        elif len(shots) > 1:
            timings[name] = min(shots[1:])
        # else: re-shot errored; keep the single-shot value.

    total = aggregate_total(timings, base)
    out = {
        "metric": "catalog_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "plan_fp": plan_fp,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }
    if errors:
        out["errors"] = errors
    if retimed:
        out["retimed"] = retimed

    # Regression guard: compare against the carried-forward baseline
    # (BENCH_BASELINE.json = round 1's sf0.1 numbers). The box swings
    # +-20% run to run — and single outlier timings (GC pause, cache
    # eviction) routinely cross 2x — so a first-pass flag is only a
    # *suspect*: re-time it twice and keep the flag only if the best
    # of three is still >2x baseline. Re-runs are warm-cache, which
    # biases toward NOT flagging — a flag that survives is real. Ratios
    # only mean something at the local[N] the baseline was recorded at.
    if base and str(out["sf"]) == "0.1" and baseline_comparable(baseline, cpus):
        out["baseline_queries"] = base
        out["baseline_ratio"] = {
            q: round(t / base[q], 3)
            for q, t in timings.items()
            if t is not None and base.get(q)
        }
        # >2x outliers were already best-of-N'd by the retime pass;
        # whatever still exceeds 2x is a real regression.
        out["regressions"] = {
            q: {"best_of_3": t, "baseline": base[q]}
            for q, t in timings.items()
            if t is not None and base.get(q) and t > 2 * base[q]
        }

    # Plan-drift report (VERDICT r10 item 5, closed loop): compare
    # this run's fingerprints against the PREVIOUS committed archive
    # so a plan change is flagged the round it lands, in the bench
    # output itself. Headline sf only — the archive is sf0.1.
    prev_latest = REPO / "BENCH_LATEST.json"
    if str(out["sf"]) == "0.1" and prev_latest.exists():
        try:
            prev_fp = json.loads(prev_latest.read_text()).get("plan_fp", {})
        except (OSError, ValueError):
            prev_fp = {}
        changed = fp_changes(prev_fp, plan_fp)
        if changed:
            out["plan_fp_changed"] = changed

    # Self-archive the FULL result in-repo: the driver keeps only the
    # last ~2000 chars of stdout, which loses most of the 50 per-query
    # timings; BENCH_LATEST.json makes every ratio auditable. Only the
    # headline sf lands there — smoke runs at other sfs archive to
    # .scratch so they can't clobber the committed artifact.
    latest_path = (
        REPO / "BENCH_LATEST.json"
        if str(out["sf"]) == "0.1"
        else REPO / ".scratch" / f"bench_latest_sf{out['sf']}.json"
    )
    try:
        latest_path.parent.mkdir(parents=True, exist_ok=True)
        latest_path.write_text(json.dumps(out, indent=2) + "\n")
    except OSError:
        pass  # archiving must never fail the bench itself
    spark.stop()
    return out


def rebaseline(names: list[str] | None = None) -> None:
    """Record a fresh BENCH_BASELINE.json (VERDICT r11 item 2): the
    round-1 baseline was a per-query best-of that accumulated three
    pinned "the baseline was a lucky shot" bands and ±50% plan-stable
    movers every round — the per-query noise floor was eating the
    signal the 2x regression gate carries. Protocol: same pinned
    query set and warmups as the headline run; per query ONE
    discarded first shot (absorbs per-query codegen/JIT), then
    five timed shots via ``time_query`` (collect-only timed
    region; since round 13 every shot is data-cache-cold — see
    ``reset_caches``), recording the MEDIAN of the timed shots — not the
    min, which just re-creates the lucky-shot denominator (measured:
    dedup_minhash_lsh warm shots [1.497, 1.498, 0.912] — the 0.912
    is a one-off a min would enshrine while the query's warm steady
    state is ~1.5s). Every shot is kept in `shots` for audit, the
    plan fingerprint in `plan_fp`. The old file must be archived
    (git) before running; the headline suite stays pinned to the
    same query set because the keys don't change.

    ``names`` re-times ONLY those queries and merges them into the
    existing baseline (re-deriving the total) — the repair path for a
    baseline entry contaminated by a host noise storm (this box
    stalls multi-second at random: a storm spanning a query's whole
    shot window poisons its median; every other entry is fine, so a
    full re-run would risk trading one storm for another). The merged
    file keeps both entries' shots for audit: the new shots are appended
    to the prior ones, and ``provenance.entries`` gains one record per
    re-time (head, timestamp, number of shots), so the flat shot list
    splits back into its recordings."""
    import statistics
    import subprocess

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    if sf != "0.1":
        raise SystemExit("rebaseline must run at the headline sf (sf0.1)")
    spark = get_spark(app_name="bigdata_commerce_spark_rebaseline")
    warm_session(spark, sf_dir)
    queries: dict[str, float] = {}
    plan_fp: dict[str, str] = {}
    shots_log: dict[str, list[float]] = {}
    entries: dict[str, list[dict]] = {}
    path = REPO / "BENCH_BASELINE.json"
    if names is not None:
        prior = json.loads(path.read_text())
        unknown = sorted(set(names) - set(prior["queries"]))
        if unknown:
            raise SystemExit(f"not in the pinned baseline set: {unknown}")
        queries = prior["queries"]
        plan_fp = prior.get("plan_fp", {})
        shots_log = prior.get("shots", {})
        entries = prior.get("provenance", {}).get("entries", {})
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=REPO,
        ).stdout.strip() or "unknown"
    except OSError:
        head = "unknown"
    for name in names if names is not None else headline_names():
        fn = ALL_QUERIES[name]
        shots = []
        fp = None
        for _ in range(5 + 1):
            t, fp = time_query(fn, spark, sf_dir)
            shots.append(t)
        queries[name] = round(statistics.median(shots[1:]), 3)  # cold shot discarded
        plan_fp[name] = fp
        shots_log[name] = shots_log.get(name, []) + shots
        entries.setdefault(name, []).append({
            "head": head,
            "recorded_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "shots": len(shots),
        })
        print(f"  {name}: {queries[name]} (shots: {shots})", file=sys.stderr)
    cpus = spark.sparkContext.defaultParallelism
    out = {
        "metric": "catalog_suite_wall",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf),
        "plan_fp": plan_fp,
        "shots": shots_log,
        "provenance": {
            "protocol": (
                "median of 5 data-cache-cold shots per query "
                "after one discarded warmup shot; every shot resets the "
                "persist registry + catalog cache (bench.reset_caches, "
                "round-13 cold-honest protocol); timed region = collect "
                "only (build/plan/fingerprint excluded — "
                "bench.time_query); quiet box, "
                f"local[{cpus}]"
            ),
            "cpus": cpus,
            "recorded_at_head": head,
            "entries": entries,
            "replaces": (
                "round-11 warm-protocol baseline (git history; "
                "originally round-1 per-query best-of, BENCH_BASELINE_r1.json)"
            ),
        },
    }
    path.write_text(json.dumps(out, indent=2) + "\n")
    print(json.dumps({"rebaselined": len(queries), "total": out["value"]}))
    spark.stop()


def fp_manifest(check: bool = False) -> None:
    """Plan fingerprints for EVERY registered query — driver slots AND
    twins (VERDICT r11 item 5: bench fingerprints only the 50 headline
    queries, so a plan regression in one of the 97 twins was invisible
    until its next rotation slot). Builds and fingerprints each plan at
    sf0.01 WITHOUT executing it, so a full sweep is cheap (planning
    only; constructors that collect tiny driver-side frames — funnel
    specs, centroids — still run those). Deterministic by
    construction: fresh process + fresh session, fixed sorted order
    (in-pass persist() registrations from earlier constructors are
    part of the plan state later queries legitimately see — the same
    order reproduces the same fingerprints). With ``check``, diffs
    against the committed PLAN_FP_MANIFEST.json and exits nonzero on
    any change — regenerate with `python bench.py --fp-manifest` and
    commit when a change is intended.

    The session is pinned to local[32] with 32 shuffle partitions, the
    configuration the manifest was recorded at: partition counts appear
    in the plans, so a $SPARK_GRAFT_CPUS-sized session would change most
    fingerprints on any box that sets it."""
    sf_dir = os.environ.get("SPARK_GRAFT_FP_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(
        app_name="bigdata_commerce_spark_fp_manifest",
        master="local[32]",
        shuffle_partitions=32,
    )
    fps: dict[str, str] = {}
    for name in sorted(ALL_QUERIES):
        fps[name] = plan_fingerprint(ALL_QUERIES[name](spark, sf_dir))
    path = REPO / "PLAN_FP_MANIFEST.json"
    if check:
        committed = json.loads(path.read_text())["plan_fp"]
        changed = fp_changes(committed, fps)
        added = sorted(set(fps) - set(committed))
        removed = sorted(set(committed) - set(fps))
        report = {"changed": changed, "added": added, "removed": removed}
        print(json.dumps(report))
        spark.stop()
        raise SystemExit(1 if (changed or added or removed) else 0)
    path.write_text(
        json.dumps(
            {"sf_dir": sf_dir, "n_queries": len(fps), "plan_fp": fps},
            indent=2,
            sort_keys=True,
        )
        + "\n"
    )
    print(json.dumps({"manifest": len(fps)}))
    spark.stop()


if __name__ == "__main__":
    if "--rebaseline" in sys.argv:
        only = None
        if "--only" in sys.argv:
            only = sys.argv[sys.argv.index("--only") + 1].split(",")
        rebaseline(names=only)
    elif "--fp-manifest" in sys.argv:
        fp_manifest(check="--check" in sys.argv)
    else:
        main()
