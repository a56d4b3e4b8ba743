"""Reachability: every program module and top-level function serves a
query, the CLI, the benchmark or the ad topology — or an allow-list
below names it with a reason.

Entry points: ``plans`` (the query registry), ``__main__`` (the CLI),
``streaming.pipelines`` (the ad topology), ``bench.py`` and
``scale_probe.py``. A module is reached when an import chain from an
entry point names it; function-local imports count. A top-level
function or class of a reached (or kept) module is used when its name
occurs anywhere else in the program — ``bigdata_commerce_spark/``,
``bench.py``, ``scale_probe.py`` — or in perfbench's workload code,
which drives the headline suite and the ad topology by name. A
``@query``/``@twin_query`` decorator counts as a use. Tests do not.

One value in use: for each defaulted parameter of a top-level function
(public or private) and of a public class's ``__init__`` and public
methods, the walk collects the values that calls in that same code
give it. A call that leaves it unbound gives the default; a literal
argument, by keyword or by position, gives its ``ast.literal_eval``
value; any other expression, or a ``*args``/``**kwargs`` splat in the
call, gives "unknown". The parameter is a setting only when it gets
two or more distinct values or an unknown one. Otherwise it is a
constant in waiting, whether no call binds it, every call passes its
own default, or every call passes one other literal, and it fails
unless ``ALLOWED_PARAMS`` names it with a reason. Calls match by name.
The deferred and kept modules and the deferred functions are out of
scope: they go whole later or are a fixed interface.

Each ``ALLOWED_PARAMS`` reason names the test file(s) that set the
parameter, and each named file must bind it, by keyword or by
position, on a call of that function. Test calls are read the same
way for the signature check: every call in ``tests/`` of a function a
test file imports from the package binds only parameters the function
has, so a slow-tier test cannot keep a keyword the program dropped. A
call of a test-local helper that forwards ``**kw`` to a program
function counts as a call of that function.

Pure AST walk: no Spark, about a second per check.
"""

from __future__ import annotations

import ast
import re
import shutil
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "bigdata_commerce_spark"
ENTRY_POINTS = (
    f"{PKG}.plans",
    f"{PKG}.__main__",
    f"{PKG}.streaming.pipelines",
    "bench",
    "scale_probe",
)

# Unreached modules kept on purpose: the reference's MySQL/Hive output
# path, parity-tested against the parquet state store. They count as
# program roots, so their own dead code is still caught.
KEPT_MODULES = {
    f"{PKG}.streaming.jdbc_state": "the reference's MySQL ad-state sink "
    "(JdbcHelper DAOs); tests/test_jdbc_state.py and test_streaming.py "
    "hold it row-identical to the parquet state store",
    f"{PKG}.streaming.dialects": "the MySQL dialect of that sink; "
    "tests/test_jdbc_dialects.py pins its statements",
    f"{PKG}.sources.sinks": "the reference's JDBC and Hive batch result "
    "sinks; tests/test_commerce.py round-trips them",
}

# Unreached modules whose only callers are fast-tier tests. Each goes,
# together with those tests, in a later change (ROADMAP #10).
DEFERRED_MODULES = {
    f"{PKG}.operators.bpe": "only subject of tests/test_bpe.py (9 tests)",
    f"{PKG}.sources.compaction": "only subject of 3 tests in "
    "tests/test_formats.py and tests/test_dataops.py",
    f"{PKG}.sources.formats": "only subject of 6 tests in tests/test_formats.py",
    f"{PKG}.sources.governance": "only subject of tests/test_governance.py (5 tests)",
}

# Top-level functions of reached modules that no program code names.
ALLOWED_FUNCTIONS = {
    # the paper's own path
    f"{PKG}.streaming.pipelines.kafka_event_source": "the reference's Kafka "
    "ad-click input; tests/test_kafka_live.py runs it against a live broker",
    # API of the kept modules above
    f"{PKG}.sources.sinks.write_jdbc": "the reference's MySQL result writer; "
    "test_commerce.py round-trips it through embedded Derby",
    f"{PKG}.sources.sinks.derby_config": "JdbcConfig for the embedded Derby "
    "that test_commerce.py, test_jdbc_state.py and test_streaming.py use",
    f"{PKG}.sources.sinks.write_partitioned": "the reference's date-partitioned "
    "Hive output; test_commerce.py checks it prunes",
    f"{PKG}.streaming.jdbc_state.JdbcStateBackend": "the MySQL state backend "
    "run_ad_pipeline takes; test_jdbc_state.py and test_streaming.py",
    # fixture builders
    f"{PKG}.sources.commerce.generate_commerce_tables": "the reference's mock "
    "data module as Spark tables; fixture of tests/test_commerce.py",
    f"{PKG}.sources.layout.files_overlapping": "measures file min/max overlap; "
    "tests/test_layout.py and test_snapshot.py check written layouts with it",
    # references for reached code
    f"{PKG}.operators.dedup._verify_jaccard": "exact verifier of the naive "
    "candidate join that test_dataops.py::test_prefix_filter_loses_no_pairs "
    "holds jaccard_pairs to",
    f"{PKG}.operators.diff.apply_changes": "inverse of table_diff; "
    "test_diff.py and test_hypothesis_ext.py check apply(old, diff(old, new)) == new",
    f"{PKG}.operators.quantize.dequantize_embeddings": "inverse of "
    "quantize_embeddings; test_dataops_ext.py bounds the round-trip error with it",
    f"{PKG}.operators.similarity.ivf_kmeans_topk": "in-memory form that "
    "test_dataops.py::test_ivf_index_serves_trained_quantizer holds "
    "search_ivf_index to",
    f"{PKG}.operators.stats.corr_state_measures": "MeasureSpec with which "
    "test_stats.py::test_corr_state_is_incrementally_maintainable merges "
    "corr_sums state",
    # deferred: only fast-tier tests call these (ROADMAP #10)
    f"{PKG}.operators.bloom.bloom_merge": "deferred; test_bloom.py",
    f"{PKG}.operators.diff.diff_snapshots": "deferred; test_diff.py",
    f"{PKG}.operators.diff.schema_diff": "deferred; test_diff.py",
    f"{PKG}.operators.dupspans.scrub_contaminated_spans": "deferred; "
    "test_dupspans.py, test_pipeline_dupspans.py",
    f"{PKG}.operators.encoding_repair.repair_encoding_exact": "deferred; "
    "test_encoding_repair.py",
    f"{PKG}.operators.incremental_agg.finalize": "deferred; test_incremental_agg.py",
    f"{PKG}.operators.ivf_index.cell_stats": "deferred; test_dataops.py",
    f"{PKG}.operators.ivf_index.ivf_append_sink": "deferred; test_dataops.py",
    f"{PKG}.operators.ivf_index.pruned_cell_scan": "deferred; test_dataops.py",
    f"{PKG}.operators.similarity.embedding_dedup_clusters": "deferred; test_dataops.py",
    f"{PKG}.operators.similarity.ivf_projected_topk": "deferred; test_dataops.py",
    f"{PKG}.operators.urltools.with_idna_host": "deferred; test_psl.py",
    f"{PKG}.operators.validate.agg_satisfies": "deferred; test_validate.py",
    f"{PKG}.operators.validate.in_reference": "deferred; test_validate.py",
    f"{PKG}.sources.snapshot.compact_snapshot": "deferred; test_snapshot.py",
    f"{PKG}.sources.snapshot.optimize_snapshot": "deferred; test_snapshot.py",
    f"{PKG}.sources.snapshot.vacuum": "deferred; test_snapshot.py",
}


# Defaulted parameters that every program and perfbench call gives one
# known value, as module.function.parameter
# (module.Class.method.parameter). Each reason names the test files
# whose calls set it (allow_list_reason_breaks checks them).
ALLOWED_PARAMS = {
    # deployment settings and the paper's own path
    f"{PKG}.session.get_spark.extra_conf": "the deployment's Spark confs; "
    "applied after the builder defaults, so it overrides any of them, as "
    "test_session.py checks",
    f"{PKG}.streaming.pipelines.kafka_event_source.starting_offsets": "the "
    "reference's Kafka input; test_kafka_live.py replays a topic from earliest",
    # a test's only way into a path that stays
    f"{PKG}.operators.dedup_cluster.connected_components.small_graph_threshold":
    "only way the distributed label-propagation loop runs at test scale "
    "(test_dataops.py)",
    f"{PKG}.operators.dedup_cluster.connected_components.max_iterations": "only "
    "way test_dataops.py reaches the non-convergence error",
    f"{PKG}.operators.concentration.concentration_report.bucket_width": "forces "
    "the multi-bucket prefix-sum path; test_concentration.py checks invariance",
    f"{PKG}.operators.packing.pack_sequences.bucket_width": "bucket layout of "
    "the packer; test_dataops_ext.py and test_hypothesis_ext.py check invariance",
    f"{PKG}.operators.drift.ks_report.n_buckets": "bucket layout of the KS "
    "sweep; test_dataops.py checks the statistic does not depend on it",
    f"{PKG}.operators.editdist.edit_distance_join.q": "q-gram length of the "
    "candidate filter; test_editdist.py fuzzes q 1-4 against brute force",
    f"{PKG}.operators.calibration.calibration_bins.n_bins": "bin-edge "
    "placement; test_calibration.py checks a two-bin split",
    f"{PKG}.operators.cooccur.cooccurrence_pmi.cap_per_group": "per-group "
    "sampling cap; test_cooccur.py checks its bound and determinism",
    f"{PKG}.operators.lm_quality.dsir_logratio.keep_fraction": "keep-threshold "
    "quantile; test_curation_recipes.py checks its extremes",
    f"{PKG}.operators.bloom.bloom_semi_join.fpp": "filter false-positive "
    "rate; test_bloom.py holds the pruned join to Spark's own at 0.5-0.005",
    f"{PKG}.operators.bloom.bloom_anti_join.fpp": "the same test_bloom.py check",
    f"{PKG}.operators.sketch.exact_group_percentiles.max_group_rows": "the "
    "group-size guard; test_sketch_guard.py trips and disables it",
    f"{PKG}.sources.shards.with_shuffled_index.salt": "test_dataops_ext.py "
    "checks another salt gives another order",
    f"{PKG}.operators.ivf_index.write_ivf_index.centroids": "pre-trained "
    "centroids; test_dataops.py serves a fixed quantizer with them",
    f"{PKG}.operators.similarity.semdedup.centroids": "explicit centroids; "
    "test_dataops_ext.py puts a tiny corpus's near-dup pair in one cell",
    f"{PKG}.operators.similarity.ivf_kmeans_topk.k": "the reference top-k "
    "search_ivf_index is held to in test_dataops.py",
    f"{PKG}.operators.similarity.ivf_kmeans_topk.seed": "the same "
    "test_dataops.py check; the quantizer seed must match the index's",
    f"{PKG}.operators.similarity.lsh_ann_topk.num_planes": "LSH geometry; "
    "test_dataops_ext.py reaches its contract errors with a band count that "
    "does not divide the planes",
    f"{PKG}.operators.similarity.lsh_ann_topk.bands": "the same "
    "test_dataops_ext.py check",
    f"{PKG}.operators.similarity.lsh_ann_topk.dim": "the same "
    "test_dataops_ext.py check",
    # every program call gives one value, but a test needs another to
    # reach a path that stays, or to hold one path to a reference
    f"{PKG}.operators.bootstrap.poisson_bootstrap_ci.level": "test_bootstrap.py::"
    "test_wider_level_wider_interval nests the 0.5 interval in the 0.95 one",
    f"{PKG}.operators.cooccur.cooccurrence_pmi.min_pairs": "test_cooccur.py "
    "holds the support cut to a Python reference over generated min_pairs",
    f"{PKG}.operators.dedup.minhash_lsh_pairs.bands": "test_dataops_ext.py::"
    "test_lsh_band_geometry_validated reaches the bands-must-divide errors",
    f"{PKG}.operators.dedup.similarity_join.threshold": "test_dataops_ext.py::"
    "test_similarity_join_cross_table holds it to naive Jaccard at 0.5",
    f"{PKG}.operators.ivf_index.search_ivf_index.k": "test_fuzz_differential.py "
    "holds k=3 searches to brute force",
    f"{PKG}.operators.ivf_index.write_ivf_index.n_centroids": "test_dataops_ext.py "
    "builds an 8-cell index for its small corpus",
    f"{PKG}.operators.mixing.mixture_sample.default": "test_weighted_sample.py "
    "pre-thins unlisted sources at 0.8 and holds the exact quota to the unthinned one",
    f"{PKG}.operators.mixing.weighted_sample.group_cols": "the ungrouped sample; "
    "test_weighted_sample.py holds it to a Python reference",
    f"{PKG}.operators.multimodal.frame_sample.n_frames": "test_dataops_ext.py "
    "samples 3 frames of tiny media",
    f"{PKG}.operators.multimodal.media_phash_pairs.max_hamming": "test_dataops_ext.py "
    "checks the distance cut at 2",
    f"{PKG}.operators.multimodal.phash_words_hamming_pairs.max_hamming": "test_"
    "dataops_ext.py reaches the unaligned-bands error at 2",
    f"{PKG}.operators.multimodal.resize_media.height": "test_dataops_ext.py "
    "resizes to 2x2 so a pixel-level check stays small",
    f"{PKG}.operators.multimodal.resize_media.width": "the same "
    "test_dataops_ext.py check",
    f"{PKG}.operators.packing.pack_sequences.budget": "test_dataops_ext.py and "
    "test_hypothesis_ext.py pack small documents under small budgets and "
    "reach the budget errors",
    f"{PKG}.operators.preference.preference_pairs.margin": "test_preference.py "
    "checks the margin gate at 0, 0.01 and 0.7",
    f"{PKG}.operators.preference.preference_pairs.max_pairs": "test_preference.py "
    "checks the pair cap at 2",
    f"{PKG}.operators.privacy.kanonymity_report.k": "test_privacy.py checks the "
    "risky-class counts at k=2 and k=5",
    f"{PKG}.operators.privacy.kanonymity_report.show_n": "test_privacy.py checks "
    "the row cap at 5",
    f"{PKG}.operators.range_join.range_join.bucket_seconds": "bucket layout; "
    "test_dataops.py holds 600/3600/86400 s buckets to the naive join",
    f"{PKG}.operators.robust.robust_flag_anomalies.z_threshold": "test_robust.py's "
    "masking check flags both detectors at one z; test_hypothesis_stats.py "
    "sweeps it against a reference",
    f"{PKG}.operators.robust.winsorize.lower": "test_robust.py hand-computes the "
    "clip band at 0.10/0.90 and 0/0.5",
    f"{PKG}.operators.robust.winsorize.upper": "the same test_robust.py check",
    f"{PKG}.operators.running.running_sum_per_key.bucket_seconds": "the bucketed "
    "path; test_dataops_ext.py and test_hypothesis_ext.py hold it to the exact one",
    f"{PKG}.operators.similarity.mine_hard_negatives.k": "test_dataops_ext.py "
    "checks small k against plain top-k",
    f"{PKG}.operators.similarity.semdedup.tau": "test_dataops_ext.py checks the "
    "prune gate at 0.75-0.99",
    f"{PKG}.operators.text.chunk_documents.chunk_tokens": "window geometry; "
    "test_dataops_ext.py and test_hypothesis_ext.py check chunking of short "
    "documents with 2-4 token windows",
    f"{PKG}.operators.text.chunk_documents.overlap": "the same checks in "
    "test_dataops_ext.py and test_hypothesis_ext.py",
    f"{PKG}.operators.text.remove_frequent_lines.delimiter": "test_dataops_ext.py "
    "checks a literal '.' delimiter",
    f"{PKG}.operators.text.tfidf_top_terms.k": "test_dataops_ext.py, "
    "test_hypothesis_ext.py and test_plan_shape.py check small k by hand and "
    "against brute force",
    f"{PKG}.operators.timeseries.flag_anomalies.z_threshold": "test_robust.py's "
    "masking check (see robust_flag_anomalies)",
    f"{PKG}.operators.timeseries.similar_series.bucket_seconds": "test_dataops_"
    "ext.py ranks a 4-bucket, 60 s grid",
    f"{PKG}.operators.timeseries.similar_series.k": "the same "
    "test_dataops_ext.py check",
    f"{PKG}.operators.timeseries.similar_series.n_buckets": "the same "
    "test_dataops_ext.py check",
    f"{PKG}.sources.layout.zorder_value.bits": "test_layout.py and "
    "test_hypothesis_ext.py check the interleave on a 3-bit grid and against "
    "a Python reference",
}


def _program(root: Path) -> dict[str, Path]:
    mods = {}
    for p in (root / PKG).rglob("*.py"):
        parts = list(p.relative_to(root).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = p
    for script in ("bench", "scale_probe"):
        mods[script] = root / f"{script}.py"
    return mods


def _absolute(module: str, path: Path, node: ast.ImportFrom) -> str:
    """The absolute module an ``ImportFrom`` in ``module`` names."""
    if not node.level:
        return node.module or ""
    pkg = module.split(".")
    if path.name != "__init__.py":
        pkg.pop()
    pkg = pkg[: len(pkg) - node.level + 1]
    return ".".join(pkg + ([node.module] if node.module else []))


def _imports(name: str, path: Path, tree: ast.Module, mods: dict[str, Path]) -> set[str]:
    named = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            named.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _absolute(name, path, node)
            named.add(base)
            named.update(f"{base}.{a.name}" for a in node.names)
    # importing a.b.c runs a/__init__ and a/b/__init__ too
    return {
        prefix
        for dotted in named
        for prefix in (".".join(dotted.split(".")[:i]) for i in range(1, dotted.count(".") + 2))
        if prefix in mods
    }


def _names(tree: ast.AST):
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.split(".")[-1]


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) in ("query", "twin_query")
        for d in getattr(node, "decorator_list", ())
    )


def analyse(root: Path = REPO) -> tuple[set[str], set[str]]:
    """(unreached modules, unused top-level functions as module.name),
    before the allow-lists are applied."""
    mods = _program(root)
    trees = {m: ast.parse(p.read_text()) for m, p in mods.items()}
    reached: set[str] = set()
    todo = [*ENTRY_POINTS, *(m for m in KEPT_MODULES if m in mods)]
    while todo:
        m = todo.pop()
        if m not in reached:
            reached.add(m)
            todo.extend(_imports(m, mods[m], trees[m], mods) - reached)

    uses = Counter(n for m in reached for n in _names(trees[m]))
    for p in (root / "perfbench").glob("*.py"):
        uses.update(_names(ast.parse(p.read_text())))
    unused = set()
    for m in reached:
        for node in trees[m].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            own = sum(1 for n in _names(node) if n == node.name)
            if uses[node.name] == own and not _registered(node):
                unused.add(f"{m}.{node.name}")
    return set(mods) - reached, unused


def _defs(tree: ast.Module):
    """(qualified name, name a call uses, def node) of each top-level
    function, public class ``__init__`` and public method."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node.name, node
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                    sub.name == "__init__" or not sub.name.startswith("_")
                ):
                    callee = node.name if sub.name == "__init__" else sub.name
                    yield f"{node.name}.{sub.name}", callee, sub


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, positional index or None, default) of each defaulted
    parameter, ``self``/``cls`` not counted."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    if pos[:1] in (["self"], ["cls"]):
        pos = pos[1:]
    first = len(pos) - len(a.defaults)
    out = [(name, i, a.defaults[i - first]) for i, name in enumerate(pos) if i >= first]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


UNKNOWN = ("unknown",)


def _value(node: ast.expr):
    """A literal's value as a hashable key, else UNKNOWN."""
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return UNKNOWN
    return type(v).__name__, repr(v)


def param_values(root: Path = REPO) -> dict[str, set]:
    """module.function.parameter -> the values program and perfbench
    calls give it, for each defaulted parameter in scope. A call that
    leaves it unbound gives the default (a non-literal default is one
    value too); a literal argument gives its value; any other
    expression, or a splat in the call, gives UNKNOWN."""
    mods = _program(root)
    trees = {m: ast.parse(p.read_text()) for m, p in mods.items()}
    callers = [*trees.values()]
    callers += [ast.parse(p.read_text()) for p in (root / "perfbench").glob("*.py")]
    calls: dict[str, list[ast.Call]] = {}
    for tree in callers:
        aliases = {
            a.asname: a.name.split(".")[-1]
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
            if a.asname
        }
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                calls.setdefault(aliases.get(name, name), []).append(n)
    deferred = {f for f, why in ALLOWED_FUNCTIONS.items() if why.startswith("deferred")}
    values: dict[str, set] = {}
    for m, tree in trees.items():
        if m in DEFERRED_MODULES or m in KEPT_MODULES:
            continue
        for qual, callee, fn in _defs(tree):
            if f"{m}.{qual.split('.')[0]}" in deferred:
                continue
            for param, i, default in _defaulted(fn):
                got = values.setdefault(f"{m}.{qual}.{param}", set())
                unbound = _value(default)
                if unbound is UNKNOWN:
                    unbound = ("default", ast.unparse(default))
                for call in calls.get(callee, ()):
                    bound = [k.value for k in call.keywords if k.arg == param]
                    if i is not None and i < len(call.args):
                        bound.append(call.args[i])
                    if any(isinstance(a, ast.Starred) for a in call.args) or any(
                        k.arg is None for k in call.keywords
                    ):
                        got.add(UNKNOWN)
                    else:
                        got.add(_value(bound[0]) if bound else unbound)
                if not got:
                    got.add(unbound)
    return values


def unset_params(root: Path = REPO) -> tuple[set[str], int]:
    """(defaulted parameters every call gives one known value, all
    defaulted parameters) in scope."""
    values = param_values(root)
    one = {p for p, got in values.items() if UNKNOWN not in got and len(got) < 2}
    return one, len(values)


def _resolve(mods: dict[str, Path], trees: dict[str, ast.Module], module: str, name: str):
    """What ``module.name`` is: ("module", dotted) for a submodule,
    ("def", qualified, FunctionDef) for a function or a class with an
    ``__init__`` (its qualified name ``module.Class.__init__``),
    following top-level re-exports; ("other",) for any other name the
    module binds; None when it binds no such name."""
    if f"{module}.{name}" in mods:
        return "module", f"{module}.{name}"
    tree = trees.get(module)
    for node in tree.body if tree else ():
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name == name:
            return "def", f"{module}.{name}", node
        if isinstance(node, ast.ClassDef) and node.name == name:
            init = [
                f for f in node.body
                if isinstance(f, ast.FunctionDef) and f.name == "__init__"
            ]
            return ("def", f"{module}.{name}.__init__", init[0]) if init else ("other",)
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                if (a.asname or a.name) == name:
                    source = _absolute(module, mods[module], node)
                    return _resolve(mods, trees, source, a.name)
    if tree is None or any(
        isinstance(t, ast.Name) and isinstance(t.ctx, ast.Store) and t.id == name
        or isinstance(t, ast.alias) and (t.asname or t.name).split(".")[0] == name
        for node in tree.body
        for t in ast.walk(node)
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ):
        return ("other",)
    return None


def _signature(fn: ast.FunctionDef) -> tuple[list[str], set[str], bool, bool]:
    """(positional names, keyword names, takes *args, takes **kwargs),
    ``self`` of an ``__init__`` not counted."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    if fn.name == "__init__":
        pos = pos[1:]
    kw = {p.arg for p in a.args + a.kwonlyargs} - {"self"}
    return pos, kw, a.vararg is not None, a.kwarg is not None


def calls_in_tests(root: Path = REPO) -> list[tuple]:
    """Every call in ``tests/`` to a program function: (test file,
    line, qualified function, its def, positional arguments or -1
    after a ``*`` splat, keyword names). A function is reached through
    the names a test file imports from the package, anywhere in the
    file, as ``name(...)`` or ``module_alias.name(...)``. A call to a
    test-local helper that forwards its ``**kw`` to a program function
    counts as a call of that function with the keywords the helper
    does not take itself (no positional arguments). An import, or a
    call through a module alias, of a name the module does not bind
    gives (test file, line, dotted name, None, 0, [])."""
    mods = _program(root)
    trees = {m: ast.parse(p.read_text()) for m, p in mods.items() if m.startswith(PKG)}
    out = []
    for path in sorted((root / "tests").glob("test_*.py")):
        tree = ast.parse(path.read_text())
        names: dict[str, tuple] = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(PKG):
                for a in n.names:
                    got = _resolve(mods, trees, n.module, a.name)
                    if got:
                        names[a.asname or a.name] = got
                    else:
                        dotted = f"{n.module}.{a.name}"
                        out.append((path.name, n.lineno, dotted, None, 0, []))
            elif isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname and a.name in mods:
                        names[a.asname] = ("module", a.name)

        def target(f: ast.expr):
            if isinstance(f, ast.Name):
                got = names.get(f.id)
            elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
                mod = names.get(f.value.id)
                if not mod or mod[0] != "module":
                    return None
                got = _resolve(mods, trees, mod[1], f.attr)
                got = got or ("def", f"{mod[1]}.{f.attr}", None)
            else:
                got = None
            return got if got and got[0] == "def" else None

        # a loop variable over a literal tuple of program functions
        # (``for fn in (mod.f, mod.g)``, or one component of a tuple
        # target) calls each of them
        looped: dict[str, list] = {}
        for loop in (n for n in ast.walk(tree) if isinstance(n, ast.For)):
            if not isinstance(loop.iter, (ast.Tuple, ast.List)):
                continue
            elts = loop.iter.elts
            slots = {getattr(loop.target, "id", None): elts}
            if isinstance(loop.target, ast.Tuple):
                slots = {
                    getattr(t, "id", None): [
                        e.elts[i] for e in elts
                        if isinstance(e, ast.Tuple) and len(e.elts) > i
                    ]
                    for i, t in enumerate(loop.target.elts)
                }
            for name, picked in slots.items():
                gots = [target(e) for e in picked]
                if name and gots and len(gots) == len(elts) and all(gots):
                    looped[name] = gots

        def targets(call: ast.Call) -> list:
            if isinstance(call.func, ast.Name) and call.func.id in looped:
                return looped[call.func.id]
            got = target(call.func)
            return [got] if got else []

        def record(call: ast.Call, got, npos: int, keywords: list[str]):
            out.append((path.name, call.lineno, got[1], got[2], npos, keywords))

        helpers = {}
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and fn.args.kwarg:
                own = {p.arg for p in fn.args.args + fn.args.kwonlyargs}
                kw = fn.args.kwarg.arg
                fwd = [
                    got for c in ast.walk(fn) if isinstance(c, ast.Call)
                    for got in targets(c)
                    if any(k.arg is None and getattr(k.value, "id", None) == kw
                           for k in c.keywords)
                ]
                if fwd:
                    helpers[fn.name] = own, fwd
        for call in (c for c in ast.walk(tree) if isinstance(c, ast.Call)):
            gots = targets(call)
            star = any(isinstance(a, ast.Starred) for a in call.args)
            for got in gots:
                record(call, got, -1 if star else len(call.args),
                       [k.arg for k in call.keywords if k.arg])
            if not gots and isinstance(call.func, ast.Name) and call.func.id in helpers:
                own, fwd = helpers[call.func.id]
                keywords = [k.arg for k in call.keywords if k.arg and k.arg not in own]
                for got in fwd:
                    record(call, got, 0, keywords)
    return out


def signature_breaks(root: Path = REPO) -> list[str]:
    """Test calls that bind a parameter the function does not have:
    an unknown keyword, too many positional arguments, or a parameter
    bound by position and by keyword."""
    bad = []
    for file, line, qual, fn, npos, keywords in calls_in_tests(root):
        where = f"{file}:{line} {qual}"
        if fn is None:
            bad.append(f"{where}: the program binds no such name")
            continue
        pos, kw, varargs, varkw = _signature(fn)
        if npos > len(pos) and not varargs:
            bad.append(f"{where}: {npos} positional arguments, takes {len(pos)}")
        for k in keywords:
            if k not in kw and not varkw:
                bad.append(f"{where}: unknown keyword {k!r}")
            elif k in pos[: max(npos, 0)]:
                bad.append(f"{where}: {k!r} bound by position and by keyword")
    return bad


def bindings_in_tests(root: Path = REPO) -> dict[tuple[str, str], set[str]]:
    """(test file, qualified function) -> the parameters that file's
    calls bind, by keyword or by position."""
    bound: dict[tuple[str, str], set[str]] = {}
    for file, _, qual, fn, npos, keywords in calls_in_tests(root):
        if fn is None:
            continue
        pos = _signature(fn)[0]
        bound.setdefault((file, qual), set()).update(keywords, pos[: max(npos, 0)])
    return bound


def allow_list_reason_breaks(
    root: Path = REPO, allowed: dict[str, str] = ALLOWED_PARAMS
) -> list[str]:
    """Allow-listed parameters whose reason names no test file, names
    a file ``tests/`` lacks, or names a file none of whose calls of
    that function binds the parameter."""
    bound = bindings_in_tests(root)
    bad = []
    for key, why in allowed.items():
        qual, param = key.rsplit(".", 1)
        files = re.findall(r"\btest_\w+\.py\b", why)
        if not files:
            bad.append(f"{key}: the reason names no test file")
        for f in files:
            if not (root / "tests" / f).is_file():
                bad.append(f"{key}: tests/{f} does not exist")
            elif param not in bound.get((f, qual), ()):
                bad.append(f"{key}: no call in {f} binds it")
    return bad


def test_every_module_is_reached_or_allowed():
    unreached, _ = analyse()
    extra = unreached - set(KEPT_MODULES) - set(DEFERRED_MODULES)
    assert not extra, f"modules no entry point imports: {sorted(extra)}"


def test_every_function_is_used_or_allowed():
    _, unused = analyse()
    extra = unused - set(ALLOWED_FUNCTIONS)
    assert not extra, f"top-level functions no program code names: {sorted(extra)}"


def test_allow_lists_hold_no_stale_entry():
    """An entry that is reached or used again, or names nothing, must
    leave the list, so the lists only shrink with the code."""
    unreached, unused = analyse()
    stale_mods = sorted(set(DEFERRED_MODULES) - unreached)
    assert not stale_mods, f"allow-listed modules now reached or gone: {stale_mods}"
    stale_fns = sorted(set(ALLOWED_FUNCTIONS) - unused)
    assert not stale_fns, f"allow-listed functions now used or gone: {stale_fns}"
    stale_params = sorted(set(ALLOWED_PARAMS) - unset_params()[0])
    assert not stale_params, f"allow-listed parameters now set or gone: {stale_params}"


def test_every_defaulted_parameter_is_set_or_allowed():
    extra = unset_params()[0] - set(ALLOWED_PARAMS)
    assert not extra, f"defaulted parameters no call binds: {sorted(extra)}"


def _copy_program(dst: Path) -> None:
    shutil.copytree(REPO / PKG, dst / PKG, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copytree(REPO / "perfbench", dst / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    for script in ("bench.py", "scale_probe.py"):
        shutil.copy(REPO / script, dst / script)


def test_planted_unreached_module_and_function_are_caught(tmp_path):
    """The walk on a copy of the program with one orphan module and one
    orphan function reports exactly those two."""
    _copy_program(tmp_path)
    (tmp_path / PKG / "operators" / "planted.py").write_text("def f():\n    return 1\n")
    with open(tmp_path / PKG / "operators" / "topk.py", "a") as fh:
        fh.write("\n\ndef planted_orphan_fn():\n    return planted_orphan_fn\n")

    base_unreached, base_unused = analyse()
    unreached, unused = analyse(tmp_path)
    assert unreached - base_unreached == {f"{PKG}.operators.planted"}
    assert unused - base_unused == {f"{PKG}.operators.topk.planted_orphan_fn"}


def test_planted_unset_parameter_is_caught(tmp_path):
    """A planted function whose callers bind one of its two defaulted
    parameters, by keyword, to two values reports exactly the other."""
    _copy_program(tmp_path)
    with open(tmp_path / PKG / "operators" / "topk.py", "a") as fh:
        fh.write(
            "\n\ndef planted_fn(x, planted_opt=1, planted_set=2):\n"
            "    return x + planted_opt + planted_set\n"
            "\n\ndef _planted_caller():\n"
            "    return planted_fn(1, planted_set=3) + planted_fn(2, planted_set=4)\n"
        )
    unset, _ = unset_params(tmp_path)
    assert unset - unset_params()[0] == {f"{PKG}.operators.topk.planted_fn.planted_opt"}


def test_planted_one_valued_parameters_are_caught(tmp_path):
    """The value rule on planted functions: a parameter every call
    binds to its own default, one every call binds to the same other
    literal and an unbound default of a private helper are reported;
    one bound to two distinct literals and one bound to a variable
    are not."""
    _copy_program(tmp_path)
    with open(tmp_path / PKG / "operators" / "topk.py", "a") as fh:
        fh.write(
            "\n\ndef planted_fn(x, own=1, other=2, two=3, var=4):\n"
            "    return x + own + other + two + var\n"
            "\n\ndef _planted_helper(x, unbound=5):\n"
            "    return x + unbound\n"
            "\n\ndef _planted_caller(v):\n"
            "    planted_fn(1, own=1, other=7, two=8, var=v)\n"
            "    planted_fn(2, 1, 7, two=9, var=0)\n"
            "    return _planted_helper(planted_fn)\n"
        )
    unset, _ = unset_params(tmp_path)
    assert unset - unset_params()[0] == {
        f"{PKG}.operators.topk.planted_fn.own",
        f"{PKG}.operators.topk.planted_fn.other",
        f"{PKG}.operators.topk._planted_helper.unbound",
    }


def test_test_calls_bind_only_parameters_the_function_has():
    bad = signature_breaks()
    assert not bad, f"test calls that no longer match the program: {bad}"


def test_planted_stale_test_calls_are_caught(tmp_path):
    """On a copy of the program and the tests, a planted stale keyword,
    one extra positional argument and a stale keyword passed through a
    ``**kw``-forwarding helper are each reported; a valid planted call
    is not."""
    _copy_program(tmp_path)
    shutil.copytree(REPO / "tests", tmp_path / "tests",
                    ignore=shutil.ignore_patterns("__pycache__"))
    with open(tmp_path / "tests" / "test_ewma.py", "a") as fh:
        fh.write(
            "\n\ndef test_planted(spark):\n"
            "    df = _frame(spark, {1: [1.0]})\n"
            "    ewma_per_key(df, 0.3, bucket_seconds=60)\n"
            "    ewma_per_key(df, 0.3, 60)\n"
            "    ewma_per_key(df, alpha=0.3)\n"
        )
    with open(tmp_path / "tests" / "test_privacy.py", "a") as fh:
        fh.write("\n\ndef test_planted(spark):\n    _report(spark, [], kk=5)\n")
    new = set(signature_breaks(tmp_path)) - set(signature_breaks())
    fn = f"{PKG}.operators.timeseries.ewma_per_key"
    assert {b.split(" ", 1)[1] for b in new} == {
        f"{fn}: unknown keyword 'bucket_seconds'",
        f"{fn}: 3 positional arguments, takes 2",
        f"{PKG}.operators.privacy.kanonymity_report: unknown keyword 'kk'",
    }


def test_allow_list_reasons_name_a_test_that_binds_the_parameter():
    bad = allow_list_reason_breaks()
    assert not bad, f"allow-list reasons the tests do not back: {bad}"


def test_planted_allow_list_reasons_are_checked():
    """A reason naming no test file, a missing file, or a file with no
    call binding the parameter fails; a file that binds it only
    through a ``**kw``-forwarding helper passes."""
    alpha = f"{PKG}.operators.timeseries.ewma_per_key.alpha"
    level = f"{PKG}.operators.bootstrap.poisson_bootstrap_ci.level"
    bad = allow_list_reason_breaks(allowed={
        alpha: "test_profile.py",
        f"{alpha}x": "a reason without a file",
        level: "test_bootstrap.py and test_no_such_file.py",
    })
    assert sorted(bad) == sorted([
        f"{alpha}: no call in test_profile.py binds it",
        f"{alpha}x: the reason names no test file",
        f"{level}: tests/test_no_such_file.py does not exist",
    ])
