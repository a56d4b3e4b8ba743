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

One value in use: a defaulted parameter of a public function (or of a
public class's ``__init__`` and public methods) is a setting only when
some call in that same code binds it, by keyword or by position, so
each one no call binds is a constant in waiting and fails unless
``ALLOWED_PARAMS`` names it with a reason. Calls match by name, and a
``*args``/``**kwargs`` splat binds every parameter of its callee. The
deferred and kept modules and the deferred functions are out of scope:
they go whole later or are a fixed interface.

Pure AST walk: no Spark, well under a second.
"""

from __future__ import annotations

import ast
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
    f"{PKG}.operators.psl.load_psl": "deferred; test_psl.py",
    f"{PKG}.operators.similarity.embedding_dedup_clusters": "deferred; test_dataops.py",
    f"{PKG}.operators.similarity.ivf_projected_topk": "deferred; test_dataops.py",
    f"{PKG}.operators.sketch.hll_estimate_over": "deferred; test_dataops.py",
    f"{PKG}.operators.sketch.hll_rollup": "deferred; test_dataops.py",
    f"{PKG}.operators.urltools.with_idna_host": "deferred; test_psl.py",
    f"{PKG}.operators.validate.agg_satisfies": "deferred; test_validate.py",
    f"{PKG}.operators.validate.in_reference": "deferred; test_validate.py",
    f"{PKG}.sources.snapshot.compact_snapshot": "deferred; test_snapshot.py",
    f"{PKG}.sources.snapshot.optimize_snapshot": "deferred; test_snapshot.py",
    f"{PKG}.sources.snapshot.vacuum": "deferred; test_snapshot.py",
}


# Defaulted parameters no program or perfbench call binds, as
# module.function.parameter (module.Class.method.parameter).
ALLOWED_PARAMS = {
    # deployment settings and the paper's own path
    f"{PKG}.session.get_spark.extra_conf": "the deployment's Spark confs; "
    "applied after the builder defaults, so it overrides any of them",
    f"{PKG}.streaming.pipelines.kafka_event_source.starting_offsets": "the "
    "reference's Kafka input; test_kafka_live.py replays a topic from earliest",
    # a test's only way into a path that stays
    f"{PKG}.operators.dedup_cluster.connected_components.small_graph_threshold":
    "only way the distributed label-propagation loop runs at test scale "
    "(test_dataops.py)",
    f"{PKG}.operators.dedup_cluster.connected_components.max_iterations": "only "
    "way test_dataops.py reaches the non-convergence error",
    f"{PKG}.operators.bm25.bm25_scores.n_docs": "snapshot-level corpus stats "
    "skip the stats scan; test_dataops_ext.py holds that path to the computed one",
    f"{PKG}.operators.bm25.bm25_scores.avgdl": "pairs with n_docs (same test)",
    f"{PKG}.operators.concentration.concentration_report.bucket_width": "forces "
    "the multi-bucket prefix-sum path; test_concentration.py checks invariance",
    f"{PKG}.operators.packing.pack_sequences.bucket_width": "bucket layout of "
    "the packer; test_dataops_ext.py and test_hypothesis_ext.py check invariance",
    f"{PKG}.operators.drift.ks_report.n_buckets": "bucket layout of the KS "
    "sweep; test_dataops.py checks the statistic does not depend on it",
    f"{PKG}.operators.timeseries.ewma_per_key.bucket_seconds": "the bucketed "
    "EWMA path; test_ewma.py and test_hypothesis_ext.py hold it to the exact one",
    f"{PKG}.operators.editdist.edit_distance_join.q": "q-gram length of the "
    "candidate filter; test_editdist.py fuzzes q 1-4 against brute force",
    f"{PKG}.operators.calibration.calibration_bins.n_bins": "bin-edge "
    "placement; test_calibration.py checks a two-bin split",
    f"{PKG}.operators.cooccur.cooccurrence_pmi.cap_per_group": "per-group "
    "sampling cap; test_cooccur.py checks its bound and determinism",
    f"{PKG}.operators.lm_quality.dsir_logratio.keep_fraction": "keep-threshold "
    "quantile; test_curation_recipes.py checks its extremes",
    f"{PKG}.operators.profile.profile_table.columns": "column subset and order; "
    "test_profile.py",
    f"{PKG}.operators.rfm.rfm_scores.asof": "recency anchor override; "
    "test_dataops_ext.py checks it shifts every recency by the same delta",
    f"{PKG}.operators.dupspans.tag_phrases.lowercase": "case-sensitive "
    "matching; test_dupspans.py",
    f"{PKG}.operators.bloom.bloom_semi_join.fpp": "filter false-positive "
    "rate; test_bloom.py holds the pruned join to Spark's own at 0.5-0.005",
    f"{PKG}.operators.bloom.bloom_anti_join.fpp": "same test",
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
    f"{PKG}.operators.similarity.ivf_kmeans_topk.seed": "same test; the "
    "quantizer seed must match the index's",
    f"{PKG}.operators.similarity.lsh_ann_topk.num_planes": "LSH geometry; "
    "test_dataops_ext.py reaches its contract errors with a band count that "
    "does not divide the planes",
    f"{PKG}.operators.similarity.lsh_ann_topk.bands": "same test",
    f"{PKG}.operators.similarity.lsh_ann_topk.dim": "same test",
    f"{PKG}.operators.urltools.with_canonical_url.tracking_params": "the "
    "scrubbed query-parameter set; test_urltools.py widens it",
    f"{PKG}.operators.urltools.with_registered_domain.rules": "suffix rules "
    "without the private section; test_psl.py",
    f"{PKG}.operators.psl.default_rules.include_private": "same test; the "
    "ICANN-only rule set",
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


def _imports(name: str, path: Path, tree: ast.Module, mods: dict[str, Path]) -> set[str]:
    named = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            named.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = name.split(".")
                if path.name != "__init__.py":
                    pkg.pop()
                pkg = pkg[: len(pkg) - node.level + 1]
                base = ".".join(pkg + ([node.module] if node.module else []))
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


def _public_defs(tree: ast.Module):
    """(qualified name, name a call uses, def node) of each public
    function, public class ``__init__`` and public method."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not node.name.startswith("_"):
                yield node.name, node.name, node
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                    sub.name == "__init__" or not sub.name.startswith("_")
                ):
                    callee = node.name if sub.name == "__init__" else sub.name
                    yield f"{node.name}.{sub.name}", callee, sub


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None) of each defaulted parameter,
    ``self``/``cls`` not counted."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    if pos[:1] in (["self"], ["cls"]):
        pos = pos[1:]
    first = len(pos) - len(a.defaults)
    out = [(name, i) for i, name in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def unset_params(root: Path = REPO) -> tuple[set[str], int]:
    """(defaulted parameters no call binds, all defaulted parameters) of
    the public functions in scope."""
    mods = _program(root)
    trees = {m: ast.parse(p.read_text()) for m, p in mods.items()}
    callers = [*trees.values()]
    callers += [ast.parse(p.read_text()) for p in (root / "perfbench").glob("*.py")]
    keywords: dict[str, set[str]] = {}
    positional: Counter = Counter()
    splat: set[str] = set()
    for tree in callers:
        aliases = {
            a.asname: a.name.split(".")[-1]
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
            if a.asname
        }
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
            name = aliases.get(name, name)
            if any(isinstance(a, ast.Starred) for a in n.args) or any(
                k.arg is None for k in n.keywords
            ):
                splat.add(name)
            positional[name] = max(positional[name], len(n.args))
            keywords.setdefault(name, set()).update(k.arg for k in n.keywords)
    deferred = {f for f, why in ALLOWED_FUNCTIONS.items() if why.startswith("deferred")}
    unset, total = set(), 0
    for m, tree in trees.items():
        if m in DEFERRED_MODULES or m in KEPT_MODULES:
            continue
        for qual, callee, fn in _public_defs(tree):
            if f"{m}.{qual.split('.')[0]}" in deferred:
                continue
            for param, i in _defaulted(fn):
                total += 1
                if not (
                    callee in splat
                    or param in keywords.get(callee, ())
                    or (i is not None and positional[callee] > i)
                ):
                    unset.add(f"{m}.{qual}.{param}")
    return unset, total


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
    """A planted function whose one caller binds one of its two
    defaulted parameters, by keyword, reports exactly the other."""
    _copy_program(tmp_path)
    with open(tmp_path / PKG / "operators" / "topk.py", "a") as fh:
        fh.write(
            "\n\ndef planted_fn(x, planted_opt=1, planted_set=2):\n"
            "    return x + planted_opt + planted_set\n"
            "\n\ndef _planted_caller():\n"
            "    return planted_fn(1, planted_set=3)\n"
        )
    unset, _ = unset_params(tmp_path)
    assert unset - unset_params()[0] == {f"{PKG}.operators.topk.planted_fn.planted_opt"}
