"""Environment reads: program code reads an environment variable only
when the allow-list below names it with a reason.

An environment variable is an option no signature shows and no caller
passes, so it is easy to add and hard to retire. Reads are found on the
AST of the same program files ``test_reachability`` walks:
``os.environ.get(...)``, ``os.environ[...]``, ``... in os.environ``
and ``os.getenv(...)``, also through a bare ``environ`` or ``getenv``
import. A key spelled as a loop variable over a literal tuple resolves
to each name in the tuple; any other computed key cannot be
allow-listed and fails.

Pure AST walk: no Spark, well under a second.
"""

from __future__ import annotations

import ast
import shutil
from fnmatch import fnmatch
from pathlib import Path

from tests.test_reachability import PKG, REPO, _program

ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS": "the local[N] core count; the test and benchmark "
    "drivers set it to the box's cores",
    "*_SF_DIR": "which generated dataset the CLI, bench.py, scale_probe.py "
    "and the fingerprint manifest read",
    "SPARK_DRIVER_MEMORY": "driver heap, read the way spark-submit reads it",
    "JAVA_TOOL_OPTIONS": "a collector chosen here must not meet the "
    "default JVM profile's serial-GC flag",
    "JDK_JAVA_OPTIONS": "same as JAVA_TOOL_OPTIONS, for the launcher",
    "SPARK_HOME": "the Spark install whose conf directory must hold only "
    "templates before the driver JVM's CDS archive applies, and whose jars "
    "key that archive",
    "SPARK_CONF_DIR": "a caller's own conf directory turns the CDS archive "
    "off; otherwise it points at an empty directory for the JVM launch only",
    "JAVA_HOME": "the JVM spark-class runs, whose install keys the CDS "
    "archive so a JDK upgrade dumps a fresh one",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _is_getenv(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "getenv") or (
        isinstance(node, ast.Name) and node.id == "getenv"
    )


def _literal_loops(tree: ast.AST) -> dict[str, list[str]]:
    """Loop variables bound over a literal tuple or list of strings."""
    out: dict[str, list[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.For, ast.comprehension)) and isinstance(
            node.target, ast.Name
        ):
            if isinstance(node.iter, (ast.Tuple, ast.List)) and all(
                isinstance(e, ast.Constant) and isinstance(e.value, str)
                for e in node.iter.elts
            ):
                out.setdefault(node.target.id, []).extend(e.value for e in node.iter.elts)
    return out


def _keys(node: ast.AST | None, loops: dict[str, list[str]]) -> list[str]:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return [node.value]
    if isinstance(node, ast.Name) and node.id in loops:
        return loops[node.id]
    return ["<computed>"]


def env_reads(root: Path = REPO) -> set[tuple[str, str]]:
    """Every (variable, module:line) the program reads."""
    reads = set()
    for mod, path in _program(root).items():
        tree = ast.parse(path.read_text())
        loops = _literal_loops(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and node.args and (
                _is_getenv(node.func)
                or (isinstance(node.func, ast.Attribute) and _is_environ(node.func.value))
            ):
                key = node.args[0]
            elif isinstance(node, ast.Subscript) and _is_environ(node.value):
                key = node.slice
            elif (
                isinstance(node, ast.Compare)
                and isinstance(node.ops[0], (ast.In, ast.NotIn))
                and _is_environ(node.comparators[0])
            ):
                key = node.left
            else:
                continue
            for name in _keys(key, loops):
                reads.add((name, f"{mod}:{node.lineno}"))
    return reads


def _unlisted(reads: set[tuple[str, str]]) -> list[tuple[str, str]]:
    return sorted(r for r in reads if not any(fnmatch(r[0], p) for p in ALLOWED_ENV))


def test_every_env_read_is_allowed():
    extra = _unlisted(env_reads())
    assert not extra, f"environment reads no allow-list entry names: {extra}"


def test_allow_list_holds_no_stale_entry():
    names = {name for name, _ in env_reads()}
    stale = sorted(p for p in ALLOWED_ENV if not any(fnmatch(n, p) for n in names))
    assert not stale, f"allow-listed variables the program no longer reads: {stale}"


def test_planted_env_reads_are_caught(tmp_path):
    """Reads planted in a copy of the program, in three spellings, are
    reported and nothing else is."""
    shutil.copytree(REPO / PKG, tmp_path / PKG, ignore=shutil.ignore_patterns("__pycache__"))
    for script in ("bench.py", "scale_probe.py"):
        shutil.copy(REPO / script, tmp_path / script)
    with open(tmp_path / PKG / "operators" / "topk.py", "a") as fh:
        fh.write(
            "\n\ndef _planted():\n"
            "    import os\n"
            "    return (os.environ.get('PLANTED_A'), os.getenv('PLANTED_B'),\n"
            "            'PLANTED_C' in os.environ)\n"
        )
    got = {name for name, _ in _unlisted(env_reads(tmp_path))}
    assert got == {"PLANTED_A", "PLANTED_B", "PLANTED_C"}
