"""Dead-code guard: every top-level ``def``/``class`` in the package and the
jobs must be reached from non-test code.

Reachability is a name-based fixed point over syntax trees. It starts from
the names used anywhere in the non-package readers — ``jobs/``, the bench
scripts, ``tools/``, ``perfbench/`` and ``__spark_entry__.py`` — and from
the package's module-level code (registries, constants, decorators; a
module-level import alone is not a use, and neither is an ``__all__``
entry, which exports a name but calls nothing). It then follows the body
of every package definition already reached, until no new name turns up. So a
helper that only a test-only definition calls is unreached too. A use is a
``Name``, an ``Attribute``, an imported name, or a string constant shaped
like an identifier (a registry lookup by name); a mention in a docstring
or comment does not count. Names, not bindings: a use of ``f`` reaches
every package definition called ``f``. No Spark session is needed.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter, defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_ROOT = "schema_inference_spark"
DEFINING_ROOTS = (PACKAGE_ROOT, "jobs")
READER_ROOTS = ("jobs", "tools", "perfbench")
READER_FILES = ("bench.py", "bench_scaling.py", "__spark_entry__.py")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Names reached only by tests, kept on purpose.
ALLOWED = {
    "simhash_bit_balance_aggs": "reference formulation the packed SimHash path is tested against",
    "simhash_from_balances": "reference formulation the packed SimHash path is tested against",
    "sign_lsh_bucket_expr": "fixed-coordinate control in the SRP bucket-balance test",
    "persist_shape_profile": "writer of the reference's JSON data/distinct format (COVERAGE S3)",
    "reanalyze_persisted_shapes": "reader of the reference's JSON data/distinct format (COVERAGE S3)",
    "partkey_cardinality_hll": "queries/ function a test exercises directly (HLL accuracy)",
    "price_quantile_sketch": "queries/ function a test exercises directly (quantile sketch)",
    "infer_json_type_expr": "Catalyst formulation the Python shape lattice is tested against",
    "make_shape_udf": "recursive JSON-document shape UDF the flat shape path is tested against",
    "canonical_shape_string": "serializer of make_shape_udf, the recursive reference formulation",
}

IDENTIFIER = re.compile(r"[A-Za-z_]\w*")


def _py_files(root: str):
    for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, root)):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in sorted(filenames):
            if f.endswith(".py") and not f.startswith("test_"):
                yield os.path.join(dirpath, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read())


def _reader_trees() -> list[ast.Module]:
    files = [f for root in READER_ROOTS for f in _py_files(root)]
    return [_parse(f) for f in files + [os.path.join(REPO, f) for f in READER_FILES]]


def _definitions():
    """Yield (name, rel path, def line number) per top-level def/class."""
    for root in DEFINING_ROOTS:
        for path in _py_files(root):
            for node in _parse(path).body:
                if isinstance(node, DEFS):
                    yield node.name, os.path.relpath(path, REPO), node.lineno


def used_names(node: ast.AST) -> Counter:
    """Uses of each name in the code under ``node`` (docstrings and
    comments are not code)."""
    used = Counter()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            used[sub.id] += 1
        elif isinstance(sub, ast.Attribute):
            used[sub.attr] += 1
        elif isinstance(sub, ast.alias):
            used.update(sub.name.split("."))
        elif (
            isinstance(sub, ast.Constant)
            and isinstance(sub.value, str)
            and IDENTIFIER.fullmatch(sub.value)
        ):
            used[sub.value] += 1
    return used


def _is_export_list(node: ast.stmt) -> bool:
    """``__all__ = [...]`` or ``__all__ += [...]``."""
    targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def reached(readers: list[ast.Module], package: list[ast.Module]) -> set[str]:
    """Every name the readers use, closed over the package: module-level
    code seeds it, and each reached package definition adds its body."""
    names, bodies = set(), defaultdict(list)
    for tree in readers:
        names |= set(used_names(tree))
    for tree in package:
        for node in tree.body:
            if isinstance(node, DEFS):
                bodies[node.name].append(node)
                for deco in node.decorator_list:
                    names |= set(used_names(deco))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)) and not _is_export_list(node):
                names |= set(used_names(node))
    frontier = list(names & bodies.keys())
    while frontier:
        for node in bodies[frontier.pop()]:
            new = set(used_names(node)) - names
            names |= new
            frontier += new & bodies.keys()
    return names


def unreached() -> dict[str, str]:
    """{name: "path:line"} for every top-level def/class no reader reaches."""
    package = [_parse(f) for f in _py_files(PACKAGE_ROOT)]
    names = reached(_reader_trees(), package)
    return {name: f"{rel}:{lineno}" for name, rel, lineno in _definitions() if name not in names}


def test_every_definition_is_reached():
    dead = {n: where for n, where in unreached().items() if n not in ALLOWED}
    assert not dead, f"reached only by tests (delete, wire in, or allow with a reason): {dead}"


def test_allowlist_names_only_existing_definitions():
    gone = sorted(set(ALLOWED) - {name for name, *_ in _definitions()})
    assert not gone, f"allowlisted names no longer defined; drop them: {gone}"


def test_docstring_or_comment_mention_is_not_a_use():
    src = (
        "def caller():\n"
        '    """Runs helper() on every row."""\n'
        "    # helper is applied below\n"
        "    return 1\n"
    )
    assert used_names(ast.parse(src))["helper"] == 0
    assert used_names(ast.parse("helper(1)"))["helper"] == 1
    assert used_names(ast.parse("from m import helper"))["helper"] == 1
    assert used_names(ast.parse("REGISTRY['helper']"))["helper"] == 1


def test_helper_of_a_test_only_definition_is_unreached():
    package = ast.parse(
        "from m import imported_only\n"
        "def helper():\n"
        "    return 1\n"
        "def test_only():\n"
        "    return helper()\n"
        "def served():\n"
        "    return inner()\n"
        "def inner():\n"
        "    return 2\n"
        "def registered():\n"
        "    return 3\n"
        "def exported_only():\n"
        "    return 4\n"
        "REGISTRY = {'registered': registered}\n"
        "__all__ = ['served', 'exported_only']\n"
        "__all__ += ['exported_only']\n"
    )
    names = reached([ast.parse("from pkg import served\nserved()\n")], [package])
    assert {"served", "inner", "registered"} <= names
    assert not {"helper", "test_only", "imported_only", "exported_only"} & names

