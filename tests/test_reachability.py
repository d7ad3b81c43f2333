"""Dead-code guard: every top-level ``def``/``class`` in the package and the
jobs must be reached from non-test code.

A name counts as reached if the code of a non-test source file — a package
module, ``jobs/``, the bench scripts, ``tools/``, ``perfbench/`` or
``__spark_entry__.py`` — uses it: as a ``Name``, an ``Attribute``, an
imported name, or a string constant shaped like an identifier (a registry
lookup by name). The walk is over each file's syntax tree, so a mention in a
docstring or comment does not count. It is not a call graph: a use inside
another unreached definition still counts. No Spark session is needed.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFINING_ROOTS = ("schema_inference_spark", "jobs")
READER_ROOTS = DEFINING_ROOTS + ("tools", "perfbench")
READER_FILES = ("bench.py", "bench_scaling.py", "__spark_entry__.py")

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
}

IDENTIFIER = re.compile(r"[A-Za-z_]\w*")


def _py_files(root: str):
    for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, root)):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in sorted(filenames):
            if f.endswith(".py") and not f.startswith("test_"):
                yield os.path.join(dirpath, f)


def _reader_files() -> list[str]:
    files = [f for root in READER_ROOTS for f in _py_files(root)]
    return files + [os.path.join(REPO, f) for f in READER_FILES]


def _definitions():
    """Yield (name, rel path, def line number) per top-level def/class."""
    for root in DEFINING_ROOTS:
        for path in _py_files(root):
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            for node in ast.parse(src).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    yield node.name, os.path.relpath(path, REPO), node.lineno


def used_names(src: str) -> Counter:
    """Uses of each name in the code of ``src`` (docstrings and comments
    are not code)."""
    used = Counter()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Name):
            used[node.id] += 1
        elif isinstance(node, ast.Attribute):
            used[node.attr] += 1
        elif isinstance(node, ast.alias):
            used.update(node.name.split("."))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and IDENTIFIER.fullmatch(node.value)
        ):
            used[node.value] += 1
    return used


def unreached() -> dict[str, str]:
    """{name: "path:line"} for every top-level def/class no reader uses."""
    used = Counter()
    for path in _reader_files():
        with open(path, encoding="utf-8") as fh:
            used.update(used_names(fh.read()))
    return {name: f"{rel}:{lineno}" for name, rel, lineno in _definitions() if not used[name]}


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
    assert used_names(src)["helper"] == 0
    assert used_names("helper(1)")["helper"] == 1
    assert used_names("from m import helper")["helper"] == 1
    assert used_names("REGISTRY['helper']")["helper"] == 1
