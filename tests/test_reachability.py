"""Dead-code guard: every top-level ``def``/``class`` in the package and the
jobs must be reached from non-test code.

A name counts as reached if it appears as a word anywhere in a non-test
source file — a package module, ``jobs/``, the bench scripts, ``tools/``,
``perfbench/`` or ``__spark_entry__.py`` — other than its own ``def`` line.
That is a word grep, not a call graph, so a dynamic lookup by string
(the ``queries/`` registry, an ``importlib`` path) still counts as long as
the name is written out somewhere. No Spark session is needed.
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
    "build_ivf2_index": "two-level IVF, the layout SCALE.md's 10^12 plan relies on",
    "query_ivf2_index": "two-level IVF, the layout SCALE.md's 10^12 plan relies on",
    "partkey_cardinality_hll": "queries/ function a test exercises directly (HLL accuracy)",
    "price_quantile_sketch": "queries/ function a test exercises directly (quantile sketch)",
}


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
    """Yield (name, rel path, def line number, source) per top-level def/class."""
    for root in DEFINING_ROOTS:
        for path in _py_files(root):
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            for node in ast.parse(src).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    yield node.name, os.path.relpath(path, REPO), node.lineno, src


def unreached() -> dict[str, str]:
    """{name: "path:line"} for every top-level def/class no reader mentions."""
    words = Counter()
    for path in _reader_files():
        with open(path, encoding="utf-8") as fh:
            words.update(re.findall(r"\w+", fh.read()))
    found = {}
    for name, rel, lineno, src in _definitions():
        own = re.findall(r"\w+", src.splitlines()[lineno - 1]).count(name)
        if words[name] <= own:
            found[name] = f"{rel}:{lineno}"
    return found


def test_every_definition_is_reached():
    dead = {n: where for n, where in unreached().items() if n not in ALLOWED}
    assert not dead, f"reached only by tests (delete, wire in, or allow with a reason): {dead}"


def test_allowlist_names_only_existing_definitions():
    gone = sorted(set(ALLOWED) - {name for name, *_ in _definitions()})
    assert not gone, f"allowlisted names no longer defined; drop them: {gone}"
