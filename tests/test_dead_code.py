"""Dead-code guard: every top-level def and class in ``otel_arrow_spark/``
must be referenced somewhere in the repo's Python files.

A reference is an identifier — a ``Name``, an ``Attribute``'s attr, or
an imported name — anywhere except the definition itself. Docstring and
comment mentions do not count. Pure ``ast``; no Spark.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "otel_arrow_spark")
SKIP_DIRS = {".git", "spark-warehouse", ".perfbench", ".cache"}


def _py_files(top):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d not in SKIP_DIRS]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _referenced_names(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                yield alias.name.rsplit(".", 1)[-1]


def unreferenced_defs():
    """Sorted ``path:line name`` entries for top-level defs nothing names."""
    defs = []
    for path in _py_files(PACKAGE):
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.append((node.name, os.path.relpath(path, ROOT), node.lineno))
    used = set()
    for path in _py_files(ROOT):
        used.update(_referenced_names(_parse(path)))
    return sorted(f"{p}:{line} {name}" for name, p, line in defs if name not in used)


def test_every_package_def_is_referenced():
    dead = unreferenced_defs()
    assert not dead, "unreferenced top-level defs:\n" + "\n".join(dead)
