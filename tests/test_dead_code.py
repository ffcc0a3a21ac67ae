"""Every top-level function of ``iscc_search_spark`` is referenced somewhere
in the repository (package, tests, tools, benchmarks): a name, an
attribute, an import or a string (registry lookups).  Public API that
nothing in the repository calls is listed explicitly."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "iscc_search_spark"

# public API kept for library users, with nothing in the repository calling it
ALLOWED = {
    "iscc_search_spark.plans.search.drop_index",  # S8 delete-index (COVERAGE.md)
}


def _py_files() -> list[str]:
    out = []
    for dirpath, dirnames, files in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return out


def test_no_unreferenced_top_level_functions():
    defs: dict[str, list[str]] = {}
    refs: set[str] = set()
    for path in _py_files():
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        rel = os.path.relpath(path, ROOT)
        if rel.startswith(PKG + os.sep):
            module = rel[: -len(".py")].replace(os.sep, ".")
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs.setdefault(node.name, []).append(f"{module}.{node.name}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                refs.add(node.value)
    assert len(defs) > 100  # the walk found the package
    dead = sorted(q for name, qs in defs.items() if name not in refs for q in qs)
    assert [q for q in dead if q not in ALLOWED] == []
    assert set(dead) == ALLOWED  # an allow-listed name that gained a caller leaves
