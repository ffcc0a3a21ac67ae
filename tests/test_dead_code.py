"""Every top-level function, class and module-level constant of
``iscc_search_spark`` is referenced somewhere in the repository (package,
tests, tools, benchmarks): a name read, an attribute, an import or a
string (registry lookups).  An assignment is not a reference, so a
constant that only its own definition names is dead.  Public API that
nothing in the repository calls is listed explicitly."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "iscc_search_spark"
CONSTANT = re.compile(r"^_?[A-Z][A-Z0-9_]*$")

# public API kept for library users, with nothing in the repository using it
ALLOWED = {
    "iscc_search_spark.plans.search.drop_index",  # S8 delete-index (COVERAGE.md)
    # the documented input schema of extract_features / sample_frames
    "iscc_search_spark.operators.multimodal.MEDIA_SCHEMA",
}


def _py_files() -> list[str]:
    out = []
    for dirpath, dirnames, files in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return out


def _top_level_names(tree: ast.Module):
    """(kind, name) of the module's functions, classes and constants."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield "function", node.name
        elif isinstance(node, ast.ClassDef):
            yield "class", node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and CONSTANT.match(n.id):
                        yield "constant", n.id


def test_no_unreferenced_top_level_functions():
    defs: dict[str, list[str]] = {}
    kinds: dict[str, set[str]] = {}
    refs: set[str] = set()
    for path in _py_files():
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        rel = os.path.relpath(path, ROOT)
        if rel.startswith(PKG + os.sep):
            module = rel[: -len(".py")].replace(os.sep, ".")
            for kind, name in _top_level_names(tree):
                defs.setdefault(name, []).append(f"{module}.{name}")
                kinds.setdefault(kind, set()).add(name)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                refs.add(node.value)
    # the walk found the package, and each kind of definition in it
    assert len(kinds["function"]) > 100
    assert len(kinds["class"]) > 10 and len(kinds["constant"]) > 50
    dead = sorted({q for name, qs in defs.items() if name not in refs for q in qs})
    assert [q for q in dead if q not in ALLOWED] == []
    assert set(dead) == ALLOWED  # an allow-listed name that gained a caller leaves
