"""Source-level checks over the checkout.

No source file names the absolute path of the checkout it lives in:
scripts, the benchmark harness and the package derive their paths from
`__file__`, so a checkout works wherever it is cloned; a path written out
in full only works in the one place it was written.

No module of the package binds a module-level name twice: the second
binding silently replaces the first, and code written against the first
fails only when it runs."""

from __future__ import annotations

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = [
    *(ROOT / "datasmith_spark").rglob("*.py"),
    *(ROOT / "scripts").rglob("*.py"),
    *(ROOT / "tests").rglob("*.py"),
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ROOT / "__spark_entry__.py",
]


def test_no_source_file_names_the_checkout_path():
    needle = str(ROOT) + "/"
    named = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in SOURCES
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if needle in line
    ]
    assert len(SOURCES) > 3 and not named, named


def _module_bindings(tree: ast.Module):
    """Names bound by the module body's own statements (defs, classes,
    imports, plain and annotated assignments)."""

    def targets(t):
        if isinstance(t, ast.Name):
            yield t.id
        elif isinstance(t, (ast.Tuple, ast.List)):
            for e in t.elts:
                yield from targets(e)
        elif isinstance(t, ast.Starred):
            yield from targets(t.value)

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield (a.asname or a.name).split(".")[0]
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                yield from targets(t)
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            yield from targets(node.target)


def test_no_module_level_name_is_bound_twice():
    twice = [
        f"{p.relative_to(ROOT)}:{name}"
        for p in sorted((ROOT / "datasmith_spark").rglob("*.py"))
        for name, n in collections.Counter(_module_bindings(ast.parse(p.read_text()))).items()
        if n > 1
    ]
    assert not twice, twice
