"""Dead-function guard: every module-level function of the package is
referenced from code somewhere in the repo's Python (package, tests,
scripts, benchmarks, the Spark entry point), outside its own body.

A reference is a code name — a variable name, an attribute, an import
name or alias, or an identifier-only string constant (``getattr`` names,
``__all__`` entries).  Words in docstrings and comments do not count, so a
docstring that mentions a function does not keep it alive."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "myzql_binlog_connector_spark"


def _py_trees() -> dict[Path, ast.Module]:
    return {
        p: ast.parse(p.read_text(encoding="utf-8"), str(p))
        for p in sorted(ROOT.rglob("*.py"))
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    }


def _code_names(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield from node.name.split(".")
            if node.asname:
                yield node.asname
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                yield node.value


def test_every_package_function_is_referenced():
    trees = _py_trees()
    refs = Counter(n for tree in trees.values() for n in _code_names(tree))
    dead = [
        f"{p.relative_to(ROOT)}:{node.lineno} {node.name}"
        for p, tree in trees.items()
        if PACKAGE in p.parents
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and refs[node.name] <= sum(1 for n in _code_names(node) if n == node.name)
    ]
    assert not dead, "module-level functions that no code references:\n" + "\n".join(dead)


def test_docstring_mentions_do_not_count():
    tree = ast.parse(
        'def live():\n    """Calls :func:`dead`; see also dead."""\n    return live2()\n'
    )
    names = set(_code_names(tree))
    assert "live2" in names and "dead" not in names
