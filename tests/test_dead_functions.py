"""Dead-function guard: the name of every module-level function of the
package appears somewhere in the repo's Python (package, tests, scripts,
benchmarks, the Spark entry point) besides its own definition."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "myzql_binlog_connector_spark"


def _py_sources() -> dict[Path, str]:
    return {
        p: p.read_text(encoding="utf-8")
        for p in sorted(ROOT.rglob("*.py"))
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    }


def test_every_package_function_is_referenced():
    sources = _py_sources()
    words = Counter(w for text in sources.values() for w in re.findall(r"\w+", text))
    defs = Counter(
        m for text in sources.values() for m in re.findall(r"\bdef\s+(\w+)", text)
    )
    dead = [
        f"{p.relative_to(ROOT)}:{node.lineno} {node.name}"
        for p, text in sources.items()
        if PACKAGE in p.parents
        for node in ast.parse(text, str(p)).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and words[node.name] <= defs[node.name]
    ]
    assert not dead, "module-level functions nothing names:\n" + "\n".join(dead)
