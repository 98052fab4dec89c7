"""Dead-code guard (no Spark): every module-level function or class in
the package must be named outside its own definition by code that is
not a test — the package, tools/, bench.py, perfbench/ or
__spark_entry__.py. A name that only tests use is test-only code:
delete it with its tests, or move it into the test that uses it as an
instrument. Catalog entries (``@register``) are exempt; the catalog
reaches them through REGISTRY.

A reference is any whole-word occurrence of the name in those files'
source, so names reached through strings (getattr, SQL, docs) count as
used; the definition's own name does not."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "ariadne_cartograph_spark"


def _non_test_sources() -> list[Path]:
    return [
        *PKG.rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def _is_catalog_entry(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def test_every_package_definition_has_a_non_test_reference():
    words: Counter[str] = Counter()
    for f in _non_test_sources():
        words.update(re.findall(r"[A-Za-z_]\w*", f.read_text(encoding="utf-8")))
    defs = []
    for f in sorted(PKG.rglob("*.py")):
        for node in ast.parse(f.read_text(encoding="utf-8")).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not _is_catalog_entry(node):
                    defs.append((f"{f.relative_to(ROOT)}:{node.lineno}", node.name))
    n_defs = Counter(name for _, name in defs)
    dead = [f"{where} {name}" for where, name in defs if words[name] <= n_defs[name]]
    assert dead == [], "defined but referenced only by tests, or not at all:\n" + "\n".join(dead)
