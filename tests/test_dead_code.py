"""Dead-code guard: every public top-level def or class in the package
must be referenced somewhere outside its own body — in the package,
the tools, the docs, the benchmark, the bench and entry scripts, or the
tests. A def nothing names is code nobody runs; delete it instead of
carrying it. Pure AST and text scan, no Spark."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "lightcurvesclassifier_spark"
SEARCHED = [
    PACKAGE, ROOT / "tools", ROOT / "docs", ROOT / "perfbench",
    ROOT / "bench.py", ROOT / "__spark_entry__.py", ROOT / "tests",
]
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _files():
    for p in SEARCHED:
        paths = [p] if p.is_file() else sorted(p.rglob("*"))
        for f in paths:
            if f.suffix in (".py", ".md") and "__pycache__" not in f.parts:
                yield f


def unreferenced_defs() -> list[str]:
    texts = {f: f.read_text() for f in _files()}
    counts = Counter(
        tok for text in texts.values() for tok in IDENT.findall(text)
    )
    dead = []
    for f, text in texts.items():
        if not f.is_relative_to(PACKAGE) or f.suffix != ".py":
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            body = "\n".join(lines[node.lineno - 1:node.end_lineno])
            own = IDENT.findall(body).count(node.name)
            if counts[node.name] == own:
                dead.append(f"{f.relative_to(ROOT)}:{node.name}")
    return dead


def test_every_public_def_is_referenced():
    assert unreferenced_defs() == []
