"""Dead-code guard: every public top-level def, class or assigned name
in the package must be referenced somewhere outside its own statement —
in the package, the tools, the docs, the benchmark, the bench and entry
scripts, or the tests. A name nothing reads is code nobody runs; delete
it instead of carrying it. Pure AST and text scan, no Spark."""

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
            body = "\n".join(lines[node.lineno - 1:node.end_lineno])
            for name in _public_names(node):
                if counts[name] == IDENT.findall(body).count(name):
                    dead.append(f"{f.relative_to(ROOT)}:{name}")
    return dead


def _public_names(node) -> list[str]:
    """The public names a top-level statement binds: a def, a class, or
    the plain-name targets of an assignment."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [node.name]
    elif isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        names = [t.id for t in targets if isinstance(t, ast.Name)]
    else:
        names = []
    return [n for n in names if not n.startswith("_")]


def test_every_public_def_is_referenced():
    assert unreferenced_defs() == []
