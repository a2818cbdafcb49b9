"""Dead-code guard (no Spark): every public top-level function and class
of the package must be referenced somewhere — as a word in another
``.py`` file of the repo, or again in its own module."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "kaza_lcms_spark"
SKIP_DIRS = {".git", ".fixtures", ".cache", "__pycache__", "dist"}


def _py_files():
    for p in sorted(ROOT.rglob("*.py")):
        if not SKIP_DIRS.intersection(p.relative_to(ROOT).parts):
            yield p


def _public_defs(tree: ast.Module):
    for node in tree.body:
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))
                and not node.name.startswith("_")):
            yield node.name


def test_every_public_definition_has_a_caller():
    texts = {p: p.read_text() for p in _py_files()}
    unused = []
    for mod in sorted(PKG.rglob("*.py")):
        own = texts[mod]
        for name in _public_defs(ast.parse(own)):
            word = re.compile(rf"\b{re.escape(name)}\b")
            if len(word.findall(own)) > 1:
                continue
            if not any(word.search(t) for p, t in texts.items() if p != mod):
                unused.append(f"{mod.relative_to(ROOT)}::{name}")
    assert not unused, "public definitions nothing references:\n" + \
        "\n".join(unused)
