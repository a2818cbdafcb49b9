"""The scripts under tools/ find their own checkout (no Spark needed).

A probe run from a second checkout — an A/B against a parent commit —
must import that checkout's package and write into that checkout's
files. So no script may name a checkout by an absolute path: neither
this checkout's path nor any absolute path that reaches into a tree laid
out like this one (``/…/BENCH/BASELINE.md``)."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scripts():
    paths = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
    assert paths
    return paths


def test_tools_do_not_contain_the_checkout_path():
    for path in _scripts():
        with open(path, encoding="utf-8") as f:
            assert ROOT not in f.read(), path


def test_tools_name_no_absolute_path_into_a_checkout():
    top = set(os.listdir(ROOT))
    for path in _scripts():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and node.value.startswith("/"):
                parts = set(node.value.split("/"))
                assert not parts & top, (path, node.lineno, node.value)
