"""Scripts import the package of their own checkout.

A script that puts a fixed absolute path on `sys.path` imports that
checkout's package wherever it is run from, so an A/B run from a
second checkout would silently test the wrong code.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

SCRIPTS = sorted(glob.glob(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "*.py")
))


def _absolute_path_inserts(source: str) -> list[int]:
    """Line numbers of `sys.path.insert(i, "<absolute path literal>")`."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and len(node.args) == 2):
            continue
        f = node.func
        if not (isinstance(f, ast.Attribute) and f.attr == "insert"
                and ast.unparse(f.value) == "sys.path"):
            continue
        arg = node.args[1]
        if (isinstance(arg, ast.Constant) and isinstance(arg.value, str)
                and os.path.isabs(arg.value)):
            lines.append(node.lineno)
    return lines


def test_guard_sees_a_fixed_checkout():
    assert _absolute_path_inserts('import sys\nsys.path.insert(0, "/srv/x")\n') == [2]
    assert _absolute_path_inserts("import sys\nsys.path.insert(0, ROOT)\n") == []


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports_its_own_checkout(path):
    with open(path) as f:
        assert _absolute_path_inserts(f.read()) == [], path
