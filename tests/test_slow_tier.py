"""The slow tier is deselected by name (conftest.SLOW_TESTS): a name
that matches no test would let a renamed slow test fall silently back
into the default gate. Checked here, not in the collection hook,
because a partial run collects only a subset of the tests."""

from __future__ import annotations

import ast
import pathlib

from conftest import SLOW_TESTS


def test_every_slow_test_name_exists():
    defined = {
        node.name
        for path in pathlib.Path(__file__).parent.glob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    }
    assert not SLOW_TESTS - defined, sorted(SLOW_TESTS - defined)
