"""The slow tier cannot rot: every SLOW_TIER key must name a test
function that exists, read from the test files' syntax trees (no
collection, no Spark)."""

from __future__ import annotations

import ast
import os

from conftest import SLOW_TIER

TESTS = os.path.dirname(os.path.abspath(__file__))


def _test_functions(path: str) -> set[str]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    return {
        node.name
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    }


def test_every_slow_tier_key_names_an_existing_test():
    found = {}
    stale = []
    for key in sorted(SLOW_TIER):
        fname, func = key.split("::")
        path = os.path.join(TESTS, fname)
        if not (fname.startswith("test_") and func.startswith("test_")):
            stale.append(key)
            continue
        if fname not in found:
            found[fname] = _test_functions(path) if os.path.exists(path) else set()
        if func not in found[fname]:
            stale.append(key)
    assert not stale, f"SLOW_TIER keys naming no test: {stale}"
