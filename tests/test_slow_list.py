"""Every ``slow_tests.txt`` entry names a test that exists.

``conftest.pytest_collection_modifyitems`` marks only the entries that
match a collected test and ignores the rest, so a renamed or deleted
slow test would leave a stale entry behind without any error. Parsing
the test files (no Spark) catches it here instead."""

from __future__ import annotations

import ast
from pathlib import Path

TESTS = Path(__file__).parent


def _test_functions(path: Path) -> set[str]:
    return {
        node.name
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test")
    }


def test_slow_list_entries_name_existing_tests():
    entries = [
        line.strip()
        for line in (TESTS / "slow_tests.txt").read_text().splitlines()
        if line.strip() and not line.startswith("#")
    ]
    assert entries
    stale = []
    for entry in entries:
        file, _, name = entry.partition("::")
        path = TESTS / file
        if not (path.is_file() and name in _test_functions(path)):
            stale.append(entry)
    assert stale == []
