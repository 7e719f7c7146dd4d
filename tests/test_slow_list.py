"""tests/slow_tests.txt cannot change silently: its size and a sha256 of its
sorted ids are pinned here, and the conftest hook refuses a full collection
in which a listed id matches no test. Growing, shrinking or editing the list
(even swapping one id for another) means changing these pins in the same
change, so the diff shows it."""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

SLOW_LIST = Path(__file__).parent / "slow_tests.txt"
PINNED_SIZE = 77
PINNED_SHA256 = "8c39a9688592b6b6d5e756ed1cf129e5730ae0a87b84ed9cc155198a41321284"


def _ids() -> list[str]:
    return [line.strip() for line in SLOW_LIST.read_text().splitlines() if line.strip()]


def test_slow_list_size_is_pinned():
    ids = _ids()
    assert len(ids) == len(set(ids)), "duplicate ids in slow_tests.txt"
    assert len(ids) == PINNED_SIZE


def test_slow_list_content_is_pinned():
    digest = hashlib.sha256("\n".join(sorted(_ids())).encode()).hexdigest()
    assert digest == PINNED_SHA256


def test_every_slow_listed_file_keeps_a_default_test():
    """Each file with a slow-listed test keeps at least one test in the
    default (driver) profile, so no file's coverage is deselected whole."""
    root = SLOW_LIST.parent.parent
    by_file: dict[str, set[str]] = {}
    for i in _ids():
        f, name = i.split("::", 1)
        by_file.setdefault(f, set()).add(name)
    for f, slow in by_file.items():
        tree = ast.parse((root / f).read_text())
        tests = {n.name for n in tree.body if isinstance(n, ast.FunctionDef) and n.name.startswith("test_")}
        # an id with a [param] deselects one case, not the whole function
        assert {n.split("[", 1)[0] for n in slow} <= tests, f"{f}: listed ids not defined there"
        assert tests - slow, f"{f}: every test is slow-listed"
