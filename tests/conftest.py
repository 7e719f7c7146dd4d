from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Central slow-test registry (driver profile): node ids listed in
# tests/slow_tests.txt get the `slow` marker here, and pytest.ini's
# `addopts = -m "not slow"` deselects them by default so the suite fits
# the external driver's verify window (the full 36-min run truncated it —
# VERIFY_r14). Every listed test is a property/randomized/lifecycle twin
# whose operator family keeps faster coverage in the default profile; the
# full suite stays the round-close artifact (`pytest tests/ -q -m ""`).
_SLOW_IDS = frozenset(
    line.strip()
    for line in (Path(__file__).parent / "slow_tests.txt").read_text().splitlines()
    if line.strip()
)


def _collects_whole_dir(config) -> bool:
    """Whether this session collects all of tests/ (``pytest tests/``, or
    the repo root), not a chosen file or test."""
    tests_dir = Path(__file__).resolve().parent
    for arg in config.args:
        if "::" not in arg and (config.invocation_params.dir / arg).resolve() in (tests_dir, tests_dir.parent):
            return True
    return False


def pytest_collection_modifyitems(config, items):
    seen = set()
    for item in items:
        # item.nodeid is repo-relative ("tests/test_x.py::test_y[param]");
        # the registry stores the unparametrized id, so strip any param.
        base = item.nodeid.split("[", 1)[0]
        seen.update((item.nodeid, base))
        if item.nodeid in _SLOW_IDS or base in _SLOW_IDS:
            item.add_marker(pytest.mark.slow)
    # A listed id that matches no collected test is stale (renamed or
    # deleted): refuse to run rather than let the list drift. A file that
    # exists but failed to collect is reported by its own collection error.
    if _collects_whole_dir(config):
        files = {s.split("::", 1)[0] for s in seen}
        stale = sorted(
            i for i in _SLOW_IDS
            if i not in seen
            and ((f := i.split("::", 1)[0]) in files or not (config.rootpath / f).exists())
        )
        if stale:
            raise pytest.UsageError(f"tests/slow_tests.txt lists ids that match no collected test: {stale}")


@pytest.fixture(scope="session")
def spark():
    from samsa_spark.session import get_spark

    s = get_spark("samsa-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()
