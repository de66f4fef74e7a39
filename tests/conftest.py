from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandemic_knowledge_spark.session import get_spark

SF_DIR = os.environ.get("PK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pk-tests", master="local[4]", shuffle_partitions="4")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_SLOW_MARKED = pytest.StashKey[int]()


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (r14, r13 verdict item 1a: the driver's default
    `pytest tests/ -x -q` must finish inside its verification window; the
    full suite is 36+ min even quiet). Tests listed in tests/slow_tests.txt
    (the ≥3 s entries of a full durations census) get the `slow` marker;
    pytest.ini deselects them by default. Run the slow tier explicitly with
    `-m slow` — both tiers are run and recorded every optimization round."""
    slow_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")
    if not os.path.exists(slow_path):
        return
    with open(slow_path) as f:
        slow_ids = {
            line.strip() for line in f if line.strip() and not line.startswith("#")
        }
    marked = [item for item in items if item.nodeid in slow_ids]
    for item in marked:
        item.add_marker(pytest.mark.slow)
    config.stash[_SLOW_MARKED] = len(marked)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Make the slow tier visible even under -q: how many collected tests
    tests/slow_tests.txt marks, and how to run them. Reports only; which
    tests run is up to the -m expression (pytest.ini: ``-m "not slow"``)."""
    n = config.stash.get(_SLOW_MARKED, 0)
    if n:
        terminalreporter.write_line(
            f"slow tier: {n} collected tests are marked slow by tests/slow_tests.txt "
            f"(-m expression: {config.option.markexpr!r}); `-m slow` runs them"
        )
