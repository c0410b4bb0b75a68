from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from worker_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Two test tiers (VERDICT r14 item 2: the full suite outgrew the round
# driver's pytest budget — its only full-suite signal became
# "incomplete"). The DEFAULT tier is sized to finish inside that budget:
# it skips the nodeids pinned in tests/slow_tier.txt (the measured
# slowest tests; every structure keeps its faster coverage) and
# test_oracle_parity restricts itself to the driver's own 50-query
# verification window. SPARK_GRAFT_FULL_SUITE=1 runs everything — the
# full tier is exercised at each round close and recorded in the round's
# OPTIMIZATION log.
FULL_SUITE = os.environ.get("SPARK_GRAFT_FULL_SUITE") == "1"
_SLOW_TIER_FILE = os.path.join(os.path.dirname(__file__), "slow_tier.txt")


def _slow_nodeids() -> set[str]:
    if not os.path.exists(_SLOW_TIER_FILE):
        return set()
    with open(_SLOW_TIER_FILE) as f:
        return {
            ln.strip()
            for ln in f
            if ln.strip() and not ln.startswith("#")
        }


def pytest_collection_modifyitems(config, items):
    if FULL_SUITE:
        return
    slow = _slow_nodeids()
    if not slow:
        return
    marker = pytest.mark.skip(
        reason="full-suite tier (tests/slow_tier.txt); "
        "set SPARK_GRAFT_FULL_SUITE=1 to run"
    )
    for item in items:
        if item.nodeid in slow:
            item.add_marker(marker)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("worker_spark_tests", cpus=min(os.cpu_count() or 4, 8))
    yield s
    s.stop()


@pytest.fixture
def tear(monkeypatch):
    """``tear(store, table)`` tears the next write transaction on a
    state root (a store, or its root path) just before it swaps
    ``table``: the tables declared before it commit, the rest stay
    staged and are discarded, and the commit raises
    ``RuntimeError("injected tear before the <table> swap")``. Only the
    first such swap tears; later transactions commit normally. Returns
    the list of torn tables."""
    from worker_spark.plans.bucketed_state import BucketedParquetStateStore

    def arm(store, table):
        root = getattr(store, "root", store)
        real = BucketedParquetStateStore._swap
        torn: list[str] = []

        def swap(self, op):
            if self.root == root and op.table == table and not torn:
                torn.append(table)
                raise RuntimeError(f"injected tear before the {table} swap")
            real(self, op)

        monkeypatch.setattr(BucketedParquetStateStore, "_swap", swap)
        return torn

    return arm
