from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from dart_xbrl_crawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_bundle():
    from dart_xbrl_crawler_spark import fixtures

    return fixtures.gen_pages(n_corps=6, n_generic=120, n_hosts=12, seed=42)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → (``fn()``, the Spark jobs it ran), read from
    ``statusTracker().getJobIdsForGroup`` under a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the tracker is fed by the listener bus: let it catch up first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
