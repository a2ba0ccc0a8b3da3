from __future__ import annotations

import os
from collections import defaultdict

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from incremental_etl_on_lakehouse_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The multi-seed fuzz/soak pools (seed-parametrized differential, crash,
# and interleave fuzzers) grew past the CI window: the full suite is
# ~1400 tests / ~29 min solo, and the round-12 driver run timed out at
# 59% with zero failures. Default runs keep the first SEED_CAP seeds of
# every pool — every operator family and scenario shape stays covered,
# each with its 2 canonical seeds — while SPARK_GRAFT_FULL_SUITE=1
# restores the whole pool for the end-of-round soak.
_FULL_SUITE = os.environ.get("SPARK_GRAFT_FULL_SUITE") == "1"
_SEED_CAP = 2


def pytest_collection_modifyitems(config, items):
    if _FULL_SUITE:
        return
    seen: dict[tuple, int] = defaultdict(int)
    kept, dropped = [], []
    for item in items:
        cs = getattr(item, "callspec", None)
        if cs is not None and "seed" in cs.params:
            pool = (
                item.module.__name__,
                item.function.__qualname__,
                tuple(
                    (k, repr(v))
                    for k, v in sorted(cs.params.items())
                    if k != "seed"
                ),
            )
            seen[pool] += 1
            if seen[pool] > _SEED_CAP:
                dropped.append(item)
                continue
        kept.append(item)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = kept
    config._seed_cap_deselected = len(dropped)


def pytest_report_collectionfinish(config, start_path, items):
    n = getattr(config, "_seed_cap_deselected", 0)
    if n:
        return f"seed cap active: {n} deselected"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def cache_entries(spark) -> int:
    """Entries in the session's CacheManager: every persisted plan not yet
    unpersisted, materialized or not (a persisted frame no action has read
    yet has no RDD, so the RDD registry would miss it)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


@pytest.fixture(autouse=True)
def cache_guard(request):
    """Fails a test that leaves more CacheManager entries behind than it
    found. Fixtures of a wider scope (a module-level cached corpus) are
    set up before the baseline is read, so they do not count. Yields a
    callable returning the entries added so far, for tests that assert
    on a failure path themselves."""
    if "spark" not in request.fixturenames:
        yield None
        return
    spark = request.getfixturevalue("spark")
    before = cache_entries(spark)
    yield lambda: cache_entries(spark) - before
    left = cache_entries(spark) - before
    assert left <= 0, f"test left {left} persisted frame(s) in the CacheManager"
