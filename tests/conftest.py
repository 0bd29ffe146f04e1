from __future__ import annotations

import os

import pytest

# 16 executor threads for the suite (r15, driver-budget item): at
# fixture data sizes every test is scheduling-latency-bound and the
# latency scales with free task slots — measured 865/594/275 ms per
# small 2-shuffle action at local[4]/[8]/[16] on the 32-core box.
# shuffle.partitions stays 4 (below) so every shuffle still crosses
# real partition boundaries; a caller-exported SPARK_GRAFT_CPUS
# still wins (setdefault).
os.environ.setdefault("SPARK_GRAFT_CPUS", "16")


@pytest.fixture(scope="session")
def spark():
    from dump1090_db_stream_spark import get_spark

    # AQE OFF for the suite (r15, driver-budget item): adaptive
    # re-planning adds ~550 ms of fixed coordinator latency to EVERY
    # action (measured 792 -> 243 ms/action on this box at test data
    # sizes), and the suite is ~thousands of sub-second actions over
    # KB-scale fixtures where AQE can never help. Operator SEMANTICS
    # are AQE-invariant, so every value assertion is unaffected; the
    # handful of tests that exercise adaptive behavior itself set the
    # conf locally and restore it. Production/bench sessions keep the
    # get_spark default (AQE on).
    s = get_spark("tests", extra_conf={
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.enabled": "false",
    })
    yield s


@pytest.fixture(autouse=True)
def _release_operator_caches():
    """Operator-internal persists (cache.track) are the CALLER's to
    release; in the suite the caller is each test, so free them after
    every test — otherwise a session-scoped JVM accumulates storage
    memory across hundreds of tests (cache.py's lifecycle contract)."""
    yield
    from dump1090_db_stream_spark.cache import release_tracked

    release_tracked()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def sweep_registry(spark, sf_dir: str, queries: dict) -> dict:
    """Build and execute every distinct ``queries`` builder (name ->
    function) ONCE, recording the capture under each name it is
    registered as (``bpe_merges_k64`` and ``bpe_merges_k64_local``
    share one), with everything the registry-wide gates assert on at
    build time:

    - ``plan``: the executed physical plan string (the three textual
      sweeps: python-eval, cartesian/BNLJ, single-partition sort)
    - ``continuous_global`` / ``grouped_funnels``: the two logical-plan
      audit detectors (tests/plan_audit.py)
    - ``count``: the executed row count (the every-query-runs gate)

    Captured artifacts are plain strings/ints, safe across the autouse
    release fixture (a shared DataFrame would not be: released
    localCheckpoint blocks cannot recompute). Tracked caches are
    released once the sweep ends, also when a query raises."""
    from concurrent.futures import ThreadPoolExecutor

    from dump1090_db_stream_spark.cache import release_tracked
    from plan_audit import (
        continuous_key_global_windows,
        grouped_continuous_window_funnels,
    )

    # THREADED sweep (r15, driver-budget item): at sf0.001 every query
    # is scheduling/planning-latency-bound, so 8 concurrent build+run
    # threads overlap almost perfectly (measured 1084 s serial ->
    # ~350 s on this box; py4j calls release the GIL). Spark sessions
    # are thread-safe for concurrent actions; construction side
    # effects (cache.track registration) are plain CPython list
    # appends. Caches are released ONCE after the sweep instead of per
    # query — a per-query release from one thread would unpersist a
    # relation another thread is mid-consuming (safe but thrashing);
    # total tracked storage at sf0.001 is KBs.
    def one(item):
        fn, names = item
        df = fn(spark, sf_dir)
        return names, {
            "plan": df._jdf.queryExecution().executedPlan().toString(),
            "continuous_global": continuous_key_global_windows(df),
            "grouped_funnels": grouped_continuous_window_funnels(df),
            "count": df.count(),
        }

    by_builder: dict = {}
    for name, fn in queries.items():
        by_builder.setdefault(fn, []).append(name)
    try:
        with ThreadPoolExecutor(8) as ex:
            done = ex.map(one, by_builder.items())
            return {name: got for names, got in done for name in names}
    finally:
        release_tracked()


@pytest.fixture(scope="session")
def registry_sweep(spark, sf_dir) -> dict:
    """EVERY registry query through :func:`sweep_registry`, once per
    suite. r15 suite-cost fix (r14 verdict ask #1): the five plan gates
    and the every-query-runs gate each re-CONSTRUCTED all ~216 queries
    — and construction is the expensive half (trainer loops, CC
    closures, index writes, guard counts), so the suite paid the same
    ~4-6 min sweep six times (~25 of its 42 minutes). One shared
    sweep preserves every assertion per query name."""
    import __spark_entry__ as entrymod

    return sweep_registry(spark, sf_dir, entrymod.queries())


#: collector for hypothesis-generated WKT coordinate cases — evaluated
#: in ONE Spark job by test_properties.test_wkt_coord_formatting_spark_batch
_WKT_RESULTS: list[tuple[float, str]] = []
