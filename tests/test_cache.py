"""Cache lifecycle: operator-internal persists are tracked and released
by the caller (ADVICE: long-lived sessions must not accumulate storage)."""

from __future__ import annotations

import pytest

from dump1090_db_stream_spark.cache import release_tracked


def test_release_tracked_frees_operator_persists(spark):
    from dump1090_db_stream_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 2}") for i in range(20)],
        ["doc_id", "text"])
    release_tracked()  # start clean
    out = ngram_jaccard_pairs(docs, id_col="doc_id", text_col="text",
                              threshold=0.5)
    out.count()  # consuming action materializes the tracked persist
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() > 0
    assert release_tracked() > 0
    assert jsc.getPersistentRDDs().size() == 0
    assert release_tracked() == 0  # idempotent


def test_local_checkpoints_are_releasable(spark):
    """r12 regression: DataFrame.unpersist() is a NO-OP on an eager
    localCheckpoint (RDD-layer cache, invisible to the CacheManager),
    so iterative operators route checkpoints through the tracked
    registry and release_tracked() must free the RDD blocks too —
    otherwise every connected-components / chunked-encode call leaks
    executor storage for the session's lifetime."""
    from dump1090_db_stream_spark.cache import (
        release_local_checkpoint,
        track_local_checkpoint,
    )

    release_tracked()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    ck = track_local_checkpoint(spark.range(100).selectExpr("id*2 v"))
    assert ck.count() == 100
    assert jsc.getPersistentRDDs().size() == base + 1
    ck.unpersist(blocking=True)   # documented no-op on checkpoints
    assert jsc.getPersistentRDDs().size() == base + 1
    assert release_tracked() >= 1
    assert jsc.getPersistentRDDs().size() == base
    # direct release path: non-checkpoint frames report False
    assert release_local_checkpoint(spark.range(3)) is False


def test_tracked_persist_with_rdd_root_takes_cachemanager_path(spark):
    """r13 regression (r12 ADVICE): a track()-persisted DataFrame whose
    analyzed root is a LogicalRDD (built straight from createDataFrame,
    no transformation) must be released through DataFrame.unpersist()
    — the untagged registry routed it through the checkpoint RDD
    release, which returned True on the (unpersisted) source RDD and
    silently leaked the CacheManager entry."""
    from dump1090_db_stream_spark.cache import track

    release_tracked()
    df = track(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    assert df.count() == 2
    assert df.storageLevel.useMemory
    assert release_tracked() >= 1
    lvl = df.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)


def test_iterative_loops_release_superseded_checkpoints_eagerly(spark):
    """r13 regression (r12 ADVICE): the iterative loops (connected
    components, pagerank) must release each superseded iteration's
    localCheckpoint once its successor is materialized — with the
    strong-ref registry pinning every round, peak executor storage grew
    O(iterations) per call. A chain graph forces min-label propagation
    through ~diameter rounds; afterwards only O(1) pins (the final
    checkpoint + the tracked edge persist) may remain until the
    caller's release_tracked()."""
    from dump1090_db_stream_spark.operators.graph import (
        connected_components,
        connected_components_star,
        pagerank,
    )

    release_tracked()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["id_a", "id_b"])
    connected_components(chain, local_threshold=0).count()
    assert jsc.getPersistentRDDs().size() <= base + 2  # sym + final pin
    release_tracked()
    assert jsc.getPersistentRDDs().size() == base

    connected_components_star(chain, local_threshold=0).count()
    assert jsc.getPersistentRDDs().size() <= base + 2  # nodes + final
    release_tracked()
    assert jsc.getPersistentRDDs().size() == base

    nodes = spark.range(12).selectExpr("id")
    pagerank(nodes, chain, n_iters=6).count()
    assert jsc.getPersistentRDDs().size() <= base + 2  # sym_deg + final
    release_tracked()
    assert jsc.getPersistentRDDs().size() == base


def test_iterative_operators_leave_no_storage_residue(spark):
    """connected-components (both algorithms) must leave ZERO
    persistent RDDs after the caller's release_tracked() — the exact
    residue mode the r12 full-suite run caught (checkpoints from
    earlier test files surviving into test_cache's assertion)."""
    from dump1090_db_stream_spark.operators.graph import canonical_map

    release_tracked()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i % 3}") for i in range(12)],
        ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    for algo in ("propagation", "star"):
        canonical_map(docs, pairs, algorithm=algo).count()
    release_tracked()
    assert jsc.getPersistentRDDs().size() == base


def test_iteration_error_path_releases_successor_pin(spark, monkeypatch):
    """r14 regression (r13 ADVICE): if an exception fires BETWEEN the
    successor checkpoint's creation and the ``labels = new_labels``
    swap (the convergence probe throwing is the realistic case), the
    handler must release BOTH the superseded pin and the freshly
    created successor — with the old handler only the former was
    freed, leaking one checkpoint per failed call until session end.
    Simulated by failing the Nth DataFrame.count() (the probe), when
    both generations' checkpoints are live."""
    import pytest
    # pyspark 4: instances are the classic subclass, which defines its
    # own count() — patch there, not on the facade base class.
    from pyspark.sql.classic.dataframe import DataFrame

    from dump1090_db_stream_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    release_tracked()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_a", "id_b"])
    real_count = DataFrame.count

    def fail_on(nth):
        calls = {"n": 0}

        def failing_count(self):
            calls["n"] += 1
            if calls["n"] == nth:
                raise RuntimeError("probe failed")
            return real_count(self)

        return failing_count

    # min-label: the probe is the loop's only count; fail iteration 2's
    # probe — new_labels (iter 2) and labels (iter 1) are both pinned.
    monkeypatch.setattr(DataFrame, "count", fail_on(2))
    with pytest.raises(RuntimeError, match="probe failed"):
        connected_components(chain, local_threshold=0)
    monkeypatch.setattr(DataFrame, "count", real_count)
    release_tracked()
    assert jsc.getPersistentRDDs().size() == base

    # star: 3 counts per iteration (fixpoint probe); fail iteration 2's
    # first — new_down (iter 2) and down (iter 1) are both pinned.
    monkeypatch.setattr(DataFrame, "count", fail_on(4))
    with pytest.raises(RuntimeError, match="probe failed"):
        connected_components_star(chain, local_threshold=0)
    monkeypatch.setattr(DataFrame, "count", real_count)
    release_tracked()
    assert jsc.getPersistentRDDs().size() == base


def test_registry_sweep_releases_caches_when_a_query_raises(spark, sf_dir):
    """A query that raises mid-sweep must not leak the caches every
    other query tracked into the shared session (r15 ADVICE #3): the
    sweep releases them in ``finally``."""
    from conftest import sweep_registry

    from dump1090_db_stream_spark import cache

    def tracks(spark, sf_dir):
        return cache.track(spark.range(3))

    def raises(spark, sf_dir):
        cache.track(spark.range(5))
        raise RuntimeError("query failed")

    release_tracked()
    with pytest.raises(RuntimeError, match="query failed"):
        sweep_registry(spark, sf_dir, {"ok": tracks, "bad": raises})
    assert cache._TRACKED == []
