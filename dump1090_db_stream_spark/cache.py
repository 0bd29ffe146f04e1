"""Cache lifecycle for persisted operator intermediates.

Several operators persist() an intermediate DataFrame that feeds multiple
consumers in the same plan (the ngram inverted index, MinHash band table,
rollup levels).  The persist MUST outlive the caller's consuming action, so
the operator cannot unpersist it itself — but a long-lived session that
invokes these operators repeatedly would otherwise accumulate executor
storage memory without bound.

Contract: callers own cache lifecycle.  Every operator-internal persist()
is registered here; after the consuming action, call
:func:`release_tracked` (idempotent) to unpersist everything at once.
``bench.py`` and the test-suite fixtures do exactly that between queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Strong refs on purpose: a JVM-side persist outlives its Python wrapper
# (dropping the DataFrame object does NOT unpersist the cached plan), so
# the registry must hold the handle needed to free it later.  Entries
# are tagged (frame, may_be_checkpoint): only registrations that may
# wrap an eager localCheckpoint take the RDD-release path — a track()'d
# CacheManager persist whose analyzed root happens to be a LogicalRDD
# (a frame built straight from createDataFrame) must NOT be routed
# there, or the release would unpersist the source RDD and silently
# leak the CacheManager entry (r12 ADVICE).
_TRACKED: list[tuple[DataFrame, bool]] = []


def track(df: DataFrame) -> DataFrame:
    """persist() ``df`` and register it for later :func:`release_tracked`."""
    df = df.persist()
    _TRACKED.append((df, False))
    return df


def register_for_release(df: DataFrame) -> DataFrame:
    """Register an ALREADY-cached relation (a persisted frame the
    operator manages itself, or an eager localCheckpoint whose blocks
    only :func:`release_local_checkpoint` can free) so the caller's
    :func:`release_tracked` covers it."""
    _TRACKED.append((df, True))
    return df


def track_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` registered with the tracked registry.
    Iterative operators use this for lineage truncation; WITHOUT the
    registration the checkpoint's RDD blocks outlive every DataFrame
    handle (``unpersist()`` is a no-op on them — see
    :func:`release_local_checkpoint`) and a long-lived session
    accumulates storage across operator invocations."""
    return register_for_release(df.localCheckpoint(eager=True))


def _release_one(df: DataFrame, may_be_checkpoint: bool) -> bool:
    try:
        released = may_be_checkpoint and release_local_checkpoint(df)
        # A registered frame can ALSO hold a CacheManager entry (a
        # persisted relation the operator manages itself), and a
        # checkpoint release never clears that — check the storage
        # level so neither layer leaks.
        lvl = df.storageLevel
        if not released or lvl.useMemory or lvl.useDisk:
            df.unpersist(blocking=False)
        return True
    except Exception:  # session already stopped — nothing to free
        return False


def release_tracked() -> int:
    """Unpersist every tracked intermediate; returns the count released."""
    n = sum(1 for df, ck in _TRACKED if _release_one(df, ck))
    _TRACKED.clear()
    return n


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free the persisted RDD behind an eager ``localCheckpoint``
    DataFrame NOW. ``DataFrame.unpersist()`` is a NO-OP on these —
    localCheckpoint caches at the RDD layer, outside the CacheManager
    the DataFrame API talks to — so without this the blocks linger
    until the driver garbage-collects the Python wrapper and the
    ContextCleaner notices (nondeterministic; a long session running
    iterative trainers would accumulate storage, the exact residue
    discipline ``release_tracked`` exists for). Reaches the RDD via
    the checkpoint plan root (``LogicalRDD.rdd``); returns False when
    the plan is not a checkpoint root or the session is gone."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith(".LogicalRDD"):
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:  # session stopped / internal API moved
        return False
