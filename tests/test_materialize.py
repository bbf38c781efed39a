"""Materialization choke-point contract (sqlondataframesr_spark.materialize)."""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from sqlondataframesr_spark.materialize import _PINNED, materialize, release_all
from sqlondataframesr_spark.operators.components import min_label_components


def test_materialize_pins_and_release_unpersists(spark):
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    pinned = df.transform(materialize)
    assert pinned in _PINNED
    assert pinned.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
    pinned.count()  # materialize the cache
    release_all()
    assert not _PINNED
    assert pinned.storageLevel == StorageLevel.NONE


def test_release_all_frees_truncated_blocks(spark):
    """``DataFrame.unpersist`` leaves a ``localCheckpoint``'s blocks
    cached, so ``release_all`` must unpersist the checkpointed RDDs that
    ``truncate`` recorded: after the release no RDD stays cached."""
    nodes = spark.range(6).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1), (4, 5), (5, 4)], "src bigint, dst bigint"
    )
    labels = min_label_components(nodes, edges)
    assert sorted(labels.collect()) == [
        (0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)
    ]
    sc = spark.sparkContext._jsc.sc()
    assert len(sc.getRDDStorageInfo()) > 0
    release_all()
    assert [i.toString() for i in sc.getRDDStorageInfo()] == []


def test_release_all_is_idempotent_and_safe(spark):
    release_all()  # empty: no-op
    df = spark.range(10).transform(materialize)
    release_all()
    release_all()
    # plan still computable after unpersist (lineage preserved)
    assert df.count() == 10


def test_force_concurrently_builds_all_caches(spark):
    """r13: the report operators force independent pinned branches from
    a thread pool (guide §2.6). Contract: after the call every frame's
    cache is BUILT (no lazy residue) and results are intact."""
    from sqlondataframesr_spark.materialize import force_concurrently

    frames = [
        materialize(spark.range(100 * (i + 1)).selectExpr("id", "id * 2 as v"))
        for i in range(3)
    ]
    force_concurrently(frames)
    try:
        for i, df in enumerate(frames):
            # storage level being set only proves persist() ran (ADVICE
            # r13): assert cache RESIDENCY — the optimized plan resolves
            # to an InMemoryRelation whose buffers are populated, i.e.
            # the counts actually executed
            assert df.storageLevel != StorageLevel.NONE
            rel = df._jdf.queryExecution().optimizedPlan()
            assert "InMemoryRelation" in rel.nodeName(), rel.nodeName()
            assert rel.cacheBuilder().isCachedColumnBuffersLoaded()
            assert df.count() == 100 * (i + 1)
    finally:
        release_all()


def test_force_concurrently_rejects_unpersisted_frame(spark):
    """ADVICE r13: a frame that was never pinned would silently
    column-prune the count and build no cache — the helper must fail
    loudly instead."""
    import pytest

    from sqlondataframesr_spark.materialize import force_concurrently

    bare = spark.range(10).selectExpr("id", "id * 3 as v")
    with pytest.raises(ValueError, match="not persisted"):
        force_concurrently([bare, materialize(spark.range(5))])
    release_all()


def test_force_concurrently_without_pinned_threads(spark, monkeypatch):
    """With PYSPARK_PIN_THREAD=false, ``inheritable_thread_target``
    returns its argument (the session, not a decorator); the helper
    must fall back to plain pool threads and still build every cache."""
    import pyspark.util

    from sqlondataframesr_spark.materialize import force_concurrently

    monkeypatch.setattr(pyspark.util, "inheritable_thread_target", lambda f=None: f)
    frames = [materialize(spark.range(10 * (i + 1))) for i in range(2)]
    try:
        force_concurrently(frames)
        for df in frames:
            rel = df._jdf.queryExecution().optimizedPlan()
            assert rel.cacheBuilder().isCachedColumnBuffersLoaded()
    finally:
        release_all()


def test_force_concurrently_handles_empty_and_single(spark):
    from sqlondataframesr_spark.materialize import force_concurrently

    force_concurrently([])  # no-op
    one = materialize(spark.range(7))
    force_concurrently([one])
    assert one.count() == 7
    release_all()
