"""SparkSession factory.

Local testing runs on ``local[N]``; the same SQL configs are the ones
we'd set cluster-side at 100 TB:

- AQE on (runtime re-planning, partition coalescing, skew-join splits)
  so the physical plan adapts to real statistics instead of estimates.
- ``spark.sql.shuffle.partitions`` sized to the parallelism at hand —
  on a 1000-executor cluster this would be (cores * 2..3); locally we
  match the CPU count so tiny SFs don't fragment into empty tasks
  (AQE coalescing fixes over-partitioning at runtime either way).
- Arrow enabled: every pandas interchange (toPandas, applyInPandas,
  mapInPandas) moves columnar batches instead of pickled rows.
- Session timezone pinned to UTC so date/hour extraction is
  deterministic and matches the DuckDB oracle.
- Timestamp-encoding defenses: the testdata generator has shipped
  ``events.ts`` as TIMESTAMP(NANOS) (read as int64 under
  ``nanosAsLong``) and as TIMESTAMP(MICROS) without UTC adjustment
  (read as TIMESTAMP_NTZ unless ``inferTimestampNTZ`` is disabled).
  Both confs are set here, and the catalog layer ALSO canonicalizes
  by arrived type — either defense alone produces the invariant:
  session-TZ microsecond timestamps, DuckDB's own resolution, so both
  engines see identical instants.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL configs applied to every session this factory builds. All of
#: them are runtime (non-static) confs, so `configure()` can also
#: apply them to an externally-created session (e.g. the driver's).
SQL_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # r14 (guide §2.2/§2.5, measured): AQE coalescing targets BYTES,
    # and its default 1 MB minPartitionSize floor serializes stages
    # whose CPU-per-byte is extreme — the md5 shingle/fingerprint
    # family's postings aggregates carry a few MB but tens of CPU
    # seconds, and the floor coalesced them to ~4 tasks on 32 cores
    # (observed as (3+1)/4 straggler stages). 128k keeps such stages
    # parallel; the floor is a LOWER bound that never binds once
    # partitions carry real bytes (at 100 TB bytes/parallelism >> 1 MB,
    # so this changes nothing there — and on any scale a tiny-byte/
    # huge-CPU aggregate is exactly the stage you don't want fused).
    # A/B at sf0.1 (counterbalanced): dedup_containment 3.6 -> 1.67 s,
    # dedup_ngram_jaccard_capped 3.3 -> 1.9 s, ann_recall_report
    # 8.2 -> 7.4 s, ret_rank_agreement 5.3 -> 4.9 s, profile_orders
    # 1.27 -> 0.95 s; evt_markov_attribution/dedup_substring_13gram
    # read 0.3-0.4 s high in one leg each, inside their recorded
    # noise bands (spreads 3.9-6.2 / 3.6-5.7).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "128k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet TIMESTAMP(MICROS) without isAdjustedToUTC would otherwise
    # read as TIMESTAMP_NTZ (Spark >= 3.4), breaking every unix_micros
    # call site; read it as session-TZ TIMESTAMP instead. The catalog
    # layer ALSO canonicalizes ntz -> timestamp by type, so either
    # defense alone suffices (e.g. under an externally-built session).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Plan-string truncation elides PushedFilters / ReadSchema
    # metadata mid-token (maxMetadataStringLength caps each scan-node
    # metadata entry at 100 chars; maxToStringFields caps field
    # lists), blinding plans/audit.py and `bench.py plans`; the audit
    # layer is a first-class surface here, so print plans whole.
    "spark.sql.debug.maxToStringFields": "500",
    "spark.sql.maxMetadataStringLength": "10000",
    # Write timestamps as TIMESTAMP(MICROS), not legacy INT96: INT96
    # columns carry NO parquet min/max statistics, so every
    # timestamp-range predicate on our own output would lose
    # row-group/file pruning — the whole point of the clustered
    # layout (sources/io.write_clustered, pinned in test_io).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


#: Per-family conf profiles for the two toy-scale latency families, set
#: on a live session by bench.py for each row of their family (all
#: three modes: the timed runs, ``profile`` and ``plans``).
#: ``get_spark`` and ``configure`` never apply them: every other query,
#: and any session at real scale, runs under SQL_CONFS above — the
#: compute-dense extension operators NEED the parallelism and AQE's
#: skew handling, and at 100 TB stages carry real bytes, so AQE's
#: runtime statistics pick partitions and join strategies.
#:
#: - ``ref``: the six transposed reference queries over parquet. They
#:   are stage-latency bound at test SFs, so AQE's per-stage re-planning
#:   barrier and wide shuffles cost more than they save (round 4 A/B:
#:   headline total 3.72 s -> ~2.4 s, every one of the six improved).
#:   The testdata parquet files are ONE row group each, so a scan never
#:   parallelizes below file granularity: 256k splits (42 tasks on
#:   lineitem, 41 empty) cost ~0.15 s/query in dispatch vs 1m (11
#:   tasks), and 128m (1 task) loses the overlap across the query's
#:   scans (r13 counterbalanced A/B at sf0.1: six-query sum 256k
#:   2.98/2.70, 1m 2.16/2.16). The join pair steers the orders-side
#:   joins from a driver-built broadcast (150k rows collected and hashed
#:   every run) to shuffled-hash joins built on the 8 reduce tasks
#:   (q3 0.545 -> 0.359, q4 0.65 -> 0.53 in direct A/B). Scaling the
#:   partition count with the cores was A/B'd at 32 cores and rejected
#:   (sum 2.32 s at 8 vs 2.74 s at 32): partitions follow data
#:   granularity here, not cores.
#: - ``se``: the literal StackExchange tasks read byte-splittable CSV
#:   (real sub-file parallelism, honest size estimates), where 256k
#:   splits and broadcast joins still win (r13 A/B: task3 0.23 vs 0.33,
#:   task4 0.34 vs 0.46 under the ``ref`` profile).
PROFILES = {
    "ref": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.files.maxPartitionBytes": "1m",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.autoBroadcastJoinThreshold": "1048576",
    },
    "se": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.files.maxPartitionBytes": "256k",
        "spark.sql.join.preferSortMergeJoin": "true",
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
    },
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL confs to an existing session."""
    for k, v in SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 - conf may be static/unknown on some builds
            pass
    # An externally-built session keeps Spark's default of 200 shuffle
    # partitions — 25x the core count of a local[8] driver harness,
    # pure task-scheduling overhead at test SFs (AQE coalescing mends
    # most of it, but the driver gate times out per query, not per
    # round). Right-size ONCE, only if still at the untouched default.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(default_parallelism())
            )
    except Exception:  # noqa: BLE001
        pass
    return spark


def get_spark(
    app_name: str = "sqlondataframesr-spark",
    cpus: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in SQL_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
