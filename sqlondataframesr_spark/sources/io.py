"""Sources & sinks beyond the driver's parquet testdata.

The reference's only source is CSV-with-inferred-schema
(``read.csv("Users.csv")`` x7, RDataFramesSQL.Rmd:61-67) and its only
sink is the in-memory data.frame. The package reads every other format
with Spark's own readers (``spark.read.json/orc/text``, the
``binaryFile`` source in sources/binary.py) and writes with
``df.write``; this module keeps only what adds a contract of its own:

- :func:`read_csv` — header + schema inference (the reference's exact
  semantics) or an explicit schema for production paths. Schema
  inference costs a full extra pass over the data — at 100 TB always
  pass the schema. The sqldf-style load-every-table workflow is
  ``queries/stackexchange.load_se``.
- :func:`compact_parquet` — small-file compaction sized from real
  file statuses.
- :func:`write_bucketed` — shuffle-free joins on the bucket key.
- :func:`write_sharded` — size-bounded training-data export.
- :func:`write_clustered` / :func:`write_zordered` — range- and
  Z-order-clustered layouts for footer data skipping.

Scale notes: all readers produce splittable scans (CSV split by
newline at block boundaries, parquet by row group); writers emit one
file per task — control output file count with
``df.repartition(n)`` (or ``spark.sql.files.maxRecordsPerFile``)
upstream of the write, NOT with coalesce(1), which serializes the
whole job through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan; infers the schema when none is given (reference
    semantics — costs an extra data pass, fine below ~GB scale)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_bytes: int = 512 * 1024 * 1024,
    mode: str = "error",
    partition_by: tuple[str, ...] = (),
) -> int:
    """Small-file compaction — the table-maintenance pass every
    long-running ingestion pipeline needs: N tiny parquet files
    (streaming micro-batch sinks, per-task writers) rewritten as
    ``ceil(total_bytes / target_bytes)`` evenly-sized files.

    Why it matters at 100 TB: a million 1 MB files cost a scheduler
    task each, defeat row-group-level parallelism, and hammer the
    namenode/object-store listing; ~512 MB files are the
    scan-friendly shape (a few row groups each). Sizing comes from
    the REAL file statuses via the Hadoop FileSystem API (works on
    HDFS/S3A/local alike), not a guess; the rewrite is one
    ``repartition`` round-robin shuffle, which evens out skewed
    input files — the lineage-free alternative (``coalesce``) skips
    the shuffle but inherits input skew, the wrong trade for a
    maintenance pass whose whole point is uniform output.

    For a PARTITIONED table pass ``partition_by``: rows are
    repartitioned on the partition columns (so each output directory
    is written by as few tasks as its data needs, instead of every
    task writing a sliver into every directory) and the layout — and
    therefore partition pruning on re-read — is preserved.

    Returns the number of shuffle partitions used for the rewrite.
    """
    df = spark.read.parquet(src)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in df.inputFiles():
        p = jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(conf)
        total += fs.getFileStatus(p).getLen()
    n_out = max(1, -(-total // target_bytes))
    if partition_by:
        out = df.repartition(n_out, *[F.col(c) for c in partition_by])
        out.write.mode(mode).partitionBy(*partition_by).parquet(dst)
    else:
        out = df.repartition(n_out)
        out.write.mode(mode).parquet(dst)
    return n_out


def write_bucketed(
    df,
    table: str,
    bucket_by: list[str],
    n_buckets: int = 8,
    sort_by: list[str] | None = None,
    mode: str = "error",
) -> None:
    """Persist as a BUCKETED table (`bucketBy` requires saveAsTable —
    bucket metadata lives in the catalog, not the files).

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT a shuffle: each task reads bucket i of both sides —
    this is how a 100 TB fact-fact join (lineitem ⋈ orders) avoids
    re-shuffling the larger side on every query. Sort-by additionally
    pre-orders within buckets so the sort-merge join skips its sort.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def write_sharded(
    df: DataFrame,
    path: str,
    max_records_per_file: int,
    n_shards: int | None = None,
    mode: str = "error",
) -> None:
    """Size-bounded parquet export — the training-data delivery path.

    Downstream trainers stream shards; they need MANY files of a
    BOUNDED size, not one file per Spark partition. Two controls
    compose: ``repartition(n_shards)`` sets the parallel writer count
    (round-robin, so shards are even with no key skew) and
    ``spark.sql.files.maxRecordsPerFile`` caps rows per physical file
    (a writer with more rows rolls to part-N files). At 100 TB
    n_shards is the write parallelism; the row cap is the contract
    with the consumer.
    """
    writer_df = df.repartition(n_shards) if n_shards else df
    (
        writer_df.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int = 8,
    mode: str = "error",
) -> None:
    """Range-clustered parquet layout for data skipping.

    ``repartitionByRange`` + ``sortWithinPartitions`` on the cluster
    columns gives each output file a narrow, near-disjoint min/max
    range on those columns; parquet stores those stats per row group,
    so a later point/range filter prunes whole files+row-groups at
    the footer (the poor man's Z-order — exact for one leading
    column, which covers the dominant scan predicate of a fact
    table, e.g. events by ts). Without this, every file spans the
    full value domain and min/max stats prune nothing.
    """
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_by])
        .sortWithinPartitions(*cluster_by)
        .write.mode(mode)
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int = 8,
    mode: str = "error",
    bits: int = 16,
) -> None:
    """Z-order (Morton-curve) clustered parquet layout: multi-column
    data skipping, where :func:`write_clustered` is exact only for the
    leading column.

    Each z column is min-max normalized to a ``bits``-wide integer
    (timestamps via ``unix_micros``; the one-row min/max aggregate is
    a broadcast, the normalization is map-only), the per-column bits
    are interleaved into one Morton key, and files are range-
    partitioned + sorted on that key. The result: every file covers a
    small HYPER-RECTANGLE of the value space, so parquet footer
    min/max stats prune files for predicates on ANY z column — the
    same mechanism Delta/Iceberg OPTIMIZE ZORDER uses. Cost model:
    one extra shuffle at write time (identical to write_clustered);
    the interleave is an unrolled codegen expression, no UDF.

    ``bits`` * len(zorder_by) must stay < 63 (the key is one bigint);
    16 bits/column keeps file-boundary resolution far below any
    realistic file count through 3 columns.
    """
    if bits * len(zorder_by) >= 63:
        raise ValueError("bits * n_columns must stay below 63")
    from pyspark.sql.types import TimestampType

    n = len(zorder_by)
    work = df
    qcols = []
    for c in zorder_by:
        field = df.schema[c].dataType
        num = (
            f"cast(unix_micros({c}) as double)"
            if isinstance(field, TimestampType)
            else f"cast({c} as double)"
        )
        q = f"__zq_{c}"
        qcols.append(q)
        work = work.withColumn(f"__zv_{c}", F.expr(num))
    stats = work.agg(
        *[F.min(f"__zv_{c}").alias(f"__mn_{c}") for c in zorder_by],
        *[F.max(f"__zv_{c}").alias(f"__mx_{c}") for c in zorder_by],
    )
    work = work.crossJoin(F.broadcast(stats))
    top = (1 << bits) - 1
    for c, q in zip(zorder_by, qcols):
        work = work.withColumn(
            q,
            F.expr(
                f"cast(coalesce(floor((__zv_{c} - __mn_{c})"
                f" / nullif(__mx_{c} - __mn_{c}, 0.0d) * {top} + 0.5d),"
                f" 0) as bigint)"
            ),
        )
    # interleave: bit j of column k lands at position j*n + (n-1-k),
    # so the leading column owns the most significant bit of each group
    terms = [
        f"shiftleft(shiftright({q}, {j}) & 1, {j * n + (n - 1 - k)})"
        for j in range(bits)
        for k, q in enumerate(qcols)
    ]
    z = " + ".join(terms)  # disjoint bit positions: + == bitwise OR
    (
        work.withColumn("__z", F.expr(z))
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .select(*df.columns)  # projection preserves intra-partition order
        .write.mode(mode)
        .parquet(path)
    )
