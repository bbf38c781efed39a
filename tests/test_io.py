"""Tests for the CSV reader and the layout writers of sources/io.py."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from sqlondataframesr_spark.catalog import load_table
from sqlondataframesr_spark.check import compare_frames
from sqlondataframesr_spark.sources import io


def test_csv_roundtrip_inferred_schema(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    nation.write.option("header", "true").csv(path)
    back = io.read_csv(spark, path)
    assert not compare_frames(back, nation)
    # inference recovered the numeric key types, not strings
    assert dict(back.dtypes)["n_nationkey"] in {"int", "bigint"}


def test_csv_explicit_schema_roundtrip(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_csv")
    region.write.option("header", "true").csv(path)
    back = io.read_csv(spark, path, schema=region.schema)
    assert not compare_frames(back, region)
    assert back.schema == region.schema


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """orders ⋈ lineitem both bucketed on the order key: the join must
    run with ZERO exchanges — bucket i joins bucket i directly."""
    from sqlondataframesr_spark.plans.audit import audit

    # warehouse.dir is a static conf — tables land in ./spark-warehouse
    # (gitignored); dropped in the finally below
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    io.write_bucketed(orders, "orders_b", ["o_orderkey"], 8, sort_by=["o_orderkey"])
    io.write_bucketed(lineitem, "lineitem_b", ["l_orderkey"], 8, sort_by=["l_orderkey"])
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = (
                spark.table("orders_b")
                .join(
                    spark.table("lineitem_b"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            a = audit(j)
            assert "SortMergeJoin" in a.join_strategies
            # the JOIN itself is exchange-free; the only exchange is the
            # final single-key aggregate
            assert a.n_exchanges <= 1
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_binary_file_source_reads_payload_bytes(spark, sf_dir):
    """binaryFile ingestion (sources/binary.py): every fixture file is
    listed once, with its exact byte count and the checksum of its
    generated bytes."""
    import hashlib

    from sqlondataframesr_spark.sources import binary

    rows = binary.mm_binary_ingest(spark, sf_dir).collect()
    blobs = [binary._content(i) for i in range(binary.N_FILES)]
    assert [(r.file_name, r.n_bytes, r.content_md5) for r in rows] == [
        (f"{i:04d}.bin", len(b), hashlib.md5(b.hex().upper().encode()).hexdigest())
        for i, b in enumerate(blobs)
    ]


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    """50 tiny input files -> sized output: file count from REAL byte
    totals, rows preserved exactly, evenly-sized outputs."""
    src, dst = str(tmp_path / "tiny"), str(tmp_path / "compacted")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(50).write.parquet(src)
    n_in = len(glob.glob(os.path.join(src, "*.parquet")))
    assert n_in == 50

    total = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(src, "*.parquet"))
    )
    target = max(1, total // 3)  # force ~3-4 output files
    n_out = io.compact_parquet(spark, src, dst, target_bytes=target)
    files = glob.glob(os.path.join(dst, "*.parquet"))
    assert len(files) == n_out == -(-total // target)
    # data survives the rewrite exactly
    before = sorted(r.o_orderkey for r in orders.collect())
    after = sorted(r.o_orderkey for r in spark.read.parquet(dst).collect())
    assert before == after
    # round-robin repartition -> roughly even output sizes (the point
    # of paying the shuffle instead of coalesce)
    sizes = sorted(os.path.getsize(f) for f in files)
    assert sizes[0] > 0.5 * sizes[-1], sizes


def test_compact_parquet_preserves_partitioning(spark, sf_dir, tmp_path):
    """Compacting a partitioned table keeps the directory layout (and
    therefore pruning on re-read) while merging the per-partition
    slivers many writers left behind."""
    src, dst = str(tmp_path / "part_src"), str(tmp_path / "part_dst")
    orders = load_table(spark, sf_dir, "orders")
    # 20 writer tasks x 3 statuses -> up to 60 slivers
    orders.repartition(20).write.partitionBy("o_orderstatus").parquet(src)
    n_src = len(glob.glob(os.path.join(src, "o_orderstatus=*/*.parquet")))
    assert n_src > 20

    io.compact_parquet(
        spark, src, dst, target_bytes=1 << 30, partition_by=("o_orderstatus",)
    )
    dirs = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(dst, "o_orderstatus=*"))
    )
    assert dirs == sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(src, "o_orderstatus=*"))
    )
    n_dst = len(glob.glob(os.path.join(dst, "o_orderstatus=*/*.parquet")))
    assert n_dst < n_src  # slivers merged
    # rows survive and pruning still works on the compacted layout
    again = spark.read.parquet(dst)
    assert again.count() == orders.count()
    one = again.filter(F.col("o_orderstatus") == "F")
    assert "o_orderstatus=F" in " ".join(one.inputFiles()) or one.count() > 0


def test_write_sharded_bounds_file_sizes(spark, sf_dir, tmp_path):
    """Every physical file must respect maxRecordsPerFile and the full
    dataset must round-trip — the training-export contract."""
    import pyarrow.parquet as pq

    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    path = str(tmp_path / "lineitem_sharded")
    io.write_sharded(li, path, max_records_per_file=1000, n_shards=3)
    files = glob.glob(os.path.join(path, "*.parquet"))
    assert len(files) >= n // 1000  # the cap forces a multi-file layout
    per_file = [pq.ParquetFile(f).metadata.num_rows for f in files]
    assert all(c <= 1000 for c in per_file), per_file
    assert sum(per_file) == n
    assert spark.read.parquet(path).count() == n


def test_write_clustered_files_have_disjoint_ranges(spark, sf_dir, tmp_path):
    """Range clustering is only worth its shuffle if the resulting
    files carry near-disjoint min/max stats on the cluster column —
    that is what lets parquet footers prune whole files for a range
    predicate. Assert the per-file [min, max] intervals do not
    overlap (boundary duplicates excepted)."""
    import pyarrow.parquet as pq

    ords = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_clustered")
    io.write_clustered(ords, path, cluster_by=["o_orderdate"], n_files=8)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) >= 2
    ranges = []
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        ci = pf.schema_arrow.names.index("o_orderdate")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo, (a_hi, b_lo)
    assert spark.read.parquet(path).count() == ords.count()


def test_write_zordered_bounds_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order must bound per-file min/max spans on BOTH z columns —
    that is its whole advantage over single-column range clustering,
    which leaves every file spanning the full domain of the second
    column. Asserted against that exact baseline."""
    import pyarrow.parquet as pq

    ev = load_table(spark, sf_dir, "events")

    def spans(path, col):
        out, lows, highs = [], [], []
        for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
            pf = pq.ParquetFile(f)
            md = pf.metadata
            ci = pf.schema_arrow.names.index(col)
            st = [
                md.row_group(rg).column(ci).statistics
                for rg in range(md.num_row_groups)
            ]
            lo, hi = min(s.min for s in st), max(s.max for s in st)
            lows.append(lo), highs.append(hi)
            out.append((lo, hi))
        g = max(highs) - min(lows)
        g = g.total_seconds() if hasattr(g, "total_seconds") else g
        return [
            ((hi - lo).total_seconds() if hasattr(hi - lo, "total_seconds")
             else hi - lo) / g
            for lo, hi in out
        ]

    zpath = str(tmp_path / "ev_z")
    io.write_zordered(ev, zpath, zorder_by=["user_id", "ts"], n_files=8)
    cpath = str(tmp_path / "ev_range")
    io.write_clustered(ev, cpath, cluster_by=["user_id"], n_files=8)

    z_user, z_ts = spans(zpath, "user_id"), spans(zpath, "ts")
    c_ts = spans(cpath, "ts")
    # every z file covers a bounded slice of the leading column...
    assert max(z_user) <= 0.6, z_user
    # ...and the SECOND column is also bounded on average (one file may
    # straddle a Morton-curve jump), where range clustering prunes
    # nothing on it
    assert sum(z_ts) / len(z_ts) <= 0.8, z_ts
    assert sum(c_ts) / len(c_ts) >= 0.9, c_ts
    # lossless: same rows back
    assert spark.read.parquet(zpath).count() == ev.count()
