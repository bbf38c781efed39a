"""foreachBatch incremental-dedup sink — the streaming face of
llm/incremental.py's batch-vs-history dedup.

The canonical production shape for "dedup the firehose against
everything already accepted": a Structured Streaming file source feeds
``foreachBatch``; each micro-batch (a) picks one winner per duplicate
key within the batch, (b) anti-joins the survivors against the
accumulated HISTORY (everything appended so far), (c) appends the
still-new rows to the history sink. foreachBatch gives exactly the
two things the built-in sinks can't: reading the sink's own history as
a batch table, and a multi-step (dedup -> anti-join -> append) write.

Semantics: keep-FIRST — a document survives iff no earlier batch (or
no smaller doc_id in its own batch) carried the same key. The key here
is the bag-of-words md5 (sorted distinct tokens — same key as
llm/curation.dedup_keep_best), chosen over the raw-text hash because
the synthetic corpus contains real bag-duplicates, so the drop path is
exercised by the driver's data, not just by planted fixtures.

Determinism: batches replay the ``doc_id`` parity split (two parquet
files, mtime-ordered, maxFilesPerTrigger=1), and foreachBatch
processes micro-batches strictly sequentially, so "first" is
well-defined: order by (parity, doc_id). That makes the whole
streaming pipeline expressible as ONE window query in ANSI SQL — the
DuckDB oracle below — which is the N-version evidence this repo
demands of every operator.

Scale (100 TB posture): the within-batch winner is a keyed partial
aggregation over ONE micro-batch (bounded by trigger size, not corpus
size); the anti-join touches the history's KEY COLUMN only (column
pruning at the history scan). At real scale the history is written
bucketed by key (sources/io.write_bucketed) so the per-batch anti-join
is co-located and shuffle-free on the history side; the append itself
is partitioned-file I/O. State lives in the sink files, not in
executor memory — restart resumes from the checkpoint with no state
rebuild.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import dual

def _bow_key() -> F.Column:
    """The dedup key: md5 of the sorted distinct token set (bag-of-
    words). A function, not a module constant — Column construction
    needs an active SparkContext, which imports must not assume."""
    return F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(F.split(F.col("text"), " ")))
        )
    )


def incremental_dedup_sink(
    docs_stream: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Start the sink: one winner per key per batch, anti-joined
    against the accumulated history, appended. Returns the
    StreamingQuery (availableNow trigger — drains then stops)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        keyed = batch_df.select(
            "doc_id", "source", _bow_key().alias("bow_key")
        )
        # within-batch winner: smallest doc_id per key (partial-agg'd)
        winners = keyed.groupBy("bow_key").agg(
            F.min("doc_id").alias("doc_id"),
            F.expr("min_by(source, doc_id)").alias("source"),
        )
        try:
            hist = spark.read.parquet(out_dir).select("bow_key")
            fresh = winners.join(hist, "bow_key", "left_anti")
        except Exception:  # first batch: no history yet
            fresh = winners
        (
            fresh.select(
                "doc_id", "source", "bow_key",
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _write_single_parquet(df: DataFrame, path: str) -> None:
    """Write ``df`` as ONE flat parquet file at ``path`` (the file
    stream source does not recurse into Spark's output directories).
    ``repartition(1)`` guarantees exactly one writer task even for an
    empty frame, so a schema-bearing zero-row file always exists."""
    import shutil

    stage = tempfile.mkdtemp(prefix="sqlondataframesr_dedup_stage_")
    df.repartition(1).write.mode("overwrite").parquet(stage)
    part = [f for f in os.listdir(stage) if f.startswith("part-")]
    shutil.move(os.path.join(stage, part[0]), path)
    shutil.rmtree(stage, ignore_errors=True)


def _split_documents_by_parity(spark: SparkSession, sf_dir: str) -> str:
    """Materialize documents as TWO parquet files (doc_id parity),
    mtime-ordered so the file stream source replays even-ids as batch
    0 and odd-ids as batch 1 — the deterministic arrival order the
    oracle reproduces.

    When ``sf_dir`` has no real documents.parquet (a pseudo sf_dir
    serving tables through the catalog cache — the empty-input sweep,
    fixture tests), the split is produced from the catalog table via
    Spark instead of pyarrow, so the streaming path is exercised on
    EXACTLY the same inputs as every batch operator (EMPTYCHECK skip=0,
    VERDICT r9 item 3)."""
    d = tempfile.mkdtemp(prefix="sqlondataframesr_dedup_stream_")
    p0, p1 = os.path.join(d, "batch0.parquet"), os.path.join(d, "batch1.parquet")
    src = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(src):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src)
        even = t.filter(pc.equal(pc.bit_wise_and(t["doc_id"], 1), 0))
        odd = t.filter(pc.equal(pc.bit_wise_and(t["doc_id"], 1), 1))
        pq.write_table(even, p0)
        pq.write_table(odd, p1)
    else:
        docs = load_table(spark, sf_dir, "documents")
        _write_single_parquet(docs.filter(F.expr("doc_id % 2 = 0")), p0)
        _write_single_parquet(docs.filter(F.expr("doc_id % 2 = 1")), p1)
    now = os.stat(p0).st_mtime
    os.utime(p0, (now - 60, now - 60))  # strictly older -> first batch
    os.utime(p1, (now, now))
    return d


def stream_dedup_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the incremental-dedup sink over the parity-split document
    stream to completion; return the accepted history.

    Output: (doc_id, source, batch_id) of every surviving document,
    ordered by doc_id — keep-first over (parity, doc_id).
    """
    src_dir = _split_documents_by_parity(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="sqlondataframesr_dedup_hist_")
    ckpt = tempfile.mkdtemp(prefix="sqlondataframesr_dedup_ckpt_")
    schema = load_table(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src_dir)
    )
    incremental_dedup_sink(stream, out_dir, ckpt).awaitTermination()
    try:
        hist = spark.read.parquet(out_dir)
    except Exception:
        # zero-row input: every micro-batch appended an empty frame, so
        # the sink holds no schema-bearing files — the history is empty
        return spark.createDataFrame(
            [], "doc_id long, source string, batch_id long"
        )
    return hist.select("doc_id", "source", "batch_id").orderBy("doc_id")


#: the whole streaming pipeline as one window query: first occurrence
#: of each bag-of-words key in (parity, doc_id) arrival order
STREAM_DEDUP_HISTORY_ORACLE = """
WITH keyed AS (
  SELECT doc_id, source, doc_id % 2 AS batch_id,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
           AS bow_key
  FROM documents
), ranked AS (
  SELECT doc_id, source, batch_id,
         ROW_NUMBER() OVER (PARTITION BY bow_key
                            ORDER BY batch_id, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, source, batch_id FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


QUERIES = {"stream_dedup_history": stream_dedup_history}
TEMPLATES = {"stream_dedup_history": dual(STREAM_DEDUP_HISTORY_ORACLE)}
