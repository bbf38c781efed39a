"""Structured Streaming differential tests.

The same transformation function is applied to a batch read and to a
streaming read of the same parquet; with trigger=availableNow the
stream's final state must equal the batch result (complete output
mode), recreating the reference's N-version check across *execution
modes* instead of engines.
"""

from __future__ import annotations

import uuid

from sqlondataframesr_spark.catalog import canonicalize_ts, load_table
from sqlondataframesr_spark.check import compare_frames
from sqlondataframesr_spark.streaming import windows as W


def _run_stream(spark, df, mode="complete"):
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_stream_matches_batch(spark, sf_dir):
    batch = W.tumbling(load_table(spark, sf_dir, "events"))
    stream = W.tumbling(W.with_watermark(W.stream_events(spark, sf_dir)))
    got = _run_stream(spark, stream)
    assert not compare_frames(got, batch)


def test_sliding_stream_matches_batch(spark, sf_dir):
    batch = W.sliding(load_table(spark, sf_dir, "events"))
    stream = W.sliding(W.with_watermark(W.stream_events(spark, sf_dir)))
    got = _run_stream(spark, stream)
    assert not compare_frames(got, batch)


def test_session_stream_matches_batch(spark, sf_dir):
    batch = W.sessionized(load_table(spark, sf_dir, "events"))
    stream = W.sessionized(W.with_watermark(W.stream_events(spark, sf_dir)))
    got = _run_stream(spark, stream)
    assert not compare_frames(got, batch)


def test_session_funnel_stream_matches_batch(spark, sf_dir):
    """VERDICT r10 item 8: the funnel flags (has_click / converted)
    computed per session_window must agree between a true streaming
    run (availableNow, watermark) and the batch run of the SAME
    transformation — and so must the rolled-up funnel counts."""
    from pyspark.sql import functions as F

    batch = W.session_funnel(load_table(spark, sf_dir, "events"))
    stream = W.session_funnel(W.with_watermark(W.stream_events(spark, sf_dir)))
    got = _run_stream(spark, stream)
    assert not compare_frames(got, batch)
    rollup = lambda df: sorted(  # noqa: E731
        tuple(r)
        for r in df.agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.col("has_click").cast("long")).alias("n_with_click"),
            F.sum(F.col("converted").cast("long")).alias("n_converted"),
        ).collect()
    )
    assert rollup(got) == rollup(batch)


def test_capped_session_profile_stream_matches_batch(spark, sf_dir):
    """VERDICT r10 item 8: the bot-guard cap over session rows. The
    cap needs corpus-wide per-user totals (unknowable mid-stream), so
    the production shape is stream-writes-sessions + batch-curates:
    stream sink -> capped_session_profile must equal batch sessionize
    -> capped_session_profile, with a cap that BINDS (drops at least
    one user) on this corpus."""
    from pyspark.sql import functions as F

    batch_sessions = W.sessionized(load_table(spark, sf_dir, "events"))
    stream_sessions = _run_stream(
        spark, W.sessionized(W.with_watermark(W.stream_events(spark, sf_dir)))
    )
    cap = 80
    got = W.capped_session_profile(stream_sessions, cap)
    want = W.capped_session_profile(batch_sessions, cap)
    assert not compare_frames(got, want)
    # the cap binds: at least one user exceeds it corpus-wide
    mx = (
        batch_sessions.groupBy("user_id")
        .agg(F.sum("n_events").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert mx > cap


def test_dedup_stream_matches_batch_distinct(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    stream = W.dedup_stream(W.stream_events(spark, sf_dir)).select("event_id")
    got = _run_stream(spark, stream, mode="append")
    assert got.count() == events.select("event_id").distinct().count()


def test_stateful_running_totals_match_batch(spark, sf_dir):
    """applyInPandasWithState over availableNow: the last emitted
    snapshot per user must equal the batch aggregate."""
    from pyspark.sql import functions as F

    from sqlondataframesr_spark.streaming.stateful import running_user_totals

    got = _run_stream(
        spark, running_user_totals(W.stream_events(spark, sf_dir)), mode="update"
    )
    # update mode appends a row per (batch, user); keep the last
    latest = {r["user_id"]: (r["n_events"], r["total_value"]) for r in got.collect()}
    batch = {
        r["user_id"]: (r["n"], r["total"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }
    assert set(latest) == set(batch)
    for uid, (n, total) in batch.items():
        gn, gt = latest[uid]
        assert gn == n
        assert abs(gt - total) < 0.02

def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stream-static broadcast join: joining each micro-batch to the
    static customer dim then window-aggregating must equal the batch
    plan of the same composed transformation."""
    batch = W.enriched_by_segment(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )
    stream = W.enriched_by_segment(
        W.with_watermark(W.stream_events(spark, sf_dir)),
        load_table(spark, sf_dir, "customer"),
    )
    got = _run_stream(spark, stream)
    assert not compare_frames(got, batch)


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream self-join (click→purchase within 2h): the stateful
    streaming join's append output must equal the batch join."""
    batch = W.click_purchase_pairs(load_table(spark, sf_dir, "events"))
    stream = W.click_purchase_pairs(W.with_watermark(W.stream_events(spark, sf_dir)))
    got = _run_stream(spark, stream, mode="append")
    assert not compare_frames(got, batch)


def test_parquet_sink_roundtrip_and_restart_is_noop(spark, sf_dir, tmp_path):
    """Streamed dedup written to a checkpointed parquet sink must equal
    the batch distinct; re-running against the same checkpoint commits
    nothing new (exactly-once on restart)."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = W.write_stream_parquet(
            W.dedup_stream(W.stream_events(spark, sf_dir)).select(
                "event_id", "user_id", "value"
            ),
            out,
            ckpt,
        )
        q.awaitTermination(120)

    run()
    got = spark.read.parquet(out)
    batch = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .dropDuplicates(["event_id"])
    )
    assert not compare_frames(got, batch)
    run()  # restart from the same checkpoint: no new data, no new rows
    assert spark.read.parquet(out).count() == batch.count()


def test_windowed_agg_correct_across_micro_batches(spark, sf_dir, tmp_path):
    """Incrementalization, not just one-shot: split the source into 4
    files and force one file per micro-batch — the final state of the
    windowed aggregate must still equal the batch result (state merges
    across batches, late rows update earlier windows)."""
    src = str(tmp_path / "events_split")
    batch_events = load_table(spark, sf_dir, "events")
    # re-shard the raw parquet (footer-derived schema, whatever the
    # generator's current ts encoding is) into 4 files
    raw_schema = W._raw_events_schema(spark, sf_dir)
    spark.read.schema(raw_schema).parquet(f"{sf_dir}/events.parquet") \
        .repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = W.tumbling(W.with_watermark(canonicalize_ts(stream)))
    got = _run_stream(spark, agg)
    assert not compare_frames(got, W.tumbling(batch_events))


def test_foreachbatch_incremental_dedup_keeps_first_across_batches(
    spark, tmp_path
):
    """Planted parity-split corpus: a bag-of-words duplicate arriving
    in batch 1 (odd ids) must lose to its batch-0 (even id) original;
    a within-batch duplicate keeps the smallest doc_id; re-running the
    drained sink is a no-op (checkpoint), not a double-append."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sqlondataframesr_spark.streaming.dedup_sink import (
        incremental_dedup_sink,
    )

    rows = [
        (0, "alpha beta gamma", "s0"),       # batch 0 original
        (2, "delta epsilon", "s0"),          # batch 0, dups with 4
        (4, "epsilon delta", "s0"),          # batch 0, loses to 2
        (1, "gamma beta alpha", "s1"),       # batch 1, loses to 0
        (3, "zeta eta", "s1"),               # batch 1 original
    ]
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("source", pa.string())]
    )
    src = tmp_path / "src"
    src.mkdir()
    for b, parity in ((0, 0), (1, 1)):
        t = pa.Table.from_pylist(
            [
                {"doc_id": i, "text": x, "source": s}
                for i, x, s in rows
                if i % 2 == parity
            ],
            schema=schema,
        )
        p = str(src / f"batch{b}.parquet")
        pq.write_table(t, p)
        now = os.stat(p).st_mtime
        os.utime(p, (now - 60 + 60 * b, now - 60 + 60 * b))

    out, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(str(src))
    )
    incremental_dedup_sink(stream, out, ckpt).awaitTermination()
    got = {
        r["doc_id"]: r["batch_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {0: 0, 2: 0, 3: 1}

    # restart with the same checkpoint: drained source -> no new rows
    stream2 = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(str(src))
    )
    incremental_dedup_sink(stream2, out, ckpt).awaitTermination()
    assert spark.read.parquet(out).count() == 3


def test_stream_stream_left_join_matches_batch_on_closed_horizon(spark, sf_dir):
    """LEFT OUTER stream-stream join: inner matches must equal batch
    exactly; null-padded (unmatched-click) rows must equal batch for
    every click whose horizon the final watermark has closed
    (click_ts + 2h < max_ts - delay). Younger unmatched clicks are
    withheld by design — the watermark cannot yet prove no purchase
    is coming."""
    import pyspark.sql.functions as F

    ev = load_table(spark, sf_dir, "events")
    batch = W.click_purchase_left(ev)
    stream = W.click_purchase_left(W.with_watermark(W.stream_events(spark, sf_dir)))
    got = _run_stream(spark, stream, mode="append")

    # inner results emit immediately: exact equality, no horizon carve-out
    assert not compare_frames(
        got.filter("purchase_id IS NOT NULL"),
        batch.filter("purchase_id IS NOT NULL"),
    )

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = (
        F.lit(max_ts)
        - F.expr(f"INTERVAL {W.WATERMARK_DELAY}")
        - F.expr(f"INTERVAL {W.JOIN_HORIZON}")
    )
    closed_b = batch.filter(F.col("click_ts") < cutoff)
    closed_g = got.filter(F.col("click_ts") < cutoff)
    assert closed_b.filter("purchase_id IS NULL").count() > 0  # non-vacuous
    assert not compare_frames(closed_g, closed_b)


def test_gs_user_type_profile_matches_batch(spark, sf_dir):
    """The last emitted per-user profile must equal the batch
    aggregate (count, distinct types, deterministic dominant type)."""
    from pyspark.sql import functions as F

    from sqlondataframesr_spark.streaming.stateful import user_type_profile

    got = _run_stream(
        spark, user_type_profile(W.stream_events(spark, sf_dir)), mode="update"
    )
    latest = {}
    for r in got.collect():  # memory sink appends per batch; keep last
        latest[r["user_id"]] = (
            r["n_events"], r["n_types"], r["top_type"], r["top_type_n"]
        )
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    batch = {
        r["user_id"]: (r["n"], r["k"], r["top"], r["topn"])
        for r in per_type.groupBy("user_id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("k"),
            F.expr("min_by(event_type, struct(-c, event_type))").alias("top"),
            F.expr("max(c)").alias("topn"),
        )
        .collect()
    }
    assert set(latest) == set(batch)
    for uid, want in batch.items():
        assert latest[uid] == want, (uid, latest[uid], want)


def test_ohlc_stream_matches_batch(spark, sf_dir):
    """The min_by/max_by OHLC aggregation is stream-expressible: the
    availableNow stream's final candles equal the batch result."""
    batch = W.ohlc_candles(load_table(spark, sf_dir, "events"))
    stream = W.ohlc_candles(W.with_watermark(W.stream_events(spark, sf_dir)))
    got = _run_stream(spark, stream)
    assert not compare_frames(got, batch)


def test_cms_cells_stream_matches_batch(spark, sf_dir):
    """The per-day count-min cells are ordinary windowed streaming
    aggregation: the availableNow stream's final cells equal the batch
    sketch bit-for-bit (the sketch a stream job maintains IS the batch
    sketch — mergeability's streaming face)."""
    batch = W.cms_user_cells(load_table(spark, sf_dir, "events"))
    stream = W.cms_user_cells(W.with_watermark(W.stream_events(spark, sf_dir)))
    got = _run_stream(spark, stream)
    assert not compare_frames(got, batch)


def test_cms_user_merge_report_overcount(spark, sf_dir):
    """Merged-across-days sketch never underestimates any probed user."""
    rows = W.evt_cms_user_merge_report(spark, sf_dir).collect()
    assert len(rows) == W.CMS_USER_TOP
    for r in rows:
        assert r.overcount >= 0
        assert r.cms_cnt == r.exact_cnt + r.overcount
