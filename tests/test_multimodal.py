"""Multimodal plumbing tests: binary columns, Arrow-batched featurize,
synthetic codec round-trips."""

from __future__ import annotations

import hashlib

import pytest

from sqlondataframesr_spark.multimodal import media as M


def test_media_frame_schema(spark, sf_dir):
    df = M.media_frame(spark, sf_dir)
    assert dict(df.dtypes) == {
        "doc_id": "bigint",
        "media_type": "string",
        "payload": "binary",
        "width": "int",
        "height": "int",
    }
    row = df.orderBy("doc_id").first()
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["media_type"] in {"image", "audio", "video"}


def test_byte_histogram_matches_pure_python(spark, sf_dir):
    media = M.media_frame(spark, sf_dir)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.limit(20).collect()}
    got = {
        r["doc_id"]: r["hist"]
        for r in M.byte_histogram(media).collect()
        if r["doc_id"] in payloads
    }
    assert len(got) == len(payloads)
    for doc_id, payload in payloads.items():
        counts = [0] * M.HIST_BUCKETS
        for b in payload:
            counts[b // (256 // M.HIST_BUCKETS)] += 1
        expect = [round(c / len(payload), 6) for c in counts]
        assert got[doc_id] == pytest.approx(expect, abs=1e-6)
        assert sum(got[doc_id]) == pytest.approx(1.0, abs=1e-4)


def test_checksum_is_md5_of_text(spark, sf_dir):
    from sqlondataframesr_spark.catalog import load_table

    texts = {r["doc_id"]: r["text"] for r in
             load_table(spark, sf_dir, "documents").limit(5).collect()}
    got = {r["doc_id"]: r["payload_md5"] for r in
           M.mm_media_checksum(spark, sf_dir).limit(50).collect() if r["doc_id"] in texts}
    for doc_id, text in texts.items():
        assert got[doc_id] == hashlib.md5(text.encode()).hexdigest()


def test_simg_codec_round_trip():
    """encode_gray → _decode_gray is lossless, and the embedded dims
    win over (wrong) metadata dims."""
    import numpy as np

    rng_free = (np.arange(7 * 5, dtype=np.uint8) * 31 + 3) % 256
    img = rng_free.reshape(7, 5)
    payload = M.encode_gray(img)
    out = M._decode_gray(payload, width=999, height=999)
    assert out.shape == (7, 5)
    assert (out == img).all()


def test_decode_image_matches_local_numpy(spark, sf_dir):
    """Spark decode features == local numpy over the same payloads,
    for both the SIMG path and the tiling fallback."""
    import numpy as np

    media = M.media_frame(spark, sf_dir).filter("media_type = 'image'")
    local = {
        r["doc_id"]: (bytes(r["payload"]), r["width"], r["height"])
        for r in media.limit(10).collect()
    }
    got = {
        r["doc_id"]: r
        for r in M.decode_image(media).collect()
        if r["doc_id"] in local
    }
    assert len(got) == len(local)
    for doc_id, (payload, w, h) in local.items():
        px = M._decode_gray(payload, w, h)
        r = got[doc_id]
        assert (r["height"], r["width"]) == px.shape
        assert r["mean_luma"] == pytest.approx(round(float(px.mean()), 6))
        assert r["std_luma"] == pytest.approx(round(float(px.std()), 6))
        assert r["nonzero_frac"] == pytest.approx(
            round(float((px > 0).mean()), 6)
        )

    # SIMG round-trip through the Spark operator: true dims reported
    img = (np.arange(12, dtype=np.uint8)).reshape(3, 4)
    df = spark.createDataFrame(
        [(1, bytearray(M.encode_gray(img)), 999, 999)],
        "doc_id long, payload binary, width int, height int",
    )
    row = M.decode_image(df).collect()[0]
    assert (row["width"], row["height"]) == (4, 3)
    assert row["mean_luma"] == pytest.approx(round(float(img.mean()), 6))


def test_sample_frames_matches_plan_and_local_hashes(spark, sf_dir):
    """Frame count per video == its duration (the mm_frame_plan
    contract), and frame hashes replay locally bit-for-bit."""
    import hashlib as hl

    import numpy as np

    frames = M.mm_sample_frames(spark, sf_dir)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in frames.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()
    }
    plan = {
        r["doc_id"]: r["n"]
        for r in M.mm_frame_plan(spark, sf_dir)
        .groupBy("doc_id").count().withColumnRenamed("count", "n").collect()
    }
    assert per_doc == plan

    media = M.media_frame(spark, sf_dir).filter("media_type = 'video'")
    r0 = media.orderBy("doc_id").first()
    src = np.frombuffer(bytes(r0["payload"]), np.uint8)
    n = r0["width"] * r0["height"]
    rot = np.roll(src, 0)
    frame0 = np.tile(rot, -(-n // rot.size))[:n]
    got0 = (
        frames.filter(f"doc_id = {r0['doc_id']} and frame_idx = 0").collect()[0]
    )
    assert got0["n_frame_bytes"] == n
    assert got0["frame_md5"] == hl.md5(frame0.tobytes()).hexdigest()


def test_sample_frames_fractional_interval_invariants(spark, sf_dir):
    """ADVICE r3: fractional every_s must not emit a sample at/after
    duration_s (float-ceil overcount: 3/0.3 -> 10.000000000000002),
    and sub-frame-interval sampling (every_s < 1/FPS) must emit each
    frame_idx once, not near-duplicate rows per t_ms."""
    import math

    media = (
        M.media_frame(spark, sf_dir)
        .filter("media_type = 'video'")
        .withColumn("duration_s", M.F.expr(M._DURATION_S).cast("int"))
        .limit(4)
    )
    for every_s in (0.3, 0.6, 0.7):
        rows = M.sample_frames(media, every_s=every_s).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        durs = {r["doc_id"]: r["duration_s"] for r in media.collect()}
        for doc_id, rs in by_doc.items():
            d = durs[doc_id]
            assert all(r["t_ms"] < d * 1000 for r in rs), (every_s, doc_id)
            assert len(rs) == math.ceil(round(d / every_s, 9)), (every_s, doc_id)

    # sub-frame interval: 0.01s steps at FPS=25 -> distinct frames only
    tiny = M.sample_frames(media, every_s=0.01)
    per = (
        tiny.groupBy("doc_id", "frame_idx").count().filter("count > 1").count()
    )
    assert per == 0


def test_audio_features_match_local_numpy(spark, sf_dir):
    """mm_audio_features replayed with local numpy over the same
    payload bytes — the Arrow/mapInPandas plumbing must not change a
    single value."""
    import numpy as np
    from pyspark.sql import functions as F

    from sqlondataframesr_spark.multimodal.media import (
        media_frame,
        mm_audio_features,
    )

    got = {r.doc_id: r for r in mm_audio_features(spark, sf_dir).collect()}
    payloads = {
        r.doc_id: bytes(r.payload)
        for r in media_frame(spark, sf_dir)
        .filter(F.col("media_type") == "audio")
        .select("doc_id", "payload")
        .collect()
    }
    assert set(got) == set(payloads) and got
    for doc_id, payload in payloads.items():
        pcm = np.frombuffer(payload, np.uint8).astype(np.float64) - 128.0
        n = pcm.size
        r = got[doc_id]
        assert r.n_samples == n
        assert r.duration_ms == int(round(n / 8000 * 1000))
        if n:
            neg = np.signbit(pcm)
            assert r.rms == round(float(np.sqrt(np.mean(pcm * pcm))), 6)
            assert r.zcr == round(
                int(np.count_nonzero(neg[1:] != neg[:-1])) / max(n - 1, 1), 6
            )
            assert r.peak == int(np.max(np.abs(pcm)))
            assert r.clip_frac == round(float(np.mean(np.abs(pcm) >= 127.0)), 6)


def test_binary_fixture_is_deterministic_and_balanced():
    """The blob fixture must be bit-stable across regenerations (the
    oracle and the Spark side read it at different times) and carry
    all four magic types evenly."""
    import hashlib

    from sqlondataframesr_spark.sources import binary

    h = hashlib.md5()
    for i in range(binary.N_FILES):
        h.update(binary._content(i))
    # pinned digest: any generator edit rolls fixture_path() too —
    # assert the two change together (stale-cache guard)
    assert h.hexdigest() == "d6fda2f662650cbd8c6b11557e7f49ca", (
        "fixture bytes changed — fixture_path() must have rolled: "
        + binary.fixture_path()
    )
    types = [binary._content(i)[:4] for i in range(binary.N_FILES)]
    from collections import Counter

    assert len(Counter(types)) == 4
    assert set(Counter(types).values()) == {binary.N_FILES // 4}


def test_binary_ingest_sniffs_all_types(spark):
    from sqlondataframesr_spark.sources.binary import mm_binary_ingest

    rows = mm_binary_ingest(spark, "unused").collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.media_type, 0)
        by_type[r.media_type] += 1
    assert by_type == {"png": 16, "jpeg": 16, "riff": 16, "mp4": 16}
    assert all(r.n_bytes > 0 for r in rows)
