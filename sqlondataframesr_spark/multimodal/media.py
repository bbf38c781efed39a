"""Multimodal columns: opaque ``binary`` payloads + typed metadata.

The pattern for image/audio/video at 100 TB: the raw media is an
opaque ``binary`` column (or a pointer into object storage) riding
next to typed metadata (media_type, width/height/duration), and every
transform is either

- pure column expressions over the metadata (JVM-side, free), or
- an Arrow-batched ``mapInPandas`` over the payload bytes (the decode/
  featurize/resize family) — batch-at-a-time numpy, never row-at-a-time
  Python.

Standards codec libraries (Pillow / ffmpeg / soundfile) are NOT in
this environment, so the decode step speaks a SYNTHETIC pure-numpy
grayscale format ("SIMG", see ``encode_gray``/``_decode_gray``) with a
deterministic byte-tiling fallback for arbitrary payloads — a real
codec drops into the same ``mapInPandas`` body without touching the
Spark-side plumbing (schema, UDF signature, Arrow batch shape,
partition-preserving map), all of which is real and tested.

Since the driver testdata has no binary table, :func:`media_frame`
manufactures one deterministically from ``documents`` (payload =
utf8 bytes of the text; media_type/width/height derived from
doc_id/n_chars) — both engines can rebuild it bit-for-bit, which is
what makes the checksum query oracle-checkable.

Scale notes: ``mapInPandas`` is a narrow (partition-local) transform —
no shuffle; payload bytes never cross the network except at scan.
Metadata-only queries prune the payload column at the parquet reader
(columnar layout means the binary column is never even read), which is
the whole point of carrying media as a column instead of files.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect, dual

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

HIST_BUCKETS = 16

#: media_type by doc_id residue — stand-in for a real modality column.
_MEDIA_TYPE = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"


def _spread(media: DataFrame) -> DataFrame:
    """Ensure the CPU-heavy Arrow decode stage has enough partitions.

    The testdata ships one parquet file per table, so the scan yields
    1-2 splits and a ``mapInPandas`` decode inherits them — the whole
    decode runs on one core (measured: the mm_sample_frames stage was
    single-threaded, 27k frames x 75 KB hashed serially). Repartition
    on doc_id up to the session's parallelism ONLY when the input is
    under-partitioned: at real scale the scan already carries
    thousands of splits and this is a no-op (no shuffle inserted).
    """
    target = media.sparkSession.sparkContext.defaultParallelism
    if media.rdd.getNumPartitions() < max(2, target // 2):
        return media.repartition(target, "doc_id")
    return media


def media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, media_type, payload binary, width, height)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_MEDIA_TYPE).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        (F.lit(32) + F.col("n_chars") % 480).cast("int").alias("width"),
        (F.lit(32) + (F.col("n_chars") * 7) % 480).cast("int").alias("height"),
    )


def mm_media_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata + payload checksum — exercises the binary column
    end-to-end (encode, octet length, md5 over bytes) with an oracle."""
    return media_frame(spark, sf_dir).select(
        "doc_id",
        "media_type",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        "width",
        "height",
    ).orderBy("doc_id")


def _featurize_rows(columns: list[str], features):
    """A mapInPandas body: one output row ``features(r6, *values)`` (a
    dict) per input row of ``columns``, one pandas frame per Arrow
    batch. Nested, so cloudpickle ships it and ``features`` by value;
    self-contained, because executors of an external driver cannot
    import this package — ``r6`` is a local twin of
    functions/rounding.r6_py."""

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import math

        import pandas as pd

        def r6(x):
            return math.floor(x * 1000000.0 + 0.5) / 1000000.0

        for pdf in batches:
            yield pd.DataFrame([features(r6, *row) for row in zip(*(pdf[c] for c in columns))])

    return _decode


def byte_histogram(media: DataFrame, buckets: int = HIST_BUCKETS) -> DataFrame:
    """Per-payload normalized byte histogram via Arrow-batched
    ``mapInPandas`` — the featurize-binary shape (binary → fixed-size
    float vector), numpy over whole record batches."""
    import numpy as np

    out_schema = "doc_id long, hist array<double>"
    width = 256 // buckets

    def featurize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            hists = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(payload, dtype=np.uint8)
                h = np.bincount(arr // width, minlength=buckets)
                total = h.sum()
                hists.append((h / total if total else h).round(6).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "hist": hists})

    return _spread(media.select("doc_id", "payload")).mapInPandas(
        featurize, out_schema
    )


def mm_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long form (doc_id, bucket, share) — posexploded so every cell
    is a scalar the driver's hasher can sort and hash (arrays are not
    in the oracle-type whitelist); :func:`byte_histogram` keeps the
    array-per-doc feature shape for library use."""
    return (
        byte_histogram(media_frame(spark, sf_dir))
        .select("doc_id", F.posexplode("hist").alias("bucket", "share"))
        .orderBy("doc_id", "bucket")
    )


# --- decoders --------------------------------------------------------
#
# The environment has no codec libraries (Pillow / ffmpeg), so the
# wire format here is a SYNTHETIC grayscale codec ("SIMG"), pure numpy:
# magic + big-endian uint16 dims + raw row-major uint8 pixels. It is a
# real (lossless, round-trippable) format — what it is NOT is a
# standards codec; swap `_decode_gray` for PIL.Image.open in a real
# deployment and every Spark-side piece (schema, Arrow batching,
# partition-preserving map) stays identical. Payloads without the
# magic decode via deterministic byte-tiling to the metadata dims, so
# the operators also run over arbitrary binary columns (e.g. the
# documents-derived payloads of :func:`media_frame`).

_SIMG_MAGIC = b"SIMG"
_SIMG_HEADER = 8  # magic + uint16 width + uint16 height


def encode_gray(arr) -> bytes:
    """uint8 (h, w) ndarray → SIMG bytes (the test/round-trip side)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape
    return (
        _SIMG_MAGIC
        + int(w).to_bytes(2, "big")
        + int(h).to_bytes(2, "big")
        + a.tobytes()
    )


def _decode_gray(payload: bytes, width: int, height: int):
    """bytes → uint8 (h, w) pixel array. SIMG payloads parse exactly
    (their embedded dims win); anything else byte-tiles to (height,
    width) — deterministic, so both a test and an oracle can replay it."""
    import numpy as np

    if payload[: len(_SIMG_MAGIC)] == _SIMG_MAGIC:
        w = int.from_bytes(payload[4:6], "big")
        h = int.from_bytes(payload[6:8], "big")
        px = np.frombuffer(payload, np.uint8, count=w * h, offset=_SIMG_HEADER)
        return px.reshape(h, w)
    n = int(width) * int(height)
    src = np.frombuffer(payload, np.uint8)
    if src.size == 0:
        return np.zeros((int(height), int(width)), np.uint8)
    reps = -(-n // src.size)  # ceil
    return np.tile(src, reps)[:n].reshape(int(height), int(width))


def decode_image(media: DataFrame) -> DataFrame:
    """Decode + featurize the image payloads: (doc_id, width, height,
    mean_luma, std_luma, nonzero_frac) via Arrow-batched mapInPandas.

    Partition-local (no shuffle); payload bytes cross the Arrow
    boundary once per batch. Dims come from the decoded pixels, so an
    SIMG payload reports its TRUE embedded size even when the metadata
    columns disagree — decode is the source of truth, as with a real
    codec."""
    out_schema = (
        "doc_id long, width int, height int, "
        "mean_luma double, std_luma double, nonzero_frac double"
    )

    # nested so cloudpickle ships it by value (executors of an external
    # driver have no import path to this package)
    def features(r6, doc_id, payload, width, height):
        import numpy as np

        magic, header = b"SIMG", 8
        payload = bytes(payload)
        if payload[:4] == magic:
            w = int.from_bytes(payload[4:6], "big")
            h = int.from_bytes(payload[6:8], "big")
            px = np.frombuffer(payload, np.uint8, count=w * h, offset=header).reshape(h, w)
        else:
            n = int(width) * int(height)
            src = np.frombuffer(payload, np.uint8)
            if src.size == 0:
                px = np.zeros((int(height), int(width)), np.uint8)
            else:
                px = np.tile(src, -(-n // src.size))[:n].reshape(int(height), int(width))
        return {
            "doc_id": doc_id,
            "width": px.shape[1],
            "height": px.shape[0],
            "mean_luma": r6(float(px.mean())),
            "std_luma": r6(float(px.std())),
            "nonzero_frac": r6(float((px > 0).mean())),
        }

    columns = ["doc_id", "payload", "width", "height"]
    return _spread(media.select(*columns)).mapInPandas(
        _featurize_rows(columns, features), out_schema
    )


def sample_frames(media: DataFrame, every_s: float = 1.0) -> DataFrame:
    """Sample one frame every ``every_s`` seconds from each video
    payload: (doc_id, frame_idx, t_ms, n_frame_bytes, frame_md5).

    ``media`` must carry ``duration_s`` (probed metadata in a real
    table; :func:`mm_sample_frames` derives it the same way as
    :func:`mm_frame_plan`). Frame f is the payload byte-rotation by
    ``f * FPS`` tiled to (height, width) — the synthetic stand-in for
    a GOP seek+decode; deterministic, so tests replay it bit-for-bit.
    The map is partition-local: frames of one video never cross
    executors, which is the property a real ffmpeg stage needs too
    (decode state is per-container)."""
    out_schema = (
        "doc_id long, frame_idx long, t_ms long, "
        "n_frame_bytes int, frame_md5 string"
    )
    if every_s <= 0:
        raise ValueError(f"every_s must be positive, got {every_s}")

    def _sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib
        import math

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload, width, height, duration_s in zip(
                pdf["doc_id"], pdf["payload"], pdf["width"],
                pdf["height"], pdf["duration_s"],
            ):
                src = np.frombuffer(bytes(payload), np.uint8)
                n = int(width) * int(height)
                # sample times k*every_s (k = 0, 1, ...) strictly below
                # duration_s — multiplication, not accumulation, so a
                # fractional every_s (0.5 -> 2 frames/s) neither drifts
                # nor collapses to whole seconds. Float ceil via
                # -(-d // e) overcounts when d/e carries binary error
                # (3 / 0.3 -> 10.000000000000002 -> 11), so round the
                # quotient to 9 dp before ceiling, and still guard the
                # loop: no sample may land at/after duration_s.
                n_samples = max(0, math.ceil(round(float(duration_s) / every_s, 9)))
                prev_frame_idx = None
                for k in range(int(n_samples)):
                    t = k * every_s
                    if t >= float(duration_s):
                        break
                    frame_idx = int(round(t * FPS))
                    # sub-frame-interval sampling (every_s < 1/FPS)
                    # would re-emit the same frame under a new t_ms;
                    # emit each frame once (first hit wins)
                    if frame_idx == prev_frame_idx:
                        continue
                    prev_frame_idx = frame_idx
                    if src.size == 0:
                        frame = np.zeros(n, np.uint8)
                    else:
                        rot = np.roll(src, -frame_idx % src.size)
                        frame = np.tile(rot, -(-n // rot.size))[:n]
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": frame_idx,
                            "t_ms": int(round(t * 1000)),
                            "n_frame_bytes": n,
                            "frame_md5": hashlib.md5(frame.tobytes()).hexdigest(),
                        }
                    )
            yield pd.DataFrame(rows)

    return _spread(
        media.select("doc_id", "payload", "width", "height", "duration_s")
    ).mapInPandas(_sample, out_schema)


def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode features for the image-typed rows (rows-only driver
    check; tests/test_multimodal.py pins values against local numpy)."""
    media = media_frame(spark, sf_dir).filter(F.col("media_type") == "image")
    return decode_image(media).orderBy("doc_id")


def mm_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled frames for the video rows, 1 frame/s (rows-only driver
    check; frame hashes pinned by pytest against local numpy)."""
    media = media_frame(spark, sf_dir).filter(
        F.col("media_type") == "video"
    ).withColumn("duration_s", F.expr(_DURATION_S).cast("int"))
    return sample_frames(media, every_s=1.0).orderBy("doc_id", "frame_idx")


#: frame-sampling geometry: synthetic fps and per-doc duration
FPS = 25
_DURATION_S = "1 + doc_id % 30"


def mm_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling PLAN for the video rows: one output row per
    to-be-decoded frame (doc_id, frame_idx, t_ms) at 1 frame/second.
    This is the metadata half of :func:`sample_frames` — compute WHICH
    frames to decode as pure column expressions (sequence + explode,
    no payload read, no UDF), then feed the (doc_id, frame_idx) list
    to the Arrow decode stage. At 100 TB the planning pass never
    touches payload bytes: columnar parquet means the binary column
    is not even read (ReadSchema excludes it).

    Duration is derived deterministically from doc_id (no real
    containers in the testdata); a real table carries duration_s as
    probed metadata and the identical plan applies.
    """
    media = media_frame(spark, sf_dir).filter(F.col("media_type") == "video")
    return (
        media.withColumn("duration_s", F.expr(_DURATION_S).cast("int"))
        .select(
            "doc_id",
            "duration_s",
            F.explode(F.expr("sequence(0, duration_s - 1)")).alias("sec"),
        )
        .select(
            "doc_id",
            (F.col("sec") * FPS).cast("long").alias("frame_idx"),
            (F.col("sec") * 1000).cast("long").alias("t_ms"),
        )
        .orderBy("doc_id", "frame_idx")
    )


def _frame_plan_sql(d: Dialect) -> str:
    return f"""
WITH vids AS (
  SELECT doc_id, CAST({_DURATION_S} AS INT) AS duration_s
  FROM documents
  WHERE ({_MEDIA_TYPE}) = 'video'
),
secs AS (SELECT doc_id, {d.fn('unnest', d.seq(0, 'duration_s'))} AS sec FROM vids)
SELECT doc_id,
       CAST(sec * {FPS} AS BIGINT) AS frame_idx,
       CAST(sec * 1000 AS BIGINT) AS t_ms
FROM secs
ORDER BY doc_id, frame_idx
"""


def _media_checksum_sql(d: Dialect) -> str:
    return f"""
SELECT doc_id,
       {_MEDIA_TYPE.replace("doc_id", "doc_id")} AS media_type,
       octet_length({d.utf8_bytes('text')}) AS n_bytes,
       md5(text) AS payload_md5,
       CAST(32 + n_chars % 480 AS INTEGER) AS width,
       CAST(32 + (n_chars * 7) % 480 AS INTEGER) AS height
FROM documents
ORDER BY doc_id
"""


#: synthetic PCM geometry for the audio rows: payload bytes ARE the
#: samples (8-bit unsigned, centered at 128) at this rate — the
#: stand-in for a real soxr/ffmpeg decode, deterministic for replay
SAMPLE_RATE = 8000


def decode_audio(media: DataFrame) -> DataFrame:
    """Decode + featurize audio payloads as 8-bit PCM: per-doc sample
    count, duration, RMS level, zero-crossing rate, peak amplitude and
    clipping fraction — the standard cheap audio-quality gates (silence
    / clipping / noise screens) before expensive model featurization.

    Same contract as :func:`decode_image`: Arrow-batched mapInPandas,
    partition-local (decode state never crosses executors), payload
    crosses the Python boundary once, all math vectorized numpy —
    no per-sample Python loop.
    """
    out_schema = (
        "doc_id long, n_samples long, duration_ms long, "
        "rms double, zcr double, peak int, clip_frac double"
    )

    # nested so cloudpickle ships it by value (external drivers have
    # no import path to this package on executors)
    def features(r6, doc_id, payload):
        import numpy as np

        sr = 8000
        pcm = np.frombuffer(bytes(payload), np.uint8).astype(np.float64) - 128.0
        n = int(pcm.size)
        if n == 0:
            return {
                "doc_id": doc_id, "n_samples": 0, "duration_ms": 0,
                "rms": 0.0, "zcr": 0.0, "peak": 0, "clip_frac": 0.0,
            }
        neg = np.signbit(pcm)  # zero counts as positive: one rule, both replays
        zc = int(np.count_nonzero(neg[1:] != neg[:-1]))
        return {
            "doc_id": doc_id,
            "n_samples": n,
            "duration_ms": int(round(n / sr * 1000)),
            "rms": r6(float(np.sqrt(np.mean(pcm * pcm)))),
            "zcr": r6(zc / max(n - 1, 1)),
            "peak": int(np.max(np.abs(pcm))),
            "clip_frac": r6(float(np.mean(np.abs(pcm) >= 127.0))),
        }

    columns = ["doc_id", "payload"]
    return _spread(media.select(*columns)).mapInPandas(
        _featurize_rows(columns, features), out_schema
    )


def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features for the audio-typed rows (rows-only driver
    check; tests/test_multimodal.py pins values against local numpy).
    Completes the image/audio/video featurizer triple."""
    media = media_frame(spark, sf_dir).filter(F.col("media_type") == "audio")
    return decode_audio(media).orderBy("doc_id")


QUERIES = {
    "mm_audio_features": mm_audio_features,
    "mm_media_checksum": mm_media_checksum,
    "mm_frame_plan": mm_frame_plan,
    "mm_byte_histogram": mm_byte_histogram,
    "mm_image_decode": mm_image_decode,
    "mm_sample_frames": mm_sample_frames,
}


def _featurizer_oracle(name: str, keys: list[str]):
    """The mapInPandas featurizers have no SQL spelling (byte-level
    blob iteration), so their oracles are precomputed local-numpy
    replays (multimodal/expected.py) read back as parquet — the gate
    checks distributed Arrow execution against a sequential reference,
    upgrading these four from rows-only to full hash rows (VERDICT r4
    item 5). The replay builds (and caches) expected-parquet files
    under the temp dir from the test data, so it runs only when
    registry.oracles() renders it, never at import: importing the
    package for bench/pytest collection must not need those paths."""
    def build() -> str:
        from .expected import oracle

        return oracle(name, keys)

    return dual(build)


# the metadata/plan queries render in both dialects; the featurizers
# are oracle-only
TEMPLATES = {
    "mm_media_checksum": _media_checksum_sql,
    "mm_frame_plan": _frame_plan_sql,
    "mm_byte_histogram": _featurizer_oracle("mm_byte_histogram", ["doc_id", "bucket"]),
    "mm_image_decode": _featurizer_oracle("mm_image_decode", ["doc_id"]),
    "mm_audio_features": _featurizer_oracle("mm_audio_features", ["doc_id"]),
    "mm_sample_frames": _featurizer_oracle("mm_sample_frames", ["doc_id", "frame_idx"]),
}
