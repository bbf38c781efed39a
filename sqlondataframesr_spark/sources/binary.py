"""Raw binary-file ingestion — the first hop of any multimodal
pipeline: files on disk -> (name, size, checksum, sniffed media type)
rows, via Spark's built-in ``binaryFile`` source (no UDF; the typed-
metadata extraction is all codegen over the hex string).

The fixture is a deterministic set of N_FILES small binary files with
REAL magic-number prefixes (PNG / JPEG / RIFF / MP4-ftyp) and
md5-chained bodies — generated once under the temp dir by the same
write-once cache as the StackExchange CSV fixture
(:mod:`sqlondataframesr_spark.tmpcache`). The DuckDB oracle reads the SAME
files via ``read_blob`` — a genuinely independent second engine pass
over the bytes on disk.

Import-time hygiene (ADVICE r5): importing this module touches no
filesystem — the oracle SQL embeds a PURE path computation
(:func:`fixture_path`); the files are created lazily by the query
function, which the driver always runs before the oracle.

Scale (100 TB posture): ``binaryFile`` parallelizes by file across
executors and carries (path, modificationTime, length, content).
The production pattern: ingest ONCE into parquet with the binary
column + typed metadata (this op's output is exactly that schema),
then run the mapInPandas featurizers (multimodal/media.py) over the
parquet — never re-list millions of small files per query. Checksums
shard perfectly (per-file map work, no shuffle); the only shuffle
here is the output ORDER BY.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.dialect import dual
from ..tmpcache import cache_dir, write_once

#: number of fixture files (16 per media type)
N_FILES = 64

#: magic-number prefixes, cycled by file index
_MAGICS = [
    b"\x89PNG\r\n\x1a\n",          # png
    b"\xff\xd8\xff\xe0",           # jpeg (JFIF)
    b"RIFF",                        # riff (wav/avi container)
    b"\x00\x00\x00\x20ftypisom",   # mp4 (ftyp at offset 4)
]


def _content(i: int) -> bytes:
    """Deterministic body: magic prefix + md5-chained blocks, size
    varies 16..128 bytes by index so length is a real per-file fact."""
    x = hashlib.md5(f"blob:{i}".encode()).digest()
    body = b""
    for _ in range(1 + i % 8):
        x = hashlib.md5(x).digest()
        body += x
    return _MAGICS[i % len(_MAGICS)] + body


def fixture_path() -> str:
    """The fixture directory path — pure computation, NO filesystem
    access (safe to call at import time from the oracle builder).
    Keyed by the generator's source so an edit rolls the cache."""
    import inspect

    return cache_dir("blobs", inspect.getsource(_content), N_FILES)


def _write_blobs(stage: str) -> None:
    for i in range(N_FILES):
        with open(os.path.join(stage, f"{i:04d}.bin"), "wb") as f:
            f.write(_content(i))


def fixture_dir() -> str:
    """Create (once, atomically) and return the binary fixture."""
    return write_once(fixture_path(), _write_blobs)


#: CASE over the UPPERCASE hex prefix — identical text works in both
#: engines (Spark hex() and DuckDB hex() both emit uppercase)
_SNIFF_CASE = """CASE
  WHEN substring({h}, 1, 8) = '89504E47' THEN 'png'
  WHEN substring({h}, 1, 4) = 'FFD8' THEN 'jpeg'
  WHEN substring({h}, 1, 8) = '52494646' THEN 'riff'
  WHEN substring({h}, 9, 8) = '66747970' THEN 'mp4'
  ELSE 'unknown' END"""


def mm_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """Ingest the binary fixture via ``spark.read.format("binaryFile")``
    and extract typed metadata: (file_name, n_bytes, content_md5,
    media_type) — media type sniffed from the magic number, checksum
    over the hex encoding (md5(hex) is the dialect-neutral form; both
    engines' md5() disagree on raw BLOB input)."""
    df = spark.read.format("binaryFile").load(
        os.path.join(fixture_dir(), "*.bin")
    )
    hexc = F.hex(F.col("content"))
    return (
        df.select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").alias("n_bytes"),
            F.md5(hexc).alias("content_md5"),
            F.expr(_SNIFF_CASE.format(h="hex(content)")).alias("media_type"),
        )
        .orderBy("file_name")
    )


MM_BINARY_INGEST_ORACLE = f"""
SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
       size AS n_bytes,
       md5(hex(content)) AS content_md5,
       {_SNIFF_CASE.format(h="hex(content)")} AS media_type
FROM read_blob('{fixture_path()}/*.bin')
ORDER BY file_name
"""

QUERIES = {"mm_binary_ingest": mm_binary_ingest}

# deliberate dual: the `binaryFile.` path table, Spark's own reader of
# the same files, where the oracle uses DuckDB's read_blob (path is the
# pure fixture_path() computation — no import-time I/O; the fluent twin
# builds the files)
TEMPLATES = {
    "mm_binary_ingest": dual(MM_BINARY_INGEST_ORACLE, f"""
SELECT element_at(split(path, '/'), -1) AS file_name,
       length AS n_bytes,
       md5(hex(content)) AS content_md5,
       {_SNIFF_CASE.format(h="hex(content)")} AS media_type
FROM binaryFile.`{fixture_path()}/*.bin`
ORDER BY file_name
"""),
}

#: the SQL dual reads binaryFile.`fixture_path()` — a runner executing
#: it standalone (fresh env, no fluent-first ordering) must create the
#: blobs first (ADVICE r6; hook contract in registry.sql_prereqs)
SQL_PREREQS = {"mm_binary_ingest": fixture_dir}
