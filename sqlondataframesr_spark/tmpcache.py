"""Write-once cache directories under the system temp dir.

Fixtures and expected tables that are costly to build (the
StackExchange CSVs, the binary blobs, the multimodal expected rows,
the hypertable rollup) are built once and then shared by every
process on the host: the driver, pytest, bench.py.

- :func:`cache_dir` names the directory
  ``<tmp>/sqlondataframesr_<kind>_<12 hex>``. The hex is an md5 of the
  caller's key parts (generator source, seed, scale, data metadata),
  so an edit or a data change rolls the directory and stale files
  are never reused. It does no I/O, so an oracle may embed the path
  when it renders.
- :func:`write_once` builds the directory into a private
  ``.stage.<pid>`` sibling and publishes it with one atomic
  ``os.rename``: a concurrent reader sees no directory or a complete
  one, never a half-written file. When two processes race, the
  loser's rename fails (the winner's directory is not empty) and the
  loser removes its stage.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from typing import Callable


def cache_dir(kind: str, *key: object) -> str:
    """The cache path for ``kind`` keyed by ``key``; pure computation."""
    ver = hashlib.md5(":".join(map(str, key)).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"sqlondataframesr_{kind}_{ver}")


def write_once(path: str, build: Callable[[str], object]) -> str:
    """Return ``path``, first building it with ``build(stage)`` unless
    it already exists. ``build`` fills the (existing, empty) stage dir."""
    if os.path.isdir(path):
        return path
    stage = f"{path}.stage.{os.getpid()}"
    os.makedirs(stage, exist_ok=True)
    build(stage)
    try:
        os.rename(stage, path)
    except OSError:  # another process published first
        shutil.rmtree(stage, ignore_errors=True)
    return path
