"""The oracle texts are the contract: a refactor of how SQL is rendered
must reproduce every ``registry.oracles()`` text byte for byte.
``oracle_sha256.json`` pins the sha256 of each one; regenerate it only
with a change that means to alter an oracle, and re-prove that change
EXACT at every scale.

Fixture paths (``<tmp>/sqlondataframesr_<kind>_<key>``) are cache keys
derived from the temp dir, the environment and the data, not SQL, so
they are masked before hashing."""

from __future__ import annotations

import hashlib
import json
import os
import re

from sqlondataframesr_spark import registry

MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_sha256.json")
FIXTURE_PATH = re.compile(r"'[^']*?sqlondataframesr_([a-z_]+?)_[0-9a-f]{12}")


def oracle_digests(oracles: dict[str, str]) -> dict[str, str]:
    return {
        name: hashlib.sha256(FIXTURE_PATH.sub(r"'<tmp>/sqlondataframesr_\1", sql).encode()).hexdigest()
        for name, sql in sorted(oracles.items())
    }


def test_oracles_match_golden_manifest():
    with open(MANIFEST, encoding="utf-8") as fh:
        golden = json.load(fh)
    now = oracle_digests(registry.oracles())
    assert sorted(set(now) - set(golden)) == [], "oracle without a manifest entry"
    assert sorted(set(golden) - set(now)) == [], "manifest entry without an oracle"
    assert sorted(n for n in now if now[n] != golden[n]) == []
