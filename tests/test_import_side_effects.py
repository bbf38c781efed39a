"""Importing the package must touch no filesystem (ADVICE r5).

Until round 6, ``import sqlondataframesr_spark.registry`` generated the
StackExchange fixture CSVs and the multimodal expected-parquet cache
under the temp dir as a side effect of building module-level oracles —
so bench runs, pytest collection, and any downstream import crashed in
environments lacking the test data and paid a rebuild on every
expected.py edit. Both modules now declare those oracles as
``dual(callable)`` templates, built only when registry.oracles()
renders them; this test pins that discipline: a subprocess with a
fresh private TMPDIR imports the full registry and lists every query
and every Spark-SQL text, and the TMPDIR must stay empty. Asking for the oracles IS allowed to build caches —
that is gate-time work, checked separately."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import os, sys
sys.path.insert(0, {root!r})
import sqlondataframesr_spark.registry as r
names = r.queries()
assert len(names) > 100, len(names)
sql = r.spark_sql()
assert len(sql) > 100, len(sql)
# the temp dir must not have been touched by any import or by the
# query/spark_sql surfaces (oracles() is the one lazily-built surface)
left = os.listdir(os.environ["TMPDIR"])
assert left == [], f"import side effect wrote into TMPDIR: {{left}}"
print("clean")
"""


def test_importing_registry_writes_nothing_to_tmp():
    with tempfile.TemporaryDirectory() as fresh_tmp:
        env = dict(os.environ, TMPDIR=fresh_tmp, TEMP=fresh_tmp, TMP=fresh_tmp)
        out = subprocess.run(
            [sys.executable, "-c", _PROBE.format(root=ROOT)],
            env=env,
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert out.returncode == 0, out.stderr
        assert "clean" in out.stdout
