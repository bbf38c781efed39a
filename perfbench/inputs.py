"""Benchmark inputs, generated from the workload seed.

Every seed gives one tree: the star-schema tables at sf0.01 from
``scripts/gen_perturbed_testdata.generate``, drawn from that seed.
Trees are cached under ``.bench_build/perfbench/inputs`` in the
checkout, keyed by the generator's source, so a later run with the
same seed reuses the same bytes.

Generation runs in its own process (``python3 perfbench/inputs.py
<out_dir> <seed>``) so its memory never shows in the benchmark
process's high-water mark.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GENERATOR = os.path.join(ROOT, "scripts", "gen_perturbed_testdata.py")

#: star-schema scale factor (the generator's sf0.01 cardinalities)
SF = "0.01"


def _generate(out_dir: str, seed: int) -> None:
    spec = importlib.util.spec_from_file_location("gen_perturbed_testdata", GENERATOR)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.generate(out_dir, seed=seed, scale=SF)


def prepare(cache_dir: str, seed: int) -> str:
    """Return the table directory for ``seed``, generating it in a child
    process the first time."""
    with open(GENERATOR, "rb") as fh:
        key = hashlib.md5(SF.encode() + fh.read()).hexdigest()[:12]
    out = os.path.join(cache_dir, key, f"seed{seed}")
    if not os.path.isdir(out):
        stage = f"{out}.stage.{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), stage, str(seed)],
                       check=True, stdout=subprocess.DEVNULL)
        try:
            os.rename(stage, out)
        except OSError:  # a concurrent run won the rename
            shutil.rmtree(stage, ignore_errors=True)
    return out


if __name__ == "__main__":
    _generate(sys.argv[1], int(sys.argv[2]))
