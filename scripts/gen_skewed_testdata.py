"""Skew-stress testdata generator (VERDICT r10 item 2).

Thin wrapper over ``gen_perturbed_testdata.generate(..., skew=True)``:
same schemas/cardinalities as the driver's sf0.01 tables, plus the
four planted hot keys the cap/bot-guard code paths exist for — a bot
user owning ~10% of events, a ~300-line mega-basket order, a 5-token
phrase shared by 100 documents (hot shingle / hot 13-gram), and one
dense embedding cluster holding ~60% of all vectors. See the
``generate`` docstring for the exact cap each feature makes BIND.

Usage:

    python scripts/gen_skewed_testdata.py [seed] [out_dir]
    # default: seed=11, out_dir=/tmp/sqlondataframesr_testdata_skew/sf0.01

Then the full EXACT differential matrix (caps replicate into the
oracles, so every capped operator must stay oracle-green even while
its cap binds):

    SF_DIR=/tmp/sqlondataframesr_testdata_skew/sf0.01 \
    SPARK_GRAFT_MM_EXPECTED_SFS=/root/testdata/sf0.001:/tmp/sqlondataframesr_testdata_skew/sf0.01 \
    python scripts/driver_sim.py

tests/test_skew_caps.py regenerates this tree (it is fast — numpy
only) and asserts every cap report BINDS on it.
"""

from __future__ import annotations

import sys

from gen_perturbed_testdata import generate

#: default seed for the skew tree (distinct from the seed-2/seed-7
#: perturbed trees so the matrix rows stay distinguishable)
SKEW_SEED = 11

if __name__ == "__main__":
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else SKEW_SEED
    out = (sys.argv[2] if len(sys.argv) > 2
           else "/tmp/sqlondataframesr_testdata_skew/sf0.01")
    # scale derives from the out_dir basename (sf0.1 -> "0.1") so the
    # r12 bench-scale skew leg is one command:
    #   python scripts/gen_skewed_testdata.py 11 /tmp/..._skew/sf0.1
    import os
    from gen_perturbed_testdata import N_BY_SCALE
    sc = os.path.basename(out.rstrip("/")).removeprefix("sf")
    generate(out, seed, skew=True, scale=sc if sc in N_BY_SCALE else "0.01")
    print("wrote", out)
