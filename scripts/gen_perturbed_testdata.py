"""Perturbed-seed testdata generator (VERDICT r7 item 4).

Regenerates parquet with the SAME SHAPE as the driver's synthetic
tables (schemas, cardinalities, value ranges and structural features
observed in /root/testdata — near-dup document plants, 10-cluster
embeddings, multi-line orders, NULL-free star schema) but from a
DIFFERENT seed. Re-running the full EXACT differential matrix on this
data is the adversarial shake for every fixture-tuned constant in the
repo (band widths, DF caps, COS_THRESHOLD, N_QUERIES, tie-breaks):
a query that is only correct because seed-42 happens to avoid an edge
(a tie the tie-break doesn't pin, an empty candidate set, a cap that
silently binds) mismatches its oracle here.

This writes OUTSIDE /root/testdata (which is read-only by contract):

    python scripts/gen_perturbed_testdata.py [seed] [out_dir]
    # default: seed=2, out_dir=/tmp/sqlondataframesr_testdata_seed2/sf0.01

Then:

    SF_DIR=/tmp/sqlondataframesr_testdata_seed2/sf0.01 \
    SPARK_GRAFT_MM_EXPECTED_SFS=/root/testdata/sf0.001:/tmp/sqlondataframesr_testdata_seed2/sf0.01 \
    python scripts/driver_sim.py
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: cardinalities observed in the driver's tables, by scale (r12 added
#: sf0.1 so the skew matrix leg can run at the BENCH scale — VERDICT
#: r11 item 7). Note embeddings grow 4x not 10x, and the user-id
#: domain follows events 10x — both copied from the real trees.
N_BY_SCALE = {
    "0.01": {
        "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500, "users": 150,
    },
    "0.1": {
        "customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000, "users": 1500,
    },
}
#: sf0.01 cardinalities (the default scale; kept as a module name for
#: existing importers)
N = N_BY_SCALE["0.01"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PNOUNS = ["ring", "widget", "bolt", "gear", "cog", "pin", "cap", "rod"]
_PADJ = ["small", "red", "blue", "green", "large", "shiny", "matte", "old"]
_ETYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = (["en"] * 44 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 13 + ["es"] * 14)
_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


def _ts_array(days: np.ndarray, base: dt.datetime) -> pa.Array:
    epoch = np.datetime64(base, "us")
    return pa.array(epoch + days.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def generate(out_dir: str, seed: int = 2, skew: bool = False,
             scale: str = "0.01") -> None:
    """``skew=True`` (VERDICT r10 item 2) plants the four hot-key
    stress features the cap/bot-guard code paths exist for, while
    keeping every schema and cardinality identical to the sf0.01
    shape, so the full EXACT differential matrix runs unchanged:

    - events: user 0 owns ~10% of all events (1000 of 10000 — the bot;
      the 80-event user caps of sessionize/SCD2/attribution BIND).
    - lineitem: order 0 is a mega-basket of ~300 lines over ~300
      distinct parts (BASKET_SIZE_CAP=6 BINDS; the uncapped pair fan
      on this one order alone is ~45k pairs).
    - documents: an identical 5-token phrase is prepended to 100 of
      the 500 docs (a hot shingle: its 3-shingles and its >=13-char
      substring 13-grams have document frequency ~100, so
      SHINGLE_DF_CAP=10 and SUBSTR_DF_CAP=10 BIND).
    - embeddings: ~60% of vectors collapse into ONE dense cluster
      (tight noise around a single center — the hot cluster that
      makes cluster-scoped pair joins quadratic without the
      CLUSTER_PAIR_CAP guard; at 500 rows the production cap of 4096
      cannot bind, so the pytest asserts binding with an explicit
      smaller cap and the report's max_cluster_size >> corpus/K).
    """
    N = N_BY_SCALE[scale]  # noqa: N806 - shadows the module default
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, **cols) -> None:
        pq.write_table(pa.table(dict(cols)), os.path.join(out_dir, f"{name}.parquet"))

    write("region",
          r_regionkey=pa.array(range(5), pa.int32()),
          r_name=pa.array(_REGIONS))
    write("nation",
          n_nationkey=pa.array(range(25), pa.int32()),
          n_name=pa.array([f"NATION_{i}" for i in range(25)]),
          n_regionkey=pa.array([i % 5 for i in range(25)], pa.int32()))

    n = N["customer"]
    write("customer",
          c_custkey=pa.array(range(n), pa.int64()),
          c_name=pa.array([f"Customer#{i:09d}" for i in range(n)]),
          c_nationkey=pa.array(rng.integers(0, 25, n), pa.int32()),
          c_acctbal=pa.array(np.round(rng.uniform(-1000, 10000, n), 2)),
          c_mktsegment=pa.array([_SEGMENTS[i] for i in rng.integers(0, 5, n)]))

    n = N["supplier"]
    write("supplier",
          s_suppkey=pa.array(range(n), pa.int64()),
          s_name=pa.array([f"Supplier#{i:09d}" for i in range(n)]),
          s_nationkey=pa.array(rng.integers(0, 25, n), pa.int32()),
          s_acctbal=pa.array(np.round(rng.uniform(0, 10000, n), 2)))

    n = N["part"]
    write("part",
          p_partkey=pa.array(range(n), pa.int64()),
          p_name=pa.array([
              f"{_PADJ[a]} {_PNOUNS[b]}"
              for a, b in zip(rng.integers(0, len(_PADJ), n),
                              rng.integers(0, len(_PNOUNS), n))
          ]),
          p_brand=pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
          p_type=pa.array([_PTYPES[i] for i in rng.integers(0, len(_PTYPES), n)]),
          p_size=pa.array(rng.integers(1, 51, n), pa.int32()),
          # original structure: 900 + 0.1 * (key % 1000) — brand avgs
          # land ~950, inside q6's HAVING band
          p_retailprice=pa.array(np.round(900.0 + 0.1 * (np.arange(n) % 1000), 2)))

    n = N["orders"]
    odays = rng.integers(0, 2405, n)  # 1995-01-01 .. ~2001-08
    write("orders",
          o_orderkey=pa.array(range(n), pa.int64()),
          o_custkey=pa.array(rng.integers(0, N["customer"], n), pa.int64()),
          o_orderstatus=pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n)]),
          o_totalprice=pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
          o_orderdate=_ts_array(odays, dt.datetime(1995, 1, 1)),
          o_orderpriority=pa.array([_PRIORITIES[i] for i in rng.integers(0, 5, n)]))

    n = N["lineitem"]
    l_orderkey = rng.integers(0, N["orders"], n)  # binomial lines/order, like the original
    l_partkey = rng.integers(0, N["part"], n)
    if skew:
        # mega-basket: first ~300 lineitems all belong to order 0,
        # each a DISTINCT part (maximal pair fan for one basket)
        mega = min(300, n)
        l_orderkey[:mega] = 0
        l_partkey[:mega] = np.arange(mega) % N["part"]
    write("lineitem",
          l_orderkey=pa.array(l_orderkey, pa.int64()),
          l_partkey=pa.array(l_partkey, pa.int64()),
          l_suppkey=pa.array(rng.integers(0, N["supplier"], n), pa.int64()),
          # duplicates per order ARE a feature of the original data
          # (q4's first-line price is pinned as MIN among linenumber-1
          # rows for exactly this reason)
          l_linenumber=pa.array(rng.integers(1, 8, n), pa.int32()),
          l_quantity=pa.array(np.round(rng.uniform(1, 50, n), 0)),
          l_extendedprice=pa.array(np.round(rng.uniform(900, 105000, n), 2)),
          l_discount=pa.array(np.round(rng.uniform(0, 0.10, n), 2)),
          l_tax=pa.array(np.round(rng.uniform(0, 0.08, n), 2)),
          l_returnflag=pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n)]),
          l_linestatus=pa.array([("F", "O")[i] for i in rng.integers(0, 2, n)]),
          l_shipdate=_ts_array(odays[l_orderkey] + rng.integers(1, 96, n),
                               dt.datetime(1995, 1, 1)))

    n = N["events"]
    us = rng.integers(0, 30 * 86400 * 10**6, n)
    epoch = np.datetime64(dt.datetime(2024, 1, 1), "us")
    user_id = rng.integers(0, N["users"], n)
    if skew:
        user_id[: n // 10] = 0  # the bot: ~10% of all events
    write("events",
          event_id=pa.array(range(n), pa.int64()),
          ts=pa.array(epoch + us.astype("timedelta64[us]"), pa.timestamp("us")),
          user_id=pa.array(user_id, pa.int64()),
          event_type=pa.array([_ETYPES[i] for i in rng.integers(0, 5, n)]),
          value=pa.array(np.round(rng.uniform(0.01, 500.0, n), 2)),
          props=pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]))

    # documents: weighted vocab, 10-99 tokens, ~20 near-dup plants
    # (1-token substitution -> 3-shingle jaccard ~0.9) + 3 exact dups
    n = N["documents"]
    weights = np.ones(len(_VOCAB))
    weights[_VOCAB.index("the")] = 4
    weights[_VOCAB.index("a")] = 3
    weights /= weights.sum()
    texts: list[str] = []
    for i in range(n):
        if 20 <= i < 40 and i % 2 == 1:
            toks = texts[i - 1].split(" ")  # near-dup of the previous doc
            toks[int(rng.integers(0, len(toks)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(toks))
        elif 40 <= i < 43:
            texts.append(texts[i - 40])  # exact dup
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, size=k, p=weights)))
    if skew:
        # hot shingle: the SAME 16-token phrase opens 100 docs — its
        # word-3-shingles (14 of them) and word-13-gram windows (4 of
        # them) hit document frequency ~100, far past the DF caps of
        # 10. 16 shared tokens on 10-99-token docs keeps pairwise
        # Jaccard ~0.4, well under the 0.8 near-dup threshold, so the
        # plant stresses the caps without flooding the dup detectors.
        phrase = ("spark stream window merge join filter scan sort"
                  " hash group batch query table column vector key")
        for i in range(100, 200):
            texts[i] = phrase + " " + texts[i]
    write("documents",
          doc_id=pa.array(range(n), pa.int64()),
          text=pa.array(texts),
          lang=pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), n)]),
          source=pa.array([f"src{i % 20}" for i in range(n)]),
          n_chars=pa.array([len(t) for t in texts], pa.int64()))

    # embeddings: 64-dim float32, 10 cluster centers + noise, a few
    # near-identical plants within clusters
    n, d = N["embeddings"], 64
    centers = rng.uniform(-0.4, 0.4, (10, d))
    labels = rng.integers(0, 10, n)
    if skew:
        # one dense cluster: ~60% of vectors collapse onto center 0
        labels[: int(n * 0.6)] = 0
    vecs = (centers[labels] + rng.normal(0, 0.08, (n, d))).astype(np.float32)
    if skew:
        # tighten the hot cluster so it really is one semantic blob
        hot = int(n * 0.6)
        vecs[:hot] = (centers[0] + rng.normal(0, 0.02, (hot, d))).astype(
            np.float32
        )
    for i in range(0, 20, 2):  # plant 10 near-identical pairs
        labels[i + 1] = labels[i]
        vecs[i + 1] = vecs[i] + rng.normal(0, 0.002, d).astype(np.float32)
    vecs = np.clip(vecs, -0.52, 0.52)
    write("embeddings",
          vec_id=pa.array(range(n), pa.int64()),
          embedding=pa.array([v for v in vecs.tolist()], pa.list_(pa.float32())),
          label=pa.array(labels, pa.int32()))


if __name__ == "__main__":
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    out = (sys.argv[2] if len(sys.argv) > 2
           else f"/tmp/sqlondataframesr_testdata_seed{seed}/sf0.01")
    sc = os.path.basename(out.rstrip("/")).removeprefix("sf")
    generate(out, seed, scale=sc if sc in N_BY_SCALE else "0.01")
    print("wrote", out)
