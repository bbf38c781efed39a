"""Property-based tests (hypothesis): algebraic equivalences that must
hold for ALL inputs, not just the fixture corpus.

- salted_join is a pure physical rewrite of join
- the single-shuffle argmax (max_by) agrees with the window form

Examples are capped small: each example costs Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from sqlondataframesr_spark.check import compare_frames
from sqlondataframesr_spark.operators.argmax import argmax_maxby, argmax_window
from sqlondataframesr_spark.operators.salt import salted_join

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),   # key
        st.integers(min_value=-50, max_value=50),  # measure
        st.integers(min_value=0, max_value=99),  # id / tiebreak
    ),
    min_size=1,
    max_size=30,
)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(rows=ROWS, n_salts=st.integers(min_value=1, max_value=7))
@_SETTINGS
def test_salted_join_is_pure_rewrite(spark, rows, n_salts):
    fact = spark.createDataFrame(rows, "key int, measure int, id int")
    dim = spark.createDataFrame(
        [(k, k * 10) for k in range(5)], "key int, attr int"
    )
    plain = fact.join(dim, ["key"])
    salted = salted_join(fact, dim, keys=["key"], n_salts=n_salts)
    assert not compare_frames(salted.select(*plain.columns), plain)


@given(rows=ROWS)
@_SETTINGS
def test_argmax_forms_agree(spark, rows):
    # unique (key, id) so the tie-break (measure desc, id asc) is total
    rows = list({(r[0], r[2]): r for r in rows}.values())
    df = spark.createDataFrame(rows, "key int, measure int, id int")
    via_window = argmax_window(df, ["key"], "measure", ["id"]).select(
        "key", "measure", "id"
    )
    via_maxby = argmax_maxby(df, ["key"], "measure", payload=["id"], tiebreak="id")
    assert not compare_frames(via_maxby.select("key", "measure", "id"), via_window)


PAIR_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),     # user_id (few users -> dense pairs)
        st.integers(min_value=0, max_value=500),   # us (timestamps near bin edges)
    ),
    min_size=1,
    max_size=25,
)


@given(rows=PAIR_ROWS, window=st.integers(min_value=1, max_value=120))
@_SETTINGS
def test_bin_replicate_range_join_equals_naive(spark, rows, window):
    """The bin-and-replicate rewrite must equal the naive quadratic
    |Δt| <= W self-join for EVERY input and window — including pairs
    straddling bin boundaries (the case the replication exists for)."""
    from sqlondataframesr_spark.operators.rangejoin import pairs_in_window

    ev = spark.createDataFrame(
        [(i, u, us) for i, (u, us) in enumerate(rows)],
        "event_id long, user_id long, us long",
    )
    a, b = ev.alias("a"), ev.alias("b")
    naive = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.abs(F.col("a.us") - F.col("b.us")) <= window),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("event_a"),
        F.col("b.event_id").alias("event_b"),
        (F.col("b.us") - F.col("a.us")).alias("dt_us"),
    )
    assert not compare_frames(pairs_in_window(ev, window), naive)


ASOF_LEFT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # key
        st.integers(min_value=0, max_value=60),   # t
    ),
    min_size=1,
    max_size=15,
)
ASOF_RIGHT = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # key
        st.integers(min_value=0, max_value=60),   # t
        st.integers(min_value=-99, max_value=99), # val
    ),
    min_size=0,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),  # right unique per (key, t): asof contract
)


@given(lrows=ASOF_LEFT, rrows=ASOF_RIGHT)
@_SETTINGS
def test_asof_union_window_equals_naive(spark, lrows, rrows):
    """The single-shuffle union-window as-of join must equal the naive
    inequality-join + argmax spelling for every input, including equal
    timestamps (inclusive match) and keys with no preceding row."""
    from sqlondataframesr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], "k int, t int, lid int"
    )
    right = spark.createDataFrame(rrows, "k int, t int, val int")

    got = asof_join(left, right, ["k"], "t", "t")

    l, r = left.alias("l"), right.alias("r")
    cand = l.join(
        r, (F.col("l.k") == F.col("r.k")) & (F.col("r.t") <= F.col("l.t")), "left"
    ).select(
        F.col("l.k").alias("k"), F.col("l.t").alias("t"), "lid",
        F.col("r.t").alias("rt"), "val",
    )
    naive = (
        cand.groupBy("k", "t", "lid")
        .agg(F.expr("max_by(val, rt)").alias("val"))
    )
    assert not compare_frames(got.select("k", "t", "lid", "val"), naive)


TEXTS = st.lists(
    st.text(
        alphabet=st.sampled_from("ab cd"),  # tiny alphabet -> real dups
        min_size=1,
        max_size=24,
    ).map(lambda s: " ".join(s.split()) or "a"),  # normalize whitespace
    min_size=1,
    max_size=20,
)


@given(texts=TEXTS, s=st.integers(min_value=1, max_value=6))
@_SETTINGS
def test_heavy_hitter_prune_never_loses_a_true_hitter(spark, texts, s):
    """For ANY corpus and threshold: candidate pruning at
    ceil(S/partitions) + exact recount == plain GROUP BY + HAVING."""
    import math

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(4)
    tokens = docs.select(F.explode(F.split("text", " ")).alias("term"))

    def _counts(it):
        from collections import Counter
        import pandas as pd

        c = Counter()
        for pdf in it:
            for toks in pdf["text"].str.split(" "):
                c.update(toks)
        if c:
            yield pd.DataFrame({"term": list(c.keys()), "local_cnt": list(c.values())})

    local = docs.select("text").mapInPandas(
        _counts, schema="term string, local_cnt long"
    )
    n_parts = max(1, local.rdd.getNumPartitions())
    cand = (
        local.filter(F.col("local_cnt") >= math.ceil(s / n_parts))
        .select("term")
        .distinct()
    )
    pruned = (
        tokens.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= s)
    )
    plain = (
        tokens.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= s)
    )
    assert not compare_frames(pruned, plain)


@given(texts=TEXTS)
@_SETTINGS
def test_keep_best_is_order_invariant(spark, texts):
    """The keep-best winner set must not depend on row order or
    partitioning — only on (ttr, doc_id)."""
    from pyspark.sql import functions as F

    rows = [(i, t) for i, t in enumerate(texts)]
    base = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "source", F.lit("s")
    )
    shuffled = (
        spark.createDataFrame(list(reversed(rows)), "doc_id long, text string")
        .withColumn("source", F.lit("s"))
        .repartition(5)
    )
    from sqlondataframesr_spark import registry

    def run(df):
        df.createOrReplaceTempView("documents")
        return spark.sql(registry.spark_sql()["dedup_keep_best"])

    a = [tuple(r) for r in run(base).collect()]
    b = [tuple(r) for r in run(shuffled).collect()]
    assert a == b


@given(texts=TEXTS)
@_SETTINGS
def test_bigram_lm_is_input_order_invariant(spark, texts):
    """For ANY corpus: the bigram-LM score is exact BIGINT micro-nat
    arithmetic, so row order / partitioning of the input must not move
    a single score (the float-accumulation failure this design
    exists to rule out)."""
    from sqlondataframesr_spark.llm import lm

    rows = [(i, t) for i, t in enumerate(texts)]
    a = spark.createDataFrame(rows, "doc_id long, text string")
    b = spark.createDataFrame(rows[::-1], "doc_id long, text string").repartition(7)
    orig = lm.load_table
    try:
        lm.load_table = lambda sp, sf, name: a
        ra = lm.lm_bigram_logprob(spark, "_p")
        ra_rows = ra.collect()
        lm.load_table = lambda sp, sf, name: b
        rb = lm.lm_bigram_logprob(spark, "_p")
        assert not compare_frames(ra, rb)
    finally:
        lm.load_table = orig
    assert len(ra_rows) == len(rows)


@given(texts=TEXTS)
@_SETTINGS
def test_source_overlap_matches_python_set_model(spark, texts):
    """For ANY corpus: the postings-expansion overlap must equal the
    naive Python set model (shared distinct 3-shingles per source
    pair, coefficient over the smaller set)."""
    from sqlondataframesr_spark.llm import diversity as D

    rows = [(i, t, f"s{i % 3}", 1) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    orig = D.load_table
    try:
        D.load_table = lambda sp, sf, name: df
        got = {
            (r.source_a, r.source_b): (r.n_shared, r.overlap_coef)
            for r in D.corpus_source_overlap(spark, "_p").collect()
        }
    finally:
        D.load_table = orig

    sets: dict = {}
    for _, t, src, _n in rows:
        w = t.split(" ")
        sets.setdefault(src, set()).update(
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        )
    want = {}
    srcs = sorted(sets)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1 :]:
            shared = len(sets[sa] & sets[sb])
            if shared:
                want[(sa, sb)] = (
                    shared,
                    round(shared / min(len(sets[sa]), len(sets[sb])), 6),
                )
    assert got == want


@given(
    counts=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=12)
)
@_SETTINGS
def test_gini_matches_closed_form_and_is_label_invariant(spark, counts, tmp_path_factory, plant_tables):
    """For ANY per-user count multiset: the operator's gini equals the
    closed-form rank-sum computation, and relabeling users (reversing
    ids) leaves it unchanged — gini is a function of the multiset."""
    import datetime as dt

    from sqlondataframesr_spark.operators import concentration as CN

    t0 = dt.datetime(2024, 3, 1)
    s = dt.timedelta(seconds=1)
    tmp = tmp_path_factory.mktemp("gini")

    def run(label_of):
        rows, eid = [], 0
        for uid, n in enumerate(counts, start=1):
            for _ in range(n):
                rows.append((eid, t0 + eid * s, label_of(uid), "c", 1.0, "{}"))
                eid += 1
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        with plant_tables(tmp, events=df):
            return CN.evt_activity_gini(spark, str(tmp)).collect()[0]

    got = run(lambda uid: uid)
    xs = sorted(counts)
    n, tot = len(xs), sum(xs)
    rank_sum = sum((i + 1) * x for i, x in enumerate(xs))
    expect = (2 * rank_sum - (n + 1) * tot) * 1_000_000 // (n * tot)
    assert (got.n_users, got.total_events, got.gini_ppm) == (n, tot, expect)
    relabeled = run(lambda uid: 1000 - uid)
    assert relabeled.gini_ppm == got.gini_ppm


@given(
    seq=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            st.sampled_from(["a", "b", "c"]),       # event type
        ),
        min_size=1,
        max_size=25,
    )
)
@_SETTINGS
def test_transition_matrix_conservation(spark, seq, tmp_path_factory, plant_tables):
    """For ANY event stream: transitions = events - users(with >=1
    event), and each prev row's prob_ppm sums to 1e6 within truncation
    slack (< n_next_types)."""
    import datetime as dt
    from collections import defaultdict

    from sqlondataframesr_spark.operators import journeys as J

    t0 = dt.datetime(2024, 3, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (i, t0 + i * s, uid, et, 1.0, "{}") for i, (uid, et) in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    tmp = tmp_path_factory.mktemp("tm")
    with plant_tables(tmp, events=df):
        out = J.evt_transition_matrix(spark, str(tmp)).collect()
    n_users = len({u for u, _ in seq})
    assert sum(r.n_transitions for r in out) == len(seq) - n_users
    per_prev = defaultdict(list)
    for r in out:
        per_prev[r.prev_type].append(r.prob_ppm)
    for ppms in per_prev.values():
        assert 1_000_000 - len(ppms) < sum(ppms) <= 1_000_000


@given(
    gaps=st.lists(
        st.lists(st.integers(min_value=1, max_value=30_000), min_size=0, max_size=8),
        min_size=1,
        max_size=4,
    )
)
@_SETTINGS
def test_sessionize_counts_match_reference_model(spark, gaps, tmp_path_factory, plant_tables):
    """For ANY per-user gap sequence (seconds): the operator's session
    count per user must equal the reference model 1 + #(gaps > GAP),
    and total events must be conserved through the profile."""
    import datetime as dt

    from sqlondataframesr_spark.operators import sessionize as SZ

    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    expected_sessions = 0
    n_events = 0
    for uid, user_gaps in enumerate(gaps, start=1):
        t = t0
        rows.append((eid, t, uid, "click", 1.0, "{}")); eid += 1
        n_events += 1
        expected_sessions += 1 + sum(
            1 for g in user_gaps if g > SZ.SESSION_GAP_S
        )
        for g in user_gaps:
            t = t + dt.timedelta(seconds=g)
            rows.append((eid, t, uid, "click", 1.0, "{}")); eid += 1
            n_events += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    tmp = tmp_path_factory.mktemp("sz")
    with plant_tables(tmp, events=df):
        prof = SZ.evt_sessionize_profile(spark, str(tmp)).collect()
    assert sum(r.n_sessions for r in prof) == expected_sessions
    assert sum(r.n_events * r.n_sessions for r in prof) == n_events


@given(
    vals=st.lists(
        st.integers(min_value=-20, max_value=20), min_size=1, max_size=40
    ),
    npart=st.integers(min_value=1, max_value=8),
)
@_SETTINGS
def test_distributed_rank_is_the_global_sort(spark, vals, npart):
    """For ANY value multiset (heavy ties included) and ANY partition
    count, with_global_rank's rank and running sum equal the
    unpartitioned-window reference bit-for-bit — the exactness contract
    the concentration/RFM operators stand on (VERDICT r9 item 1)."""
    from pyspark.sql import Window

    from sqlondataframesr_spark.materialize import release_all
    from sqlondataframesr_spark.operators.drank import with_global_rank

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    try:
        got = {
            r.id: (r.g_rank, r.g_cum, r.g_n, r.g_vtotal)
            for r in with_global_rank(
                df,
                [("v", "desc"), ("id", "asc")],
                value_col="v",
                num_partitions=npart,
            ).collect()
        }
    finally:
        release_all()
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    exp = {
        r.id: (r.rk, r.cum, len(vals), sum(vals))
        for r in df.select(
            "id",
            F.row_number().over(w).cast("long").alias("rk"),
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long")
            .alias("cum"),
        ).collect()
    }
    assert got == exp


@given(
    lifetimes=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),  # duration days
            st.booleans(),                            # observed (churn) vs censored
        ),
        min_size=1,
        max_size=15,
    )
)
@_SETTINGS
def test_km_matches_python_reference(spark, lifetimes, tmp_path_factory, plant_tables):
    """For ANY (duration, observed) multiset: the KM operator's curve
    equals an independent Python implementation of the truncating
    integer-ppm Kaplan-Meier recurrence. Censored subjects are encoded
    as first = horizon - t, last = horizon (>= horizon -> censored at
    exactly t); observed as first = 2000-01-01, last = first + t."""
    import datetime as dt

    from sqlondataframesr_spark.operators import survival as SV

    horizon = dt.datetime(2001, 5, 1)
    base = dt.datetime(2000, 1, 1)
    cust_rows, order_rows = [], []
    for i, (t, ev) in enumerate(lifetimes, start=1):
        cust_rows.append((i, f"Customer#{i}", 1, 0.0, "SEG"))
        if ev:
            first, last = base, base + dt.timedelta(days=t)
        else:
            first, last = horizon - dt.timedelta(days=t), horizon
        order_rows.append((2 * i, i, "F", 1.0, first, "1-URGENT"))
        order_rows.append((2 * i + 1, i, "F", 1.0, last, "1-URGENT"))
    cust = spark.createDataFrame(
        cust_rows,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    orders = spark.createDataFrame(
        order_rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    tmp = tmp_path_factory.mktemp("km")
    with plant_tables(tmp, customer=cust, orders=orders):
        got = [
            (r.duration_days, r.n_at_risk, r.d_events, r.survival_ppm)
            for r in SV.km_survival_curve(spark, str(tmp)).collect()
        ]
    # independent reference: sort event times, at-risk = lifetimes >= t
    want, s = [], 1_000_000
    event_times = sorted({t for t, ev in lifetimes if ev})
    for t in event_times:
        n = sum(1 for tt, _ in lifetimes if tt >= t)
        d = sum(1 for tt, ev in lifetimes if ev and tt == t)
        s = (s * (n - d)) // n
        want.append((t, n, d, s))
    assert got == want


@given(
    cents=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=15)
)
@_SETTINGS
def test_cusum_matches_recursion_model(spark, cents, tmp_path_factory, plant_tables):
    """For ANY daily series: the window-unrolled cusum_pos equals the
    classic recursion S_t = max(0, S_{t-1} + (x_t - med)) — including
    series that deviate upward from day one (the empty-prefix case
    that motivated LEAST(min, 0))."""
    import datetime as dt

    from sqlondataframesr_spark.operators import stats as ST

    t0 = dt.datetime(2024, 3, 1)
    day = dt.timedelta(days=1)
    rows = [
        (i, t0 + i * day, 1, "purchase", c / 100.0, "{}")
        for i, c in enumerate(cents)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    tmp = tmp_path_factory.mktemp("cusum")
    with plant_tables(tmp, events=df):
        got = [r.cusum_pos for r in ST.evt_cusum_shifts(spark, str(tmp)).collect()]
    med = sorted(cents)[(len(cents) + 1) // 2 - 1]
    s, want = 0, []
    for c in cents:
        s = max(0, s + (c - med))
        want.append(s)
    assert got == want


@given(
    seq=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # user
            st.sampled_from(["a", "b", "c"]),        # event type
        ),
        min_size=1,
        max_size=25,
    ),
    split_frac=st.integers(min_value=0, max_value=25),
)
@_SETTINGS
def test_scd2_incremental_equals_full_recompute(
    spark, seq, split_frac, tmp_path_factory, plant_tables
):
    """For ANY event stream and ANY split point — including split
    before all events (pure rebuild) and after all (pure passthrough):
    merging the delta into the dimension built at the split yields the
    SAME summary as recomputing from scratch."""
    import datetime as dt

    from sqlondataframesr_spark.operators import scd as SCD

    t0 = dt.datetime(2024, 3, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (i, t0 + i * m, uid, etype, 1.0, "{}")
        for i, (uid, etype) in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    tmp = tmp_path_factory.mktemp("scd2inc")
    split = (t0 + split_frac * m - dt.timedelta(seconds=30)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    with plant_tables(tmp, events=df):
        full = sorted(
            tuple(r) for r in SCD.cdc_scd2_summary(spark, str(tmp)).collect()
        )
        inc = sorted(
            tuple(r)
            for r in SCD._incremental_summary(spark, str(tmp), split).collect()
        )
    assert inc == full


# ------------------------------------------- r10 sketch-family laws

KMV_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),        # lang bucket
        st.integers(min_value=0, max_value=10_000),   # doc payload id
    ),
    min_size=1,
    max_size=120,
)


@given(rows=KMV_ROWS)
@_SETTINGS
def test_kmv_merge_law_for_any_corpus(spark, rows, plant_tables):
    """Merged per-lang K-min sets re-minned == the direct global K-min
    set, for ANY document multiset — the algebra behind
    sketch_kmv_merge_check, checked against a pure-python model."""
    from sqlondataframesr_spark.operators import sketches

    docs = [
        (i, f"doc-{payload}", f"l{lang}", "s", 1)
        for i, (lang, payload) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with plant_tables("_kmv_prop", documents=df):
        got = sketches.sketch_kmv_merge_check(spark, "_kmv_prop").collect()
        assert [r.method for r in got] == ["direct", "merged"]
        d, m = got
        assert (d.n_sk, d.h_k, d.kmv_estimate) == (m.n_sk, m.h_k, m.kmv_estimate)
        # python model of the direct sketch
        import hashlib

        hs = sorted(
            {
                int(hashlib.md5(f"doc-{p}".encode()).hexdigest()[:13], 16)
                for _, p in rows
            }
        )[: sketches.KMV_K]
        assert d.n_sk == len(hs)
        assert d.h_k == hs[-1]


MWU_ROWS = st.lists(
    st.tuples(
        st.booleans(),                                # weekend?
        st.integers(min_value=0, max_value=40),       # cents/100
    ),
    min_size=1,
    max_size=60,
)


@given(rows=MWU_ROWS)
@_SETTINGS
def test_mwu_conservation_for_any_sample(spark, rows, plant_tables):
    """u2_a + u2_b == 2*nA*nB for ANY weekday/weekend value multiset,
    and u2_a matches the brute-force pairwise count (2*wins + ties)."""
    import datetime as dt

    from sqlondataframesr_spark.operators import stats

    events = [
        (
            i,
            dt.datetime(2024, 1, 6 if wk else 1, 10, 0, 0),
            1,
            "purchase",
            float(v),
            "{}",
        )
        for i, (wk, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        events,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables("_mwu_prop", events=df):
        r = stats.ab_mannwhitney_auc(spark, "_mwu_prop").collect()[0]
        a = [v for wk, v in rows if not wk]
        b = [v for wk, v in rows if wk]
        assert (r.n_a, r.n_b) == (len(a), len(b))
        assert r.u2_a + r.u2_b == 2 * r.n_a * r.n_b
        brute_u2a = sum(
            2 if x > y else 1 if x == y else 0 for x in a for y in b
        )
        assert r.u2_a == brute_u2a


# ------------------------- r10 wave-2 models (privacy / sketch set ops /
# EWMA / Kneser-Ney / conformal)

KMVJ_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["sA", "sB", "sC"]),
        st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
    ),
    min_size=2,
    max_size=25,
)


@given(rows=KMVJ_ROWS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_kmv_jaccard_matches_python_model(spark, rows, plant_tables):
    """For ANY corpus: every column of sketch_kmv_jaccard equals an
    independent python implementation of the merge-the-sketches
    estimator AND of the exact vocabulary Jaccard."""
    import hashlib

    from sqlondataframesr_spark.operators import sketches

    docs = [
        (i, " ".join(f"w{t}" for t in toks), "en", src, 1)
        for i, (src, toks) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with plant_tables("_kmvj_prop", documents=df):
        got = {
            (r.src_a, r.src_b): r
            for r in sketches.sketch_kmv_jaccard(spark, "_kmvj_prop").collect()
        }

    def h(term: str) -> int:
        return int(hashlib.md5(term.encode()).hexdigest()[:13], 16)

    vocab: dict[str, set[int]] = {}
    for src, toks in rows:
        vocab.setdefault(src, set()).update(h(f"w{t}") for t in toks)
    K = sketches.KMV_K
    srcs = sorted(vocab)
    expected_pairs = {(a, b) for i, a in enumerate(srcs) for b in srcs[i + 1:]}
    assert set(got) == expected_pairs
    for (a, b), r in got.items():
        sk_a = set(sorted(vocab[a])[:K])
        sk_b = set(sorted(vocab[b])[:K])
        pool = sorted(sk_a | sk_b)[:K]
        n_sk, h_k = len(pool), pool[-1]
        inter_sk = sum(1 for x in pool if x in sk_a and x in sk_b)
        est = n_sk if n_sk < K else ((K - 1) * sketches.HASH_SPACE) // h_k
        ex_i = len(vocab[a] & vocab[b])
        ex_u = len(vocab[a] | vocab[b])
        assert (r.n_union_sk, r.union_estimate) == (n_sk, est)
        assert r.inter_in_sketch == inter_sk
        assert r.jaccard_est_ppm == inter_sk * 1000000 // n_sk
        assert (r.exact_inter, r.exact_union) == (ex_i, ex_u)
        assert r.exact_jaccard_ppm == ex_i * 1000000 // ex_u
        assert r.err_ppm == r.jaccard_est_ppm - r.exact_jaccard_ppm


EWMA_SERIES = st.lists(
    st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40
)


@given(xs=EWMA_SERIES)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_ewma_matches_python_model(spark, xs, plant_tables):
    """evt_ewma_daily == the brute-force integer EWMA for ANY daily
    series (one purchase event per day carrying the day's cents)."""
    import datetime as dt

    from sqlondataframesr_spark.operators import timeseries as TS

    base = dt.datetime(2020, 1, 1, 12, 0, 0)
    ev = [
        (i, base + dt.timedelta(days=i), 1, "purchase", cents / 100.0, "{}")
        for i, cents in enumerate(xs)
    ]
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables("_ewma_prop", events=df):
        got = TS.evt_ewma_daily(spark, "_ewma_prop").collect()
    W = TS.EWMA_W
    assert len(got) == len(xs)
    for t, row in enumerate(got, start=1):
        ks = range(0, min(W, t))
        num = sum(xs[t - 1 - k] * (1 << (W - 1 - k)) for k in ks)
        den = sum(1 << (W - 1 - k) for k in ks)
        assert row.x_cents == xs[t - 1]
        assert row.n_terms == len(list(ks))
        assert row.ewma_cents == num // den


KN_TEXTS = st.lists(
    st.lists(st.integers(min_value=0, max_value=8), min_size=0, max_size=8),
    min_size=1,
    max_size=10,
)


@given(texts=KN_TEXTS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_kneser_ney_is_order_invariant_and_a_probability(spark, texts, plant_tables):
    """Kneser-Ney scores are a pure function of the corpus MULTISET
    (doc order must not matter) and every per-doc mean logprob is
    <= 0 (the smoothed P(w2|w1) never exceeds 1 — the per-context
    mass argument: sum over seen w2 of P = 1 - D*N1f/c1*(1 - sum
    Pcont(seen)) <= 1)."""
    from sqlondataframesr_spark.llm import lm as LM

    def run(order):
        docs = [
            (i, " ".join(f"t{t}" for t in texts[j]), "en", "s", 1)
            for i, j in enumerate(order)
        ]
        df = spark.createDataFrame(
            docs,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        with plant_tables("_kn_prop", documents=df):
            rows = LM.lm_kneser_ney_logprob(spark, "_kn_prop").collect()
        return rows

    fwd = run(range(len(texts)))
    rev = run(range(len(texts) - 1, -1, -1))
    # same multiset of (n_bigrams, avg) regardless of doc order
    assert sorted((r.n_bigrams, r.avg_logprob) for r in fwd) == sorted(
        (r.n_bigrams, r.avg_logprob) for r in rev
    )
    for r in fwd:
        if r.n_bigrams == 0:
            assert r.avg_logprob is None
        else:
            assert r.avg_logprob <= 0.0


KANON_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # nationkey
        st.sampled_from(["AUTO", "FOOD"]),          # segment
        st.integers(min_value=-2000, max_value=5000),  # acctbal dollars
    ),
    min_size=1,
    max_size=40,
)


@given(rows=KANON_ROWS)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_k_anonymity_ladder_matches_model_and_is_monotone(spark, rows, plant_tables):
    """For ANY customer table: each ladder level equals a python
    recount, and generalizing (level up) never increases the
    suppression set (coarser classes are supersets, so a class under
    k at level L implies all its level-(L-1) subclasses are under k)."""
    from sqlondataframesr_spark.operators import privacy as P

    cust = [
        (i, f"Customer#{i}", nk, float(bal), seg)
        for i, (nk, seg, bal) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    with plant_tables("_kanon_prop", customer=df):
        got = {
            r.level: r
            for r in P.privacy_k_anonymity_ladder(spark, "_kanon_prop").collect()
        }

    from collections import Counter

    def bracket(bal: int) -> int:
        import math

        return math.floor(round(bal * 100) / P.BRACKET_CENTS)

    qi = [(nk, seg, bracket(bal)) for nk, seg, bal in rows]
    for level, proj in [
        (0, lambda q: q),
        (1, lambda q: q[:2]),
        (2, lambda q: q[:1]),
    ]:
        classes = Counter(proj(q) for q in qi)
        below = {c: n for c, n in classes.items() if n < P.K_ANON}
        r = got[level]
        assert r.n_classes == len(classes)
        assert r.min_class == min(classes.values())
        assert r.classes_below_k == len(below)
        assert r.rows_below_k == sum(below.values())
        assert r.rows_below_ppm == r.rows_below_k * 1000000 // len(rows)
    assert got[2].rows_below_k <= got[1].rows_below_k <= got[0].rows_below_k


CONF_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=1000),   # orderkey
        st.integers(min_value=1, max_value=7),      # linenumber
        st.integers(min_value=1, max_value=50),     # quantity
        st.integers(min_value=100, max_value=10**7),  # price cents
    ),
    min_size=30,
    max_size=120,
    unique_by=lambda r: (r[0], r[1]),
)


@given(rows=CONF_ROWS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_conformal_matches_python_model(spark, rows, plant_tables):
    """ml_conformal_interval's integer outputs equal an independent
    python split-conformal implementation (same md5 split, same IEEE
    slope/intercept expressions, same dollar quantization, same
    ceil(0.9(m+1)) rank) for ANY lineitem multiset."""
    import datetime as dt
    import hashlib
    import math

    from sqlondataframesr_spark.operators import stats as S

    li = [
        (ok, 1, 1, ln, float(q), cents / 100.0, 0.0, 0.0, "N", "O",
         dt.datetime(1995, 1, 1))
        for ok, ln, q, cents in rows
    ]
    df = spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    with plant_tables("_conf_prop", lineitem=df):
        out = S.ml_conformal_interval(spark, "_conf_prop").collect()

    def bucket(ok: int, ln: int) -> int:
        return (
            int(hashlib.md5(f"{ok}:{ln}".encode()).hexdigest()[:8], 16) % 10
        )

    tr = [(q, c) for ok, ln, q, c in rows
          if bucket(ok, ln) < S._CONF_TRAIN_HI]
    cal = [(q, c) for ok, ln, q, c in rows
           if S._CONF_TRAIN_HI <= bucket(ok, ln) < S._CONF_CAL_HI]
    te = [(q, c) for ok, ln, q, c in rows
          if bucket(ok, ln) >= S._CONF_CAL_HI]
    if not tr or not cal or not te:
        # an empty split means no test/fit/quantile row survives the
        # inner joins — the operator must yield zero rows, not nulls
        assert out == []
        return
    n = len(tr)
    sx = sum(q for q, _ in tr)
    sy = sum(c for _, c in tr)
    sxy = sum(q * c for q, c in tr)
    sxx = sum(q * q for q, _ in tr)
    den = float(n) * float(sxx) - float(sx) * float(sx)
    if den == 0.0:
        return  # degenerate fit: all train quantities equal
    slope = (float(n) * float(sxy) - float(sx) * float(sy)) / den
    intercept = (float(sy) - slope * float(sx)) / float(n)

    def r_usd(q: int, c: int) -> int:
        v = abs(float(c) - (slope * float(q) + intercept)) / 100.0
        return math.floor(v + 0.5)  # round-half-up, matches both engines

    cal_r = sorted(r_usd(q, c) for q, c in cal)
    m = len(cal_r)
    k = (9 * (m + 1) + 9) // 10
    q90 = cal_r[min(k, m) - 1]
    covered = sum(1 for q_, c in te if r_usd(q_, c) <= q90)
    row = out[0]
    assert (row.n_train, row.n_cal, row.n_test) == (n, m, len(te))
    assert row.q90_resid_usd == q90
    assert row.covered == covered
    assert row.coverage_ppm == covered * 1000000 // len(te)


ISO_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=12),  # activity count
        st.booleans(),                           # big-ticket conversion
    ),
    min_size=1,
    max_size=40,
)


@given(rows=ISO_ROWS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_isotonic_matches_maxmin_model_and_is_monotone(spark, rows, plant_tables):
    """ml_isotonic_calibration == the brute-force max-min closed form
    (python triple loop over the bucket frame) and its fit is
    non-decreasing for ANY per-user (activity, converted) multiset."""
    import datetime as dt

    from sqlondataframesr_spark.operators import features as FE

    base = dt.datetime(2021, 1, 1)
    ev, eid = [], 0
    for uid, (n_act, conv) in enumerate(rows):
        for k in range(n_act):
            eid += 1
            # the conversion event is a big-ticket purchase
            if conv and k == 0:
                ev.append((eid, base, uid, "purchase", 200.0, "{}"))
            else:
                ev.append((eid, base, uid, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables("_iso_prop", events=df):
        got = FE.ml_isotonic_calibration(spark, "_iso_prop").collect()

    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for n_act, conv in rows:
        bucket = min(n_act, FE.ISO_MAX_BUCKET)
        agg[bucket][0] += 1
        agg[bucket][1] += 1 if conv else 0
    buckets = sorted(agg)
    w = {b: agg[b][0] for b in buckets}
    c = {b: agg[b][1] for b in buckets}

    def rate(i, j):
        cw = sum(w[b] for b in buckets if i <= b <= j)
        cc = sum(c[b] for b in buckets if i <= b <= j)
        return cc * 1000000 // cw

    expect = {}
    for k in buckets:
        expect[k] = max(
            min(rate(i, j) for j in buckets if j >= k)
            for i in buckets
            if i <= k
        )
    assert [r.bucket for r in got] == buckets
    prev = None
    for r in got:
        assert r.n_users == w[r.bucket]
        assert r.n_conv == c[r.bucket]
        assert r.raw_ppm == c[r.bucket] * 1000000 // w[r.bucket]
        assert r.iso_ppm == expect[r.bucket]
        if prev is not None:
            assert r.iso_ppm >= prev
        prev = r.iso_ppm


NEYMAN_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["sA", "sB", "sC", "sD"]),
        st.integers(min_value=1, max_value=5000),  # n_chars
    ),
    min_size=1,
    max_size=40,
)


@given(rows=NEYMAN_ROWS)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_neyman_allocation_conserves_and_matches_model(spark, rows, plant_tables):
    """For ANY corpus: Σ alloc == NEYMAN_TOTAL whenever any stratum
    has positive weight, and every column equals the python
    largest-remainder model."""
    import math

    from sqlondataframesr_spark.llm import sampling as SA

    docs = [
        (i, "t", "en", src, n) for i, (src, n) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with plant_tables("_ney_prop", documents=df):
        got = {r.source: r
               for r in SA.sample_neyman_allocation(spark, "_ney_prop").collect()}

    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0, 0])
    for src, n in rows:
        a = agg[src]
        a[0] += 1
        a[1] += n
        a[2] += n * n
    W = {
        s: math.floor(math.sqrt(float(max(a[0] * a[2] - a[1] * a[1], 0))))
        for s, a in agg.items()
    }
    wt = sum(W.values())
    T = SA.NEYMAN_TOTAL
    if wt == 0:
        for s, r in got.items():
            assert r.alloc is None  # nullif path: no variance anywhere
        return
    base = {s: T * w // wt for s, w in W.items()}
    rem = {s: T * W[s] - base[s] * wt for s in W}
    k = T - sum(base.values())
    order = sorted(W, key=lambda s: (-rem[s], s))
    alloc = {
        s: base[s] + (1 if i < k else 0) for i, s in enumerate(order)
    }
    assert sum(alloc.values()) == T
    for s, a in agg.items():
        r = got[s]
        assert (r.n_docs, r.weight, r.alloc) == (a[0], W[s], alloc[s])
