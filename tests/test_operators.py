"""Unit tests for reusable operators on tiny literal DataFrames —
the fast inner loop the reference lacks (SURVEY.md §5)."""

from __future__ import annotations

from sqlondataframesr_spark.operators.argmax import argmax_maxby, argmax_window


def test_argmax_strategies_agree(spark):
    df = spark.createDataFrame(
        [
            # (grp, key, measure) with a tie in grp=1 at measure=5
            (1, 10, 5),
            (1, 7, 5),
            (1, 99, 1),
            (2, 3, 9),
            (2, 4, 9),  # tie -> key 3 wins
            (3, 42, 0),
        ],
        ["grp", "key", "measure"],
    )
    via_window = {
        (r["grp"], r["key"], r["measure"])
        for r in argmax_window(df, ["grp"], "measure", ["key"]).collect()
    }
    via_maxby = {
        (r["grp"], r["key"], r["measure"])
        for r in argmax_maxby(
            df, ["grp"], "measure", payload=["key"], tiebreak="key"
        ).collect()
    }
    assert via_window == via_maxby == {(1, 7, 5), (2, 3, 9), (3, 42, 0)}


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must be a pure physical rewrite: row-for-row identical
    output to the unsalted join, hot keys spread over n buckets."""
    from pyspark.sql import functions as F

    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.check import compare_frames
    from sqlondataframesr_spark.operators.salt import salted_join

    events = load_table(spark, sf_dir, "events")
    # tiny dim: one row per event_type
    dim = (
        events.select("event_type").distinct()
        .withColumn("type_code", F.crc32("event_type") % 1000)
    )
    plain = events.join(dim, ["event_type"]).select("event_id", "type_code")
    salted = salted_join(events, dim, keys=["event_type"], n_salts=8).select(
        "event_id", "type_code"
    )
    assert not compare_frames(salted, plain)


def test_asof_join_semantics(spark):
    """Inclusive (>=) match, latest-preceding wins, NULLs when nothing
    precedes, left rows always survive."""
    import pytest
    from sqlondataframesr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, 5, "a"),   # matches right t=5 (equal ts is inclusive)
            (1, 9, "b"),   # matches right t=7 (latest preceding)
            (1, 2, "c"),   # nothing precedes -> NULL
            (2, 4, "d"),   # key with no right rows at all -> NULL
        ],
        "k int, t int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 5, 50), (1, 7, 70), (1, 11, 110)], "k int, t int, val int"
    )
    got = {
        (r["k"], r["t"]): r["val"]
        for r in asof_join(left, right, ["k"], "t", "t").collect()
    }
    assert got == {(1, 5): 50, (1, 9): 70, (1, 2): None, (2, 4): None}

    with pytest.raises(ValueError, match="rename"):
        asof_join(left, right.withColumnRenamed("val", "tag"), ["k"], "t", "t")


def test_approx_sketches_bounded_by_exact(spark, sf_dir):
    """Raw sketches: HLL distinct within 5% of exact; approx
    percentiles must be actual data values bracketing the exact rank
    reasonably. The q22 validation wrapper must say all-ok."""
    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.queries.extensions import (
        q22_approx_sketches,
        q22_sketch_raw,
    )

    raw = {r.event_type: r for r in q22_sketch_raw(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    values: dict[str, list[float]] = {}
    users: dict[str, set] = {}
    for r in ev.select("event_type", "value", "user_id").collect():
        values.setdefault(r.event_type, []).append(r.value)
        users.setdefault(r.event_type, set()).add(r.user_id)
    assert set(raw) == set(values)
    for et, row in raw.items():
        # production path is sketch-only (no exact n_users column) —
        # bound the HLL against a test-side exact distinct
        n_users = len(users[et])
        assert abs(row.approx_users - n_users) <= max(2, 0.05 * n_users)
        vs = sorted(values[et])
        # each approx percentile must be a real data value whose true
        # rank is within 5% of the target quantile
        for approx_p, q in zip(row._pct, (0.5, 0.9, 0.99)):
            assert approx_p in values[et]
            lo = sum(1 for v in vs if v < approx_p) / len(vs)
            hi = sum(1 for v in vs if v <= approx_p) / len(vs)
            assert lo - 0.05 <= q <= hi + 0.05
    # the driver-facing contract: every tolerance boolean is True
    for row in q22_approx_sketches(spark, sf_dir).collect():
        assert row.hll_ok and row.p5_ok and row.p9_ok and row.p99_ok, row


def test_udtf_equals_declarative_split(spark, sf_dir):
    """The Python UDTF path must produce exactly the rows of the
    codegen explode(split(...)) form — same N-version discipline,
    across UDF-class boundaries instead of engines."""
    from pyspark.sql import functions as F
    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.check import compare_frames
    from sqlondataframesr_spark.operators.udtf import doc_sentence_stats

    docs = load_table(spark, sf_dir, "documents")
    declarative = (
        docs.select("doc_id", F.posexplode(F.split("text", "\\. ")).alias("i", "s"))
        .filter(F.col("s") != "")
        .select("doc_id", F.length("s").alias("sent_len"), "i")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.max("sent_len").alias("max_sent_len"),
            F.min_by("sent_len", "i").alias("first_sent_len"),
        )
    )
    assert not compare_frames(doc_sentence_stats(spark, sf_dir), declarative)


def test_two_phase_count_distinct_equals_builtin(spark, sf_dir):
    """The two-phase rewrite must equal countDistinct exactly."""
    from pyspark.sql import functions as F
    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.check import compare_frames
    from sqlondataframesr_spark.operators.salt import two_phase_count_distinct

    ev = load_table(spark, sf_dir, "events")
    got = two_phase_count_distinct(ev, ["event_type"], "user_id")
    ref = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_distinct_user_id")
    )
    assert not compare_frames(got, ref)


def test_pagerank_node_count_matches_oracle_pin(spark, sf_dir):
    """The oracle text pins n = 25 nations; if the dim ever changes,
    this cross-check fails before the driver gate does."""
    from sqlondataframesr_spark.operators import graph

    from pyspark.sql import functions as F

    edges = graph._trade_edges(spark, sf_dir)
    n = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select("dst"))
        .distinct()
        .count()
    )
    assert n == 25


def test_pagerank_rank_properties(spark, sf_dir):
    """Every node holds at least the teleport mass; total mass stays
    within integer-truncation slack of the scale; ordering is total."""
    from sqlondataframesr_spark.operators import graph

    rows = graph.graph_nation_pagerank(spark, sf_dir).collect()
    assert len(rows) == 25
    base_us = (100 - graph._DAMP_PCT) * graph._SCALE_US // (100 * 25)
    assert all(r["rank_us"] >= base_us for r in rows)
    total = sum(r["rank_us"] for r in rows)
    # div-truncation loses < 1 us per edge per iteration + damping
    assert graph._SCALE_US * 0.98 <= total <= graph._SCALE_US
    keys = [(-r["rank_us"], r["nation"]) for r in rows]
    assert keys == sorted(keys)


def test_hypertable_rollup_equals_full_recompute(spark, sf_dir):
    """The continuous-aggregate invariant: materialized chunks ∪ raw
    tail must equal a full recompute over all events, value for
    value — and both serving paths must actually appear."""
    from pyspark.sql import functions as F

    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.check import compare_frames
    from sqlondataframesr_spark.operators import hypertable as H

    got = H.evt_hypertable_rollup(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    split = H._split_day(spark, sf_dir)
    full = (
        H._rollup_frame(ev)
        .select(
            "bucket_day",
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.round(F.col("cents").cast("double") / F.lit(100.0), 2).alias("total_value"),
            F.when(F.col("bucket_day") < F.lit(split), F.lit("materialized"))
            .otherwise(F.lit("raw"))
            .alias("served_from"),
        )
    )
    assert not compare_frames(got, full)
    served = {r.served_from for r in got.select("served_from").distinct().collect()}
    assert served == {"materialized", "raw"}


def test_hypertable_materialization_is_write_once_and_keyed_on_inputs(spark, sf_dir, tmp_path):
    """The rollup dir must be reused across calls (write-once) and its
    key must roll when the events file changes (the stale-pinned-cache
    hazard the r8 ADVICE flagged for load_se)."""
    import os
    import shutil

    from sqlondataframesr_spark.operators import hypertable as H

    d1, _ = H._materialize(spark, sf_dir)
    m1 = os.stat(d1).st_mtime_ns
    d2, _ = H._materialize(spark, sf_dir)
    assert d2 == d1 and os.stat(d1).st_mtime_ns == m1  # no rewrite

    # same data at a fresh path -> different key; touching the file -> another
    alt = tmp_path / "alt_sf"
    alt.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), alt / "events.parquet")
    k1 = H._mat_dir(str(alt))
    os.utime(alt / "events.parquet", ns=(1, 1))
    k2 = H._mat_dir(str(alt))
    assert k1 != H._mat_dir(sf_dir) and k2 != k1


def test_skew_report_flags_planted_bot_user(spark, tmp_path, plant_tables):
    """A planted bot key holding half the table must be flagged; the
    uniform long tail must not."""
    import datetime as dt

    from sqlondataframesr_spark.operators import salt as S

    rows = [(i, dt.datetime(2024, 1, 1 + i % 28), 999, "click", 1.0, "{}")
            for i in range(500)]                    # bot user: 50%
    rows += [(1000 + i, dt.datetime(2024, 1, 1 + i % 28), i, "view", 1.0, "{}")
             for i in range(500)]                   # 500 singleton users
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )

    with plant_tables(tmp_path, events=df):
        rep = {r.user_id: r for r in S.skew_key_report(spark, str(tmp_path)).collect()}
    assert rep[999].skewed and rep[999].share_ppm == 500000
    others = [r for uid, r in rep.items() if uid != 999]
    assert others and all(not r.skewed for r in others)


def test_sessionize_splits_exactly_at_gap(spark, tmp_path, plant_tables):
    """Designed stream: one user with gaps [1h, 4h(=boundary, kept),
    4h+1us (split), 1h] -> sessions of sizes [3, 2]; a second user with
    a single event -> singleton. Boundary semantics: gap <= SESSION_GAP
    stays inside the session (the <= is part of the contract)."""
    import datetime as dt

    from sqlondataframesr_spark.operators import sessionize as SZ

    t0 = dt.datetime(2024, 3, 1)
    h = dt.timedelta(hours=1)
    us = dt.timedelta(microseconds=1)
    ts = [t0, t0 + h, t0 + 5 * h,                       # gaps 1h, 4h -> one session
          t0 + 9 * h + us, t0 + 10 * h + us]            # gap 4h+1us -> new session
    rows = [(i, ts[i], 1, "click", 1.0, "{}") for i in range(5)]
    rows.append((99, t0, 2, "view", 2.5, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        sess = sorted(
            SZ._sessions(spark, str(tmp_path)).collect(),
            key=lambda r: (r.user_id, r.session_id),
        )
    assert [(r.user_id, r.session_id, r.n_events) for r in sess] == [
        (1, 1, 3), (1, 2, 2), (2, 1, 1)]
    s1 = sess[0]
    assert s1.session_start == t0 and s1.session_end == t0 + 5 * h
    assert s1.duration_s == 5 * 3600.0 and s1.total_value == 3.0
    assert sess[2].duration_s == 0.0  # singleton session


def test_sessionize_real_data_invariants(spark, sf_dir):
    """On the synthetic events stream: session sizes from the profile
    must sum to the event count, and the top sessions must all contain
    >= 2 events (the gap threshold is tuned to produce real sessions,
    not all singletons)."""
    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.operators import sessionize as SZ

    prof = SZ.evt_sessionize_profile(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events * r.n_sessions for r in prof) == n_events
    assert any(r.n_events >= 2 for r in prof), "gap threshold too tight"
    top = SZ.evt_sessionize_top(spark, sf_dir).collect()
    assert top and top[0].n_events >= 2
    # leaderboard is totally ordered by the documented key
    keys = [(-r.n_events, -r.duration_s, r.user_id, r.session_id) for r in top]
    assert keys == sorted(keys)


def test_sessionize_groupby_reuses_window_partitioning(spark, sf_dir):
    """The 100 TB contract: session assignment + per-session rollup is
    ONE hash exchange (HashPartitioning(user_id) satisfies the
    (user_id, session_id) clustered distribution); the leaderboard is
    fused top-k, never a global sort."""
    from sqlondataframesr_spark.operators import sessionize as SZ
    from sqlondataframesr_spark.plans.audit import audit

    top = audit(SZ.evt_sessionize_top(spark, sf_dir)).text
    assert top.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in top
    assert "Exchange rangepartitioning" not in top


def test_transition_matrix_designed_chain(spark, tmp_path, plant_tables):
    """Two users: [click,view,view,purchase] and [click,view] ->
    click->view twice (ppm=1000000 of click's row), view->view and
    view->purchase once each (500000 ppm each). The first event of
    each user contributes no transition."""
    import datetime as dt

    from sqlondataframesr_spark.operators import journeys as J

    t0 = dt.datetime(2024, 3, 1)
    m = dt.timedelta(minutes=1)
    seq1 = ["click", "view", "view", "purchase"]
    rows = [(i, t0 + i * m, 1, seq1[i], 1.0, "{}") for i in range(4)]
    rows += [(10, t0, 2, "click", 1.0, "{}"), (11, t0 + m, 2, "view", 1.0, "{}")]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        got = {
            (r.prev_type, r.next_type): (r.n_transitions, r.prob_ppm)
            for r in J.evt_transition_matrix(spark, str(tmp_path)).collect()
        }
    assert got == {
        ("click", "view"): (2, 1_000_000),
        ("view", "view"): (1, 500_000),
        ("view", "purchase"): (1, 500_000),
    }


def test_snapshot_diff_change_types(spark, tmp_path, plant_tables):
    """Designed CDC cases: a customer with orders only before T1 is
    'flat' (delta 0), before+after is 'grown', only after is 'new'."""
    import datetime as dt

    from sqlondataframesr_spark.operators import journeys as J

    before = dt.datetime(1997, 6, 1)
    after = dt.datetime(2000, 6, 1)
    rows = [
        (1, 100, "F", 10.00, before, "1-URGENT"),   # flat
        (2, 200, "F", 10.00, before, "1-URGENT"),   # grown: +25.50
        (3, 200, "O", 25.50, after, "1-URGENT"),
        (4, 300, "O", 7.25, after, "1-URGENT"),     # new
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with plant_tables(tmp_path, orders=df):
        got = {
            r.c_custkey: (r.spend_t1_c, r.spend_t2_c, r.delta_c, r.change_type)
            for r in J.orders_snapshot_diff(spark, str(tmp_path)).collect()
        }
    assert got == {
        100: (1000, 1000, 0, "flat"),
        200: (1000, 3550, 2550, "grown"),
        300: (0, 725, 725, "new"),
    }


def test_rfm_segments_quintile_invariants(spark, sf_dir):
    """ntile(5) must spread customers evenly (cell sums per axis differ
    by <= 1 from N/5 rounding) and conserve both customer count and
    total monetary cents."""
    from collections import defaultdict

    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.operators import journeys as J
    from pyspark.sql import functions as F

    cells = J.cust_rfm_segments(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    total_c = orders.select(
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("c")
    ).agg(F.sum("c")).collect()[0][0]
    assert sum(r.n_customers for r in cells) == n_cust
    assert sum(r.monetary_c for r in cells) == total_c
    for axis in ("r_q", "f_q", "m_q"):
        per = defaultdict(int)
        for r in cells:
            per[r[axis]] += r.n_customers
        assert set(per) == {1, 2, 3, 4, 5}
        assert max(per.values()) - min(per.values()) <= 1


def test_triangle_count_invariants(spark, sf_dir):
    """Triangle participation: total is divisible by 3 (each triangle
    counted at every corner), per-nation count bounded by C(24,2), and
    the dense synthetic trade graph yields at least one triangle."""
    from sqlondataframesr_spark.operators import graph as G
    from sqlondataframesr_spark.plans.audit import audit

    q = G.graph_triangle_count(spark, sf_dir)
    rows = q.collect()
    total = sum(r.n_triangles for r in rows)
    assert total > 0 and total % 3 == 0
    assert all(0 <= r.n_triangles <= 276 for r in rows)  # C(24,2)
    assert not audit(q).has_cartesian


def test_snapshot_diff_is_single_exchange_topk(spark, sf_dir):
    """CDC diff contract: ONE hash exchange (the per-customer
    aggregate), movers via fused top-k — never a global sort."""
    from sqlondataframesr_spark.operators import journeys as J
    from sqlondataframesr_spark.plans.audit import audit

    a = audit(J.orders_snapshot_diff(spark, sf_dir))
    assert a.n_exchanges == 1
    assert a.has_fused_topk
    assert "Exchange rangepartitioning" not in a.text


def test_daily_spikes_designed_thresholds(spark, tmp_path, plant_tables):
    """10 days at 100 events + one 126-event day (>1.25x mean) + one
    74-event day (<0.8x mean): exactly those two days flag, and the
    integer thresholds sit exactly at the contract boundary (a
    125-event day over a 100-mean stream would NOT flag)."""
    import datetime as dt

    from sqlondataframesr_spark.operators import journeys as J

    t0 = dt.datetime(2024, 3, 1)
    day = dt.timedelta(days=1)
    sec = dt.timedelta(seconds=1)
    counts = [100] * 10 + [126, 74]  # mean = 100 exactly (1200/12)
    rows, eid = [], 0
    for d, n in enumerate(counts):
        for i in range(n):
            rows.append((eid, t0 + d * day + i * sec, 1, "click", 1.0, "{}"))
            eid += 1
    # second type with a boundary-exact day: 125 over mean 100 -> no flag
    counts2 = [100] * 11 + [125]
    for d, n in enumerate(counts2):
        for i in range(n):
            rows.append((eid, t0 + d * day + i * sec, 2, "view", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        got = [
            (r.event_type, r.day.day, r.n_events, r.mean_m, r.kind)
            for r in J.evt_daily_spikes(spark, str(tmp_path)).collect()
        ]
    assert got == [
        ("click", 11, 126, 100_000, "spike"),
        ("click", 12, 74, 100_000, "dip"),
    ]
    # 'view' never appears: 125 == 1.25 * mean is NOT a spike (strict >)
    # and mean here is 102083 milli-events, so the boundary is implicit
    assert all(t != "view" for t, *_ in got)


def test_basket_pairs_designed_lift(spark, tmp_path, plant_tables):
    """3 baskets: {1,2}, {1,2}, {1,3}. Pair (1,2): support 2, lift =
    2*3/(3*2) = 1.0 -> 1_000_000 ppm. Pair (1,3) has support 1 ->
    filtered by MIN_SUPPORT. Duplicate lines of one part in a basket
    must not inflate support."""
    import datetime as dt

    from sqlondataframesr_spark.operators import affinity as A

    t = dt.datetime(1997, 1, 1)
    rows = [
        (10, 1, 5, 1.0, 10.0, 0.0, "N", t),
        (10, 2, 5, 1.0, 10.0, 0.0, "N", t),
        (10, 2, 6, 1.0, 10.0, 0.0, "N", t),  # dup part in basket
        (11, 1, 5, 1.0, 10.0, 0.0, "N", t),
        (11, 2, 5, 1.0, 10.0, 0.0, "N", t),
        (12, 1, 5, 1.0, 10.0, 0.0, "N", t),
        (12, 3, 5, 1.0, 10.0, 0.0, "N", t),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double,"
        " l_extendedprice double, l_discount double, l_returnflag string,"
        " l_shipdate timestamp",
    )
    with plant_tables(tmp_path, lineitem=df):
        got = [
            (r.part_a, r.part_b, r.n_orders, r.n_a, r.n_b, r.lift_ppm)
            for r in A.basket_top_pairs(spark, str(tmp_path)).collect()
        ]
    assert got == [(1, 2, 2, 3, 2, 1_000_000)]


def test_basket_pairs_plan_filters_before_lift_joins(spark, sf_dir):
    """Scale contract: the MIN_SUPPORT filter prunes candidate pairs
    BEFORE the per-part-count joins, and the leaderboard is fused
    top-k (no global sort, no cartesian except the 1-row total)."""
    from sqlondataframesr_spark.operators import affinity as A
    from sqlondataframesr_spark.plans.audit import audit

    a = audit(A.basket_top_pairs(spark, sf_dir))
    assert a.has_fused_topk
    assert not a.has_cartesian
    assert "Exchange rangepartitioning" not in a.text


def test_growth_designed_curves(spark, tmp_path, plant_tables):
    """Users A,B first seen day0; A active again day3. New-user curve:
    (d0, 2, 2) only (day3 adds no NEW user). DAU/WAU: d0 dau=2 wau=2
    (stickiness 1e6); d3 dau=1, wau=2 (A and B both active within the
    trailing 7 days) -> 500000 ppm; non-activity days are not rows."""
    import datetime as dt

    from sqlondataframesr_spark.operators import growth as G

    d0 = dt.datetime(2024, 3, 1, 12)
    rows = [
        (1, d0, 100, "click", 1.0, "{}"),
        (2, d0, 200, "view", 1.0, "{}"),
        (3, d0 + dt.timedelta(days=3), 100, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        new = [
            (r.day, r.n_new, r.n_cumulative)
            for r in G.evt_new_users_daily(spark, str(tmp_path)).collect()
        ]
        dw = [
            (r.day, r.dau, r.wau, r.stickiness_ppm)
            for r in G.evt_dau_wau(spark, str(tmp_path)).collect()
        ]
    day0 = d0.date()
    day3 = day0 + dt.timedelta(days=3)
    assert new == [(day0, 2, 2)]
    assert dw == [(day0, 2, 2, 1_000_000), (day3, 1, 2, 500_000)]


def test_dau_wau_invariants_real_data(spark, sf_dir):
    """wau >= dau everywhere; stickiness in (0, 1e6]; wau never exceeds
    the trailing sum of daus (inclusion bound)."""
    from sqlondataframesr_spark.operators import growth as G

    rows = G.evt_dau_wau(spark, sf_dir).collect()
    assert rows
    dau_by_day = {r.day: r.dau for r in rows}
    import datetime as dt

    for r in rows:
        assert 1 <= r.dau <= r.wau
        assert 0 < r.stickiness_ppm <= 1_000_000
        trail = sum(
            dau_by_day.get(r.day - dt.timedelta(days=i), 0) for i in range(7)
        )
        assert r.wau <= trail


def test_session_funnel_designed(spark, tmp_path, plant_tables):
    """Session 1: click then purchase -> converted. Session 2 (same
    user, after a 5h gap): purchase BEFORE click -> has a click but no
    conversion (order matters). Session 3 (other user): view only ->
    no click. cvr = 1/2 = 500000 ppm."""
    import datetime as dt

    from sqlondataframesr_spark.operators import sessionize as SZ

    t0 = dt.datetime(2024, 3, 1)
    h = dt.timedelta(hours=1)
    rows = [
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + h, 1, "purchase", 1.0, "{}"),
        (3, t0 + 7 * h, 1, "purchase", 1.0, "{}"),   # session 2 starts
        (4, t0 + 8 * h, 1, "click", 1.0, "{}"),
        (5, t0, 2, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        r = SZ.evt_session_funnel(spark, str(tmp_path)).collect()[0]
    assert (r.n_sessions, r.n_with_click, r.n_converted, r.cvr_ppm) == (
        3, 2, 1, 500_000)


def test_gini_designed_extremes(spark, tmp_path, plant_tables):
    """Perfect equality (4 users x 3 events) -> gini 0. Near-perfect
    concentration (one user with 99 events, three with 1) -> gini =
    (2*(1+2+3+4*99) - 5*102)*1e6 // (4*102) = 705882 ppm; cross-checked
    against the closed-form computation."""
    import datetime as dt

    from sqlondataframesr_spark.operators import concentration as CN

    t0 = dt.datetime(2024, 3, 1)
    s = dt.timedelta(seconds=1)

    def run(counts):
        rows, eid = [], 0
        for uid, n in enumerate(counts, start=1):
            for j in range(n):
                rows.append((eid, t0 + eid * s, uid, "click", 1.0, "{}"))
                eid += 1
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        with plant_tables(tmp_path, events=df):
            return CN.evt_activity_gini(spark, str(tmp_path)).collect()[0]

    eq = run([3, 3, 3, 3])
    assert (eq.n_users, eq.total_events, eq.gini_ppm) == (4, 12, 0)
    conc = run([1, 1, 1, 99])
    expect = (2 * (1 + 2 + 3 + 4 * 99) - 5 * 102) * 1_000_000 // (4 * 102)
    assert (conc.n_users, conc.total_events, conc.gini_ppm) == (4, 102, expect)


def test_activity_deciles_invariants(spark, sf_dir):
    """Decile sizes even to +-1; shares monotone nonincreasing in the
    decile (1 = most active); shares sum to ~1e6 (truncation slack)."""
    from sqlondataframesr_spark.operators import concentration as CN

    rows = CN.evt_activity_deciles(spark, sf_dir).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    sizes = [r.n_users for r in rows]
    assert max(sizes) - min(sizes) <= 1
    shares = [r.share_ppm for r in rows]
    assert shares == sorted(shares, reverse=True)
    assert 1_000_000 - 10 <= sum(shares) <= 1_000_000


def test_yoy_seasonality_designed(spark, tmp_path, plant_tables):
    """Jan-1995 100.00, Jan-1996 150.00, Feb-1996 20.00: the 1996-01
    row carries ratio 1.5e6 vs its prior year; first-year rows and
    months with no prior year have NULL."""
    import datetime as dt

    from sqlondataframesr_spark.operators import journeys as J

    rows = [
        (1, 10, "F", 100.00, dt.datetime(1995, 1, 5), "1-URGENT"),
        (2, 10, "F", 150.00, dt.datetime(1996, 1, 9), "1-URGENT"),
        (3, 20, "O", 20.00, dt.datetime(1996, 2, 1), "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with plant_tables(tmp_path, orders=df):
        got = [
            (r.o_year, r.o_month, r.revenue_c, r.prev_year_c, r.yoy_ratio_ppm)
            for r in J.orders_yoy_seasonality(spark, str(tmp_path)).collect()
        ]
    assert got == [
        (1995, 1, 10000, None, None),
        (1996, 1, 15000, 10000, 1_500_000),
        (1996, 2, 2000, None, None),
    ]


def test_join_fanout_report_matches_actual_join(spark, sf_dir):
    """The report's exact_join_rows must equal the true join
    cardinality, and with orders' PK on the left the join cannot
    amplify beyond the lineitem row count."""
    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.queries.quality import dq_join_fanout_report

    r = dq_join_fanout_report(spark, sf_dir).collect()[0]
    ords = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    actual = ords.join(li, ords.o_orderkey == li.l_orderkey).count()
    assert r.exact_join_rows == actual
    assert r.max_left_mult == 1  # o_orderkey is a PK
    assert r.left_rows == ords.count() and r.right_rows == li.count()
    assert r.n_common_keys <= min(r.n_left_keys, r.n_right_keys)
    assert r.amplification_ppm == actual * 1_000_000 // max(r.left_rows, r.right_rows)


def test_session_funnel_stages_strict_order(spark, tmp_path, plant_tables):
    """Session A: view, click, purchase in order -> reaches all three.
    Session B: click BEFORE the first view, purchase after -> reaches
    view but NOT click (strict order), so not purchase either. Session
    C: view only. Funnel: 3 sessions, 3 views, 1 click, 1 purchase."""
    import datetime as dt

    from sqlondataframesr_spark.operators import sessionize as SZ

    t0 = dt.datetime(2024, 3, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        # session A (user 1)
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + m, 1, "click", 1.0, "{}"),
        (3, t0 + 2 * m, 1, "purchase", 1.0, "{}"),
        # session B (user 2): click precedes the first view
        (4, t0, 2, "click", 1.0, "{}"),
        (5, t0 + m, 2, "view", 1.0, "{}"),
        (6, t0 + 2 * m, 2, "purchase", 1.0, "{}"),
        # session C (user 3)
        (7, t0, 3, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        r = SZ.evt_session_funnel_stages(spark, str(tmp_path)).collect()[0]
    assert (r.n_sessions, r.reached_view, r.reached_click,
            r.reached_purchase) == (3, 3, 1, 1)


def test_conversion_latency_designed(spark, tmp_path, plant_tables):
    """Two converted sessions with latencies 60s and 180s (plus a
    pre-click purchase that must not count): mean 120s, p50 120s
    (interpolated midpoint of two samples), p90 168s."""
    import datetime as dt

    from sqlondataframesr_spark.operators import sessionize as SZ

    t0 = dt.datetime(2024, 3, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, t0, 1, "purchase", 1.0, "{}"),        # before click: ignored
        (2, t0 + 10 * s, 1, "click", 1.0, "{}"),
        (3, t0 + 70 * s, 1, "purchase", 1.0, "{}"),   # 60s
        (4, t0, 2, "click", 1.0, "{}"),
        (5, t0 + 180 * s, 2, "purchase", 1.0, "{}"),  # 180s
        (6, t0, 3, "click", 1.0, "{}"),               # never converts
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        r = SZ.evt_conversion_latency(spark, str(tmp_path)).collect()[0]
    assert (r.n_converted, r.mean_latency_s, r.p50_s, r.p90_s) == (
        2, 120.0, 120.0, 168.0)


def test_abc_classes_designed_boundaries(spark, tmp_path, plant_tables):
    """Spends 80/15/5 (of 100): the 80-unit customer is A (nothing
    precedes it), the 15-unit lands exactly AT the 80% boundary ->
    strict < sends it to B, and the 5-unit sits at 95% -> C."""
    import datetime as dt

    from sqlondataframesr_spark.operators import concentration as CN

    t = dt.datetime(1997, 1, 1)
    rows = [
        (1, 100, "F", 80.00, t, "1-URGENT"),
        (2, 200, "F", 15.00, t, "1-URGENT"),
        (3, 300, "F", 5.00, t, "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with plant_tables(tmp_path, orders=df):
        got = {
            r.abc_class: (r.n_customers, r.revenue_c, r.share_ppm)
            for r in CN.cust_abc_classes(spark, str(tmp_path)).collect()
        }
    assert got == {
        "A": (1, 8000, 800_000),
        "B": (1, 1500, 150_000),
        "C": (1, 500, 50_000),
    }


def test_basket_capped_designed_and_report(spark, tmp_path, plant_tables):
    """Designed baskets: {1,2}, {1,2}, {1,2,3,4,5,6,7} (7 distinct
    parts — over BASKET_SIZE_CAP=6). The capped operator analyzes only
    the two small baskets: pair (1,2) support 2, n_a=n_b=n_baskets=2,
    lift = 2*2/(2*2) = 1e6 ppm. The report counts the dropped basket
    and flags cap_binds. With a cap above the max size, capped output
    equals uncapped exactly (the property the docstring promises)."""
    import datetime as dt

    from sqlondataframesr_spark.operators import affinity as A

    t = dt.datetime(1997, 1, 1)
    rows = [(10, 1), (10, 2), (11, 1), (11, 2)] + [(12, p) for p in range(1, 8)]
    df = spark.createDataFrame(
        [(o, p, 5, 1.0, 10.0, 0.0, "N", t) for o, p in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double,"
        " l_extendedprice double, l_discount double, l_returnflag string,"
        " l_shipdate timestamp",
    )
    with plant_tables(tmp_path, lineitem=df):
        capped = [
            (r.part_a, r.part_b, r.n_orders, r.n_a, r.n_b, r.lift_ppm)
            for r in A.basket_top_pairs_capped(spark, str(tmp_path)).collect()
        ]
        assert capped == [(1, 2, 2, 2, 2, 1_000_000)]
        rep = A.basket_cap_report(spark, str(tmp_path)).collect()[0]
        assert (
            rep.n_baskets,
            rep.max_basket_size,
            rep.size_cap,
            rep.n_baskets_dropped,
            rep.cap_binds,
        ) == (3, 7, A.BASKET_SIZE_CAP, 1, True)
        uncapped = sorted(
            tuple(r) for r in A.basket_top_pairs(spark, str(tmp_path)).collect()
        )
        wide = sorted(
            tuple(r)
            for r in A.basket_top_pairs_capped(
                spark, str(tmp_path), cap=10**9
            ).collect()
        )
        assert wide == uncapped


def test_sessionize_capped_designed_and_wide_cap_identity(spark, tmp_path, plant_tables):
    """Designed events: user 1 has 2 events (one session), user 2 has
    5 (over cap=3). With cap=3 only user 1 is sessionized — profile is
    a single (n_events=2) row. With a cap above every user's count the
    capped profile equals the uncapped one row-for-row."""
    import datetime as dt

    from sqlondataframesr_spark.operators import sessionize as SZ

    t0 = dt.datetime(2024, 5, 1)
    s = dt.timedelta(seconds=30)
    rows = [(i, t0 + i * s, 1, "view", 1.0, "{}") for i in range(2)] + [
        (10 + i, t0 + i * s, 2, "view", 1.0, "{}") for i in range(5)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        prof = SZ.evt_sessionize_profile_capped(
            spark, str(tmp_path), cap=3
        ).collect()
        assert [(r.n_events, r.n_sessions) for r in prof] == [(2, 1)]
        wide = sorted(
            tuple(r)
            for r in SZ.evt_sessionize_profile_capped(
                spark, str(tmp_path), cap=10**9
            ).collect()
        )
        base = sorted(
            tuple(r)
            for r in SZ.evt_sessionize_profile(spark, str(tmp_path)).collect()
        )
        assert wide == base


def test_sessionize_cap_report_real_data(spark, sf_dir):
    """On the synthetic corpus the 80-event cap binds (max per-user
    count is 86..99 at every SF) and the report's drop accounting is
    internally consistent."""
    from sqlondataframesr_spark.operators import sessionize as SZ

    r = SZ.evt_sessionize_cap_report(spark, sf_dir).collect()[0]
    assert r.events_cap == SZ.USER_EVENTS_CAP
    assert r.cap_binds and r.max_user_events > r.events_cap
    assert 0 < r.n_users_dropped < r.n_users
    assert r.n_events_dropped >= r.n_users_dropped * (r.events_cap + 1)


def test_sessionize_cap_adds_zero_exchanges(spark, sf_dir):
    """The per-user count rides the session windows' user_id
    partitioning: the capped profile plan has exactly as many hash
    exchanges as the uncapped one, and no single-task sort."""
    from sqlondataframesr_spark.operators import sessionize as SZ
    from sqlondataframesr_spark.plans.audit import audit

    capped = audit(SZ.evt_sessionize_profile_capped(spark, sf_dir))
    base = audit(SZ.evt_sessionize_profile(spark, sf_dir))
    assert capped.n_exchanges == base.n_exchanges
    assert not capped.has_single_task_sort


def test_scd2_cap_wide_equals_uncapped_and_binds_on_real_data(spark, sf_dir):
    """cdc_scd2_summary_capped (VERDICT r10 item 4): with cap >= max
    per-user count the output is IDENTICAL to the uncapped summary;
    at the shipped cap the report proves the guard binds on this
    corpus and its drop accounting is internally consistent."""
    from sqlondataframesr_spark.operators import scd as SC

    wide = sorted(
        tuple(r)
        for r in SC.cdc_scd2_summary_capped(spark, sf_dir, cap=10**9).collect()
    )
    base = sorted(tuple(r) for r in SC.cdc_scd2_summary(spark, sf_dir).collect())
    assert wide == base
    r = SC.cdc_scd2_cap_report(spark, sf_dir).collect()[0]
    assert r.events_cap == SC.SCD2_USER_EVENTS_CAP
    assert r.cap_binds and r.max_user_events > r.events_cap
    assert 0 < r.n_users_dropped < r.n_users
    assert r.n_events_dropped >= r.n_users_dropped * (r.events_cap + 1)
    # and the shipped cap really excludes something: fewer versions
    capped = {r.event_type: r.n_versions
              for r in SC.cdc_scd2_summary_capped(spark, sf_dir).collect()}
    full = {r.event_type: r.n_versions
            for r in SC.cdc_scd2_summary(spark, sf_dir).collect()}
    assert sum(capped.values()) < sum(full.values())


def test_scd2_cap_adds_zero_exchanges(spark, sf_dir):
    """The per-user count rides the versioning windows' user_id
    partitioning: the capped summary plan has exactly as many hash
    exchanges as the uncapped one, and no single-task sort."""
    from sqlondataframesr_spark.operators import scd as SC
    from sqlondataframesr_spark.plans.audit import audit

    capped = audit(SC.cdc_scd2_summary_capped(spark, sf_dir))
    base = audit(SC.cdc_scd2_summary(spark, sf_dir))
    assert capped.n_exchanges == base.n_exchanges
    assert not capped.has_single_task_sort


def test_attribution_cap_wide_equals_uncapped_and_binds(spark, sf_dir):
    """evt_linear_attribution_capped (VERDICT r10 item 4): cap >= max
    per-user count reproduces the uncapped attribution exactly; the
    shipped cap binds on this corpus (report), and conservation still
    holds on the capped SUB-corpus: attributed cents == purchase cents
    of admitted users."""
    from pyspark.sql import functions as F
    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.operators import journeys as J

    wide = sorted(
        tuple(r)
        for r in J.evt_linear_attribution_capped(
            spark, sf_dir, cap=10**9
        ).collect()
    )
    base = sorted(
        tuple(r) for r in J.evt_linear_attribution(spark, sf_dir).collect()
    )
    assert wide == base
    r = J.evt_attribution_cap_report(spark, sf_dir).collect()[0]
    assert r.events_cap == J.ATTR_USER_EVENTS_CAP
    assert r.cap_binds and 0 < r.n_users_dropped < r.n_users
    out = J.evt_linear_attribution_capped(spark, sf_dir)
    att_total = out.agg(F.sum("att_cents")).collect()[0][0]
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    wu = Window.partitionBy("user_id")
    admitted = (
        ev.withColumn("u_n", F.count(F.lit(1)).over(wu))
        .filter(F.col("u_n") <= J.ATTR_USER_EVENTS_CAP)
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.expr("cast(round(value * 100) as bigint)")))
        .collect()[0][0]
    )
    assert att_total == admitted


def test_yoy_sparse_calendar_yields_null_not_stale(spark, tmp_path, plant_tables):
    """r9 ADVICE: Jan-1995 and Jan-1997 with NO Jan-1996 — the 1997
    row's prev_year_c must be NULL (no same-month-last-year), never
    the stale 1995 value a per-month lag would silently pick up."""
    import datetime as dt

    from sqlondataframesr_spark.operators import journeys as J

    rows = [
        (1, 100, "F", 10.00, dt.datetime(1995, 1, 15), "1-URGENT"),
        (2, 100, "F", 20.00, dt.datetime(1997, 1, 15), "1-URGENT"),
        (3, 100, "F", 30.00, dt.datetime(1997, 2, 15), "1-URGENT"),
        (4, 100, "F", 45.00, dt.datetime(1998, 2, 15), "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    with plant_tables(tmp_path, orders=df):
        got = {
            (r.o_year, r.o_month): (r.revenue_c, r.prev_year_c, r.yoy_ratio_ppm)
            for r in J.orders_yoy_seasonality(spark, str(tmp_path)).collect()
        }
    assert got == {
        (1995, 1): (1000, None, None),
        (1997, 1): (2000, None, None),   # gap year -> NULL, not 1995
        (1997, 2): (3000, None, None),
        (1998, 2): (4500, 3000, 1_500_000),  # contiguous -> exact ratio
    }


def test_triangle_count_keeps_self_loop_only_nation(spark, tmp_path, plant_tables):
    """r9 ADVICE: a nation whose ONLY trade edge is a self-loop
    (domestic-only) must still appear in the output with zero
    triangles — the node set derives from the raw edge list, the
    self-loop filter only shapes the triangle enumeration. Designed
    graph: A-B-C triangle + D trading only with itself."""
    import datetime as dt

    from sqlondataframesr_spark.operators import graph as G

    t = dt.datetime(1997, 1, 1)
    nations = [(k, n, 0, "") for k, n in enumerate(["A", "B", "C", "D"])]
    # customer k and supplier k live in nation k
    custs = [(k, f"c{k}", "", k, "", 0.0, "", "") for k in range(4)]
    supps = [(k, f"s{k}", "", k, "", 0.0, "") for k in range(4)]
    # one order per customer; lineitems pick suppliers to draw edges
    # cust A->supp B, B->C, A->C (triangle A,B,C); cust D->supp D only
    orders = [(o, c, "F", 10.0, t, "") for o, c in [(0, 0), (1, 1), (2, 0), (3, 3)]]
    lines = [
        (0, 1, 10.0, 0.0),  # A -> B
        (1, 2, 10.0, 0.0),  # B -> C
        (2, 2, 10.0, 0.0),  # A -> C
        (3, 3, 10.0, 0.0),  # D -> D (self-loop only)
    ]
    tables = dict(
        nation=spark.createDataFrame(
            nations, "n_nationkey long, n_name string, n_regionkey long,"
            " n_comment string"),
        customer=spark.createDataFrame(
            custs, "c_custkey long, c_name string, c_address string,"
            " c_nationkey long, c_phone string, c_acctbal double,"
            " c_mktsegment string, c_comment string"),
        supplier=spark.createDataFrame(
            supps, "s_suppkey long, s_name string, s_address string,"
            " s_nationkey long, s_phone string, s_acctbal double,"
            " s_comment string"),
        orders=spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string"),
        lineitem=spark.createDataFrame(
            [(o, s, 1, 1.0, p, d, "N", t) for o, s, p, d in lines],
            "l_orderkey long, l_suppkey long, l_partkey long,"
            " l_quantity double, l_extendedprice double, l_discount double,"
            " l_returnflag string, l_shipdate timestamp"),
    )
    with plant_tables(tmp_path, **tables):
        got = {
            r.nation: r.n_triangles
            for r in G.graph_triangle_count(spark, str(tmp_path)).collect()
        }
    assert got == {"A": 1, "B": 1, "C": 1, "D": 0}


def test_cohort_retention_designed_triangle(spark, tmp_path, plant_tables):
    """Designed two-cohort corpus (weeks of 2024-01-01 and 2024-01-08,
    both Mondays): users 1,2 first seen week 0 — user 1 returns week
    1, user 2 does not; user 3 first seen week 1. Offset-0 cells are
    1e6 ppm by construction; cohort A's offset-1 retention is 50%."""
    import datetime as dt

    from sqlondataframesr_spark.operators import growth as G

    w0, w1 = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 10)
    rows = [
        (0, w0, 1, "view", 1.0, "{}"),
        (1, w0, 2, "view", 1.0, "{}"),
        (2, w1, 1, "view", 1.0, "{}"),   # user 1 retained into week 1
        (3, w1, 3, "view", 1.0, "{}"),   # user 3 = week-1 cohort
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        got = [
            (str(r.cohort_week), r.week_offset, r.n_active, r.cohort_size,
             r.retention_ppm)
            for r in G.evt_cohort_retention(spark, str(tmp_path)).collect()
        ]
    assert got == [
        ("2024-01-01", 0, 2, 2, 1_000_000),
        ("2024-01-01", 1, 1, 2, 500_000),
        ("2024-01-08", 0, 1, 1, 1_000_000),
    ]


def test_concurrent_sessions_designed_curve(spark, tmp_path, plant_tables):
    """Three users: u1's session lives inside hour 0; u2 has one
    session in hour 0 and one in hour 5; u3's session SPANS the
    hour-0/hour-1 boundary. At the end of hour 0: 3 started, 2 ended,
    1 open (u3). Hour 1 closes it; hour 5 opens and closes u2's
    second. Open count returns to zero at the end."""
    import datetime as dt

    from sqlondataframesr_spark.operators import sessionize as SZ

    d = dt.datetime
    rows = [
        (0, d(2024, 3, 1, 0, 10), 1, "view", 1.0, "{}"),
        (1, d(2024, 3, 1, 0, 20), 1, "view", 1.0, "{}"),
        (2, d(2024, 3, 1, 0, 50), 2, "view", 1.0, "{}"),
        (3, d(2024, 3, 1, 5, 30), 2, "view", 1.0, "{}"),
        (4, d(2024, 3, 1, 5, 40), 2, "view", 1.0, "{}"),
        (5, d(2024, 3, 1, 0, 55), 3, "view", 1.0, "{}"),
        (6, d(2024, 3, 1, 1, 10), 3, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        got = [
            (r.hr.hour, r.n_started, r.n_ended, r.n_open)
            for r in SZ.evt_concurrent_sessions(spark, str(tmp_path)).collect()
        ]
    assert got == [(0, 3, 2, 1), (1, 0, 1, 0), (5, 1, 1, 0)]


def test_markov_attribution_designed_chain(spark, tmp_path, plant_tables):
    """Designed journeys: user A converts via click only, user B via
    view only, user C views and never converts. Removing 'click' must
    kill exactly A's conversion path and removing 'view' exactly B's;
    the non-converting channel still shows a removal effect only via
    shared transition mass (none here), so both channels split the
    attribution and the probabilities are exact ppm."""
    import datetime as dt

    from sqlondataframesr_spark.operators import journeys as J

    base = dt.datetime(2022, 1, 1)

    def ev(eid, uid, minute, typ):
        return (eid, base + dt.timedelta(minutes=minute), uid, typ, 10.0, "{}")

    rows = [
        ev(1, 1, 0, "click"), ev(2, 1, 1, "purchase"),
        ev(3, 2, 0, "view"), ev(4, 2, 1, "purchase"),
        ev(5, 3, 0, "view"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables(tmp_path, events=df):
        out = {
            r.channel: r
            for r in J.evt_markov_attribution(spark, str(tmp_path)).collect()
        }
    assert set(out) == {"click", "view"}
    # full chain: start->click 1/3 (converts p=1), start->view 2/3
    # (converts p=1/2): p_full = 333333 + 666666*1/2-ish in trunc ppm
    full = out["click"].p_full_ppm
    assert full == out["view"].p_full_ppm
    # removing click leaves only the view path; removing view leaves
    # only the click path — both strictly reduce conversion
    assert out["click"].p_removed_ppm < full
    assert out["view"].p_removed_ppm < full
    # view carries 2x the start mass but converts half as often; its
    # absolute conversion contribution equals click's -> the removal
    # effects (and attributions) are within truncation dust
    assert abs(out["click"].removal_effect_ppm
               - out["view"].removal_effect_ppm) <= 5
    s = out["click"].attribution_ppm + out["view"].attribution_ppm
    assert 999990 <= s <= 1000000


def test_bloom_semijoin_no_false_negatives(spark, sf_dir):
    """The Bloom guarantee: every true match passes the filter —
    n_bloom_pass - n_false_pos == n_true_match — and the pass set
    never shrinks below the exact semi-join."""
    from sqlondataframesr_spark.llm import bloom as B

    row = B.bloom_semijoin_report(spark, sf_dir).collect()[0]
    assert row.n_bloom_pass - row.n_false_pos == row.n_true_match
    assert row.n_bloom_pass >= row.n_true_match
    assert row.n_false_pos >= 0
    assert row.n_dim_keys > 0 and row.n_true_match > 0


def _chain_graph(spark):
    """A 40-node path whose ids fall along the listed edge direction
    (139 -> 138 -> ... -> 100, so the minimum sits at the far end), a
    2-node component {7, 3} and the singletons 1 and 500."""
    path = list(range(139, 99, -1))
    pairs = list(zip(path, path[1:])) + [(7, 3)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in path + [7, 3, 1, 500]], "node bigint"
    )
    return nodes, edges, path


def test_min_label_components_labels_each_component_by_its_min(spark):
    from sqlondataframesr_spark.operators.components import min_label_components

    nodes, edges, path = _chain_graph(spark)
    got = {r.node: r.label for r in min_label_components(nodes, edges).collect()}
    want = {n: min(path) for n in path} | {7: 3, 3: 3, 1: 1, 500: 500}
    assert got == want


def test_min_label_components_unconverged_exit_raises(spark):
    import pytest

    from sqlondataframesr_spark.operators.components import min_label_components

    nodes, edges, _ = _chain_graph(spark)
    with pytest.raises(RuntimeError, match="no fixpoint within 2 rounds"):
        min_label_components(nodes, edges, max_rounds=2)
