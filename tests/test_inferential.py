"""Designed-input and invariant tests for the r10 inferential /
record-linkage operators: SCD2 intervals (operators/scd.py), blocked
ER + item-item CF (operators/er.py), OLS / A/B z-test / MAD spikes
(operators/stats.py), and Kaplan-Meier survival
(operators/survival.py). The cross-engine EXACT check runs in
scripts/driver_sim.py; these pin the *semantics* on hand-computable
inputs."""

from __future__ import annotations

import datetime as dt
import math

EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)
CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
    " c_mktsegment string"
)
ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
NAT_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"


# ---------------------------------------------------------------- SCD2


def test_scd2_designed_runs(spark, tmp_path, plant_tables):
    """User 1 types [A, A, B, A] at minutes 0..3 -> versions A(2 ev,
    closed 2 min), B(1 ev, closed 1 min), A(1 ev, open). User 2 has a
    single open version. Durations in exact microseconds."""
    from sqlondataframesr_spark.operators import scd

    t0 = dt.datetime(2024, 3, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (0, t0 + 0 * m, 1, "A", 1.0, "{}"),
        (1, t0 + 1 * m, 1, "A", 1.0, "{}"),
        (2, t0 + 2 * m, 1, "B", 1.0, "{}"),
        (3, t0 + 3 * m, 1, "A", 1.0, "{}"),
        (4, t0, 2, "B", 1.0, "{}"),
    ]
    with plant_tables(tmp_path, events=spark.createDataFrame(rows, EV_SCHEMA)):
        summary = {
            r.event_type: (r.n_versions, r.n_current, r.total_closed_us, r.max_closed_us)
            for r in scd.cdc_scd2_summary(spark, str(tmp_path)).collect()
        }
        top = scd.cdc_scd2_top_versions(spark, str(tmp_path)).collect()
    min_us = 60_000_000
    # A: closed v1 spans minute 0 -> minute 2 (2 min), open v3
    assert summary["A"] == (2, 1, 2 * min_us, 2 * min_us)
    # B: user 1's closed v2 spans 1 min; user 2's single version is open
    assert summary["B"] == (2, 1, 1 * min_us, 1 * min_us)
    assert [(r.user_id, r.event_type, r.duration_us, r.n_events) for r in top] == [
        (1, "A", 2 * min_us, 2),
        (1, "B", 1 * min_us, 1),
    ]


def test_scd2_real_invariants(spark, sf_dir):
    """Every user has exactly one open version, so sum(n_current) ==
    |distinct users|; versions partition the events, so
    sum over summary of nothing exceeds the event count."""
    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.operators import scd

    rows = scd.cdc_scd2_summary(spark, sf_dir).collect()
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(r.n_current for r in rows) == n_users
    assert all(r.n_versions >= r.n_current for r in rows)


# ------------------------------------------------------------ ER / CF


def test_er_pairs_designed(spark, tmp_path, plant_tables):
    """Names at distance 1 inside one block match; identical names in
    DIFFERENT blocks never pair (blocking is the contract); distance
    3 is filtered."""
    from sqlondataframesr_spark.operators import er

    rows = [
        (1, "Customer#000000001", 1, 0.0, "SEG_A"),
        (2, "Customer#000000002", 1, 0.0, "SEG_A"),  # dist 1 to #1
        (3, "Customer#000000001", 2, 0.0, "SEG_A"),  # other block
        (4, "Customer#000000999", 1, 0.0, "SEG_A"),  # dist 3 to #1
    ]
    with plant_tables(tmp_path, customer=spark.createDataFrame(rows, CUST_SCHEMA)):
        got = [
            (r.custkey_a, r.custkey_b, r.name_distance)
            for r in er.er_customer_pairs(spark, str(tmp_path)).collect()
        ]
    assert got == [(1, 2, 1)]


def test_rec_item_cosine_designed(spark, tmp_path, plant_tables):
    """u1: {a:1, b:2}, u2: {a:2, b:1} -> dot = 1*2 + 2*1 = 4,
    |a|² = 5, |b|² = 5, cosine = 4/5 exactly."""
    from sqlondataframesr_spark.operators import er

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for user, counts in [(1, {"a": 1, "b": 2}), (2, {"a": 2, "b": 1})]:
        for etype, n in counts.items():
            for _ in range(n):
                rows.append((eid, t0, user, etype, 1.0, "{}"))
                eid += 1
    with plant_tables(tmp_path, events=spark.createDataFrame(rows, EV_SCHEMA)):
        got = er.rec_item_cosine(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.item_a, r.item_b, r.dot) == ("a", "b", 4)
    # mirror the engine formula bit-for-bit: sqrt(5)*sqrt(5) != 5.0
    assert r.cosine == 4.0 / (math.sqrt(5.0) * math.sqrt(5.0))


# ---------------------------------------------------------- stats ops


def test_ols_trend_designed(spark, tmp_path, plant_tables):
    """Revenue exactly linear in month (100, 200, 300 dollars in
    months 0, 1, 2) -> slope 100, intercept 100, r² == 1.0."""
    from sqlondataframesr_spark.operators import stats

    cust = spark.createDataFrame([(1, "Customer#1", 7, 0.0, "SEG")], CUST_SCHEMA)
    nat = spark.createDataFrame([(7, "TESTLAND", 0)], NAT_SCHEMA)
    orders = spark.createDataFrame(
        [
            (1, 1, "F", 100.0, dt.datetime(1995, 1, 15), "1-URGENT"),
            (2, 1, "F", 200.0, dt.datetime(1995, 2, 15), "1-URGENT"),
            (3, 1, "F", 300.0, dt.datetime(1995, 3, 15), "1-URGENT"),
        ],
        ORD_SCHEMA,
    )
    with plant_tables(tmp_path, customer=cust, nation=nat, orders=orders):
        rows = stats.ml_ols_trend(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_months == 3
    assert r.slope_dollars_per_month == 100.0
    assert r.intercept_dollars == 100.0
    assert r.r2 == 1.0


def test_ab_ztest_designed(spark, tmp_path, plant_tables):
    """4 control users (even ids) all convert, 4 treatment users (odd
    ids) none convert: p_pool = 1/2, z = -1 / sqrt(0.25 * 0.5)."""
    from sqlondataframesr_spark.operators import stats

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for uid in [2, 4, 6, 8]:  # control: big-ticket purchase
        rows.append((eid, t0, uid, "purchase", 200.0, "{}"))
        eid += 1
    for uid in [1, 3, 5, 7]:  # treatment: cheap purchase only
        rows.append((eid, t0, uid, "purchase", 10.0, "{}"))
        eid += 1
    with plant_tables(tmp_path, events=spark.createDataFrame(rows, EV_SCHEMA)):
        r = stats.ab_conversion_ztest(spark, str(tmp_path)).collect()[0]
    assert (r.n_control, r.conv_control, r.n_treat, r.conv_treat) == (4, 4, 4, 0)
    assert r.conv_control_ppm == 1_000_000
    assert r.conv_treat_ppm == 0
    assert r.lift_ppm == -1_000_000
    expected_z = (0.0 - 1.0) / math.sqrt(0.5 * 0.5 * (1.0 / 4 + 1.0 / 4))
    assert r.z_score == expected_z


def test_ab_ztest_degenerate_rates_yield_null(spark, tmp_path, plant_tables):
    """Pooled rate exactly 1 (everyone converts) -> z is NULL, not an
    ANSI divide-by-zero (the sf0.001 regression that motivated the
    nullif guard)."""
    from sqlondataframesr_spark.operators import stats

    t0 = dt.datetime(2024, 3, 1)
    rows = [(i, t0, i + 1, "purchase", 200.0, "{}") for i in range(4)]
    with plant_tables(tmp_path, events=spark.createDataFrame(rows, EV_SCHEMA)):
        r = stats.ab_conversion_ztest(spark, str(tmp_path)).collect()[0]
    assert r.z_score is None


def test_mad_spikes_designed(spark, tmp_path, plant_tables):
    """Ten flat days at $1 plus one $10 day: median 100c, MAD 0 ->
    only the $10 day deviates by more than 2*MAD."""
    from sqlondataframesr_spark.operators import stats

    t0 = dt.datetime(2024, 3, 1)
    day = dt.timedelta(days=1)
    rows = [(i, t0 + i * day, 1, "purchase", 1.0, "{}") for i in range(10)]
    rows.append((10, t0 + 10 * day, 1, "purchase", 10.0, "{}"))
    rows.append((11, t0, 2, "view", 500.0, "{}"))  # non-purchase: ignored
    with plant_tables(tmp_path, events=spark.createDataFrame(rows, EV_SCHEMA)):
        got = stats.evt_mad_spikes(spark, str(tmp_path)).collect()
    assert [(r.day, r.cents, r.med_cents, r.mad_cents, r.abs_dev) for r in got] == [
        (dt.date(2024, 3, 11), 1000, 100, 0, 900)
    ]


# ------------------------------------------------------------------ KM


def test_km_designed_curve(spark, tmp_path, plant_tables):
    """3 customers, one segment: churn at t=1 (n=3), churn at t=2
    (n=2), one censored far later. S = 666666 then 333333 ppm — the
    exact truncating-integer recurrence."""
    from sqlondataframesr_spark.operators import survival

    cust = spark.createDataFrame(
        [(i, f"Customer#{i}", 1, 0.0, "SEG") for i in (1, 2, 3)], CUST_SCHEMA
    )
    mk = lambda k, c, d: (k, c, "F", 100.0, d, "1-URGENT")  # noqa: E731
    orders = spark.createDataFrame(
        [
            mk(1, 1, dt.datetime(2000, 1, 1)),
            mk(2, 1, dt.datetime(2000, 1, 2)),  # lifetime 1, observed
            mk(3, 2, dt.datetime(2000, 1, 1)),
            mk(4, 2, dt.datetime(2000, 1, 3)),  # lifetime 2, observed
            mk(5, 3, dt.datetime(2000, 1, 1)),
            mk(6, 3, dt.datetime(2001, 6, 1)),  # past horizon: censored
        ],
        ORD_SCHEMA,
    )
    with plant_tables(tmp_path, customer=cust, orders=orders):
        rows = survival.km_survival_curve(spark, str(tmp_path)).collect()
    got = [(r.duration_days, r.n_at_risk, r.d_events, r.survival_ppm) for r in rows]
    assert got == [(1, 3, 1, 666666), (2, 2, 1, 333333)]


def test_km_real_data_monotone(spark, sf_dir):
    """On real data: survival_ppm strictly within [0, 1e6], monotone
    non-increasing per segment, and n_at_risk non-increasing in t."""
    from sqlondataframesr_spark.operators import survival

    rows = survival.km_survival_curve(spark, sf_dir).collect()
    assert rows
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r.segment, []).append(r)
    for seg_rows in by_seg.values():
        assert all(0 <= r.survival_ppm <= 1_000_000 for r in seg_rows)
        for a, b in zip(seg_rows, seg_rows[1:]):
            assert a.duration_days < b.duration_days
            assert a.survival_ppm >= b.survival_ppm
            assert a.n_at_risk > b.n_at_risk


# ----------------------------------------------------------- forensics


def test_trigrams_designed(spark, tmp_path, plant_tables):
    """User chain [a, b, a, b] -> trigrams (a,b,a) and (b,a,b) once
    each; a two-event user contributes nothing."""
    from sqlondataframesr_spark.operators import forensics

    t0 = dt.datetime(2024, 3, 1)
    m = dt.timedelta(minutes=1)
    seq = ["a", "b", "a", "b"]
    rows = [(i, t0 + i * m, 1, seq[i], 1.0, "{}") for i in range(4)]
    rows += [(10, t0, 2, "a", 1.0, "{}"), (11, t0 + m, 2, "b", 1.0, "{}")]
    with plant_tables(tmp_path, events=spark.createDataFrame(rows, EV_SCHEMA)):
        got = [
            (r.t1, r.t2, r.t3, r.n)
            for r in forensics.evt_type_trigrams(spark, str(tmp_path)).collect()
        ]
    assert got == [("a", "b", "a", 1), ("b", "a", "b", 1)]


def test_benford_designed(spark, tmp_path, plant_tables):
    """Prices 100, 200, 200 -> digit 1 once, digit 2 twice, all nine
    digit rows present, chi2 built from the literal Benford constants."""
    from sqlondataframesr_spark.operators import forensics

    orders = spark.createDataFrame(
        [
            (1, 1, "F", 100.0, dt.datetime(1995, 1, 1), "1-URGENT"),
            (2, 1, "F", 200.0, dt.datetime(1995, 1, 1), "1-URGENT"),
            (3, 1, "F", 200.0, dt.datetime(1995, 1, 1), "1-URGENT"),
        ],
        ORD_SCHEMA,
    )
    with plant_tables(tmp_path, orders=orders):
        rows = forensics.dq_benford_digits(spark, str(tmp_path)).collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    by_digit = {r.digit: r for r in rows}
    assert by_digit[1].n_obs == 1
    assert by_digit[2].n_obs == 2
    assert all(r.n_obs == 0 for r in rows if r.digit > 2)
    assert all(r.n_total == 3 for r in rows)
    p1 = math.log10(1 + 1 / 1)
    exp1 = 3.0 * p1
    assert by_digit[1].exp_n == exp1
    assert by_digit[1].chi2 == ((1.0 - exp1) * (1.0 - exp1)) / exp1


def test_benford_chi2_nonnegative_real(spark, sf_dir):
    from sqlondataframesr_spark.operators import forensics

    rows = forensics.dq_benford_digits(spark, sf_dir).collect()
    assert len(rows) == 9
    assert all(r.chi2 >= 0.0 for r in rows)
    assert sum(r.n_obs for r in rows) == rows[0].n_total


def test_cusum_designed_shift(spark, tmp_path, plant_tables):
    """Five days at $1 then five at $2: median is the lower median
    (100c), so cusum_pos stays 0 through the flat prefix and ramps
    100c/day after the level shift."""
    from sqlondataframesr_spark.operators import stats

    t0 = dt.datetime(2024, 3, 1)
    day = dt.timedelta(days=1)
    rows = [(i, t0 + i * day, 1, "purchase", 1.0, "{}") for i in range(5)]
    rows += [(5 + i, t0 + (5 + i) * day, 1, "purchase", 2.0, "{}") for i in range(5)]
    with plant_tables(tmp_path, events=spark.createDataFrame(rows, EV_SCHEMA)):
        got = [
            (r.cents, r.cusum_pos)
            for r in stats.evt_cusum_shifts(spark, str(tmp_path)).collect()
        ]
    assert got == [(100, 0)] * 5 + [(200, 100 * (i + 1)) for i in range(5)]


def test_discount_corr_designed(spark, tmp_path, plant_tables):
    """One brand with quantity exactly linear in discount -> corr is
    num / (sqrt(dx) * sqrt(dy)) of the exact integer sums (== 1 up to
    the mirrored IEEE expression); a constant-discount brand has a
    zero denominator -> NULL, not a crash."""
    from sqlondataframesr_spark.operators import stats

    part = spark.createDataFrame(
        [(1, "p1", "BRAND_LIN", "T", 1, 1.0), (2, "p2", "BRAND_FLAT", "T", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    li_schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp"
    )
    t = dt.datetime(1995, 1, 1)
    rows = [
        # brand LIN: (x bps, y qty) = (1,10), (2,20), (3,30)
        (1, 1, 1, 1, 10.0, 1.0, 0.01, 0.0, "N", "O", t),
        (2, 1, 1, 1, 20.0, 1.0, 0.02, 0.0, "N", "O", t),
        (3, 1, 1, 1, 30.0, 1.0, 0.03, 0.0, "N", "O", t),
        # brand FLAT: constant discount -> dx = 0 -> corr NULL
        (4, 2, 1, 1, 10.0, 1.0, 0.05, 0.0, "N", "O", t),
        (5, 2, 1, 1, 20.0, 1.0, 0.05, 0.0, "N", "O", t),
    ]
    with plant_tables(tmp_path, part=part, lineitem=spark.createDataFrame(rows, li_schema)):
        got = {r.p_brand: r for r in stats.ml_discount_qty_corr(spark, str(tmp_path)).collect()}
    # LIN sums: n=3 sx=6 sy=60 sxy=140 sxx=14 syy=1400
    num = 3 * 140 - 6 * 60
    dx, dy = 3 * 14 - 36, 3 * 1400 - 3600
    assert got["BRAND_LIN"].corr == num / (math.sqrt(float(dx)) * math.sqrt(float(dy)))
    assert got["BRAND_FLAT"].corr is None


def test_er_entity_clusters_designed(spark, tmp_path, plant_tables):
    """Chain 1-2 (dist 1) and 2-3 (dist 1) with 1-3 at dist 2: one
    entity {1,2,3} labeled by min key; an unmatched customer stays a
    singleton; blocking still separates identical names."""
    from sqlondataframesr_spark.operators import er

    rows = [
        (1, "Customer#000000001", 1, 0.0, "SEG_A"),
        (2, "Customer#000000002", 1, 0.0, "SEG_A"),
        (3, "Customer#000000003", 1, 0.0, "SEG_A"),
        (4, "Customer#000000999", 1, 0.0, "SEG_A"),  # distance 3+ to all
        (5, "Customer#000000001", 2, 0.0, "SEG_A"),  # other block
    ]
    with plant_tables(tmp_path, customer=spark.createDataFrame(rows, CUST_SCHEMA)):
        got = {
            r.custkey: (r.entity_id, r.entity_size)
            for r in er.er_entity_clusters(spark, str(tmp_path)).collect()
        }
    assert got == {
        1: (1, 3),
        2: (1, 3),
        3: (1, 3),
        4: (4, 1),
        5: (5, 1),
    }


# ----------------------------------------------------------- timeseries


def test_twap_designed(spark, tmp_path, plant_tables):
    """One day, two observations: $1 at 00:00 held for 6h, $3 at 06:00
    held to midnight (18h): twap = (100*6 + 300*18)/24 = 250 cents —
    far from the unweighted mean of 200."""
    from sqlondataframesr_spark.operators import timeseries

    d0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (1, d0, 1, "purchase", 1.0, "{}"),
        (2, d0 + dt.timedelta(hours=6), 1, "purchase", 3.0, "{}"),
        (3, d0, 1, "view", 99.0, "{}"),  # non-purchase: ignored
    ]
    with plant_tables(tmp_path, events=spark.createDataFrame(rows, EV_SCHEMA)):
        got = timeseries.evt_time_weighted_avg(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    h_ms = 3_600_000
    assert r.n_events == 2
    assert r.weighted_ms == 100 * 6 * h_ms + 300 * 18 * h_ms
    assert r.twap_cents == 250


def test_ohlc_designed(spark, tmp_path, plant_tables):
    """One hour with values 2, 9, 1, 5 in time order -> open 200,
    high 900, low 100, close 500; a same-timestamp tie at the close
    breaks on event_id."""
    from sqlondataframesr_spark.operators import timeseries

    h0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, h0 + 0 * m, 1, "purchase", 2.0, "{}"),
        (2, h0 + 1 * m, 1, "purchase", 9.0, "{}"),
        (3, h0 + 2 * m, 1, "purchase", 1.0, "{}"),
        (4, h0 + 3 * m, 1, "purchase", 7.0, "{}"),
        (5, h0 + 3 * m, 1, "purchase", 5.0, "{}"),  # same ts: id 5 > 4 wins close
    ]
    with plant_tables(tmp_path, events=spark.createDataFrame(rows, EV_SCHEMA)):
        got = timeseries.evt_ohlc_hourly(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.open_cents, r.high_cents, r.low_cents, r.close_cents, r.n_events) == (
        200, 900, 100, 500, 5
    )


# ---------------------------------------------- KS / MWU / chi-square


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime.fromisoformat(ts), uid, et, v, "{}")
            for i, (ts, uid, et, v) in enumerate(rows)
        ],
        EV_SCHEMA,
    )


def test_ks_identical_distributions_is_zero(spark, tmp_path, plant_tables):
    """Same purchase values on a weekday (Mon 2024-01-01) and a
    weekend (Sat 2024-01-06): every cum difference cancels -> D = 0."""
    from sqlondataframesr_spark.operators import stats

    rows = []
    for v in (10.0, 20.0, 30.0):
        rows.append(("2024-01-01 10:00:00", 1, "purchase", v))
        rows.append(("2024-01-06 10:00:00", 2, "purchase", v))
    with plant_tables(tmp_path, events=_mk_events(spark, rows)):
        r = stats.dq_ks_statistic(spark, str(tmp_path)).collect()[0]
        assert (r.n_a, r.n_b) == (3, 3)
        assert r.d_num == 0
        assert r.ks_ppm == 0 or r.ks_ppm is None  # 9 div 1e6 = 0 -> NULL


def test_ks_disjoint_distributions_is_full(spark, tmp_path, plant_tables):
    """All weekday values strictly below all weekend values: at the
    crossover D = 1, so d_num = nA*nB exactly."""
    from sqlondataframesr_spark.operators import stats

    rows = [("2024-01-01 10:00:00", 1, "purchase", float(v)) for v in (1, 2, 3)]
    rows += [("2024-01-06 10:00:00", 2, "purchase", float(v)) for v in (9, 10)]
    with plant_tables(tmp_path, events=_mk_events(spark, rows)):
        r = stats.dq_ks_statistic(spark, str(tmp_path)).collect()[0]
        assert (r.n_a, r.n_b, r.n_points) == (3, 2, 5)
        assert r.d_num == 3 * 2


def test_mwu_conservation_and_designed_auc(spark, tmp_path, plant_tables):
    """u2_a + u2_b == 2*nA*nB always; with every weekday value below
    every weekend value, U_A = 0 (A never wins)."""
    from sqlondataframesr_spark.operators import stats

    rows = [("2024-01-01 10:00:00", 1, "purchase", float(v)) for v in (1, 2)]
    rows += [("2024-01-06 10:00:00", 2, "purchase", float(v)) for v in (8, 9)]
    with plant_tables(tmp_path, events=_mk_events(spark, rows)):
        r = stats.ab_mannwhitney_auc(spark, str(tmp_path)).collect()[0]
        assert r.u2_a + r.u2_b == 2 * r.n_a * r.n_b
        assert r.u2_a == 0  # A strictly smaller everywhere
        assert r.u2_b == 2 * r.n_a * r.n_b


def test_mwu_real_data_invariants(spark, sf_dir):
    from sqlondataframesr_spark.operators import stats

    r = stats.ab_mannwhitney_auc(spark, sf_dir).collect()[0]
    assert r.u2_a + r.u2_b == 2 * r.n_a * r.n_b
    assert 0 <= r.u2_a <= 2 * r.n_a * r.n_b
    if r.auc_ppm is not None:
        assert 0 <= r.auc_ppm <= 1_100_000


def test_chisq_perfect_independence_is_zero(spark, tmp_path, plant_tables):
    """A contingency table with identical type mix on every day:
    every observed == expected -> all chi_milli = 0."""
    from sqlondataframesr_spark.operators import stats

    rows = []
    # Mon + Tue, same 2:1 click/purchase mix each day
    for day in ("2024-01-01", "2024-01-02"):
        rows.append((f"{day} 09:00:00", 1, "click", 1.0))
        rows.append((f"{day} 10:00:00", 1, "click", 1.0))
        rows.append((f"{day} 11:00:00", 2, "purchase", 5.0))
    with plant_tables(tmp_path, events=_mk_events(spark, rows)):
        out = stats.evt_chisq_type_weekday(spark, str(tmp_path)).collect()
        assert len(out) == 4  # 2 types x 2 days
        for r in out:
            assert r.o == r.e
            assert r.chi_milli == 0


def test_chisq_real_data_marginals(spark, sf_dir):
    """Cells partition the corpus: sum(o) == |events|; every expected
    e is the floor product of its marginals; chi_milli >= 0."""
    from pyspark.sql import functions as F

    from sqlondataframesr_spark.operators import stats

    out = stats.evt_chisq_type_weekday(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.o for r in out) == total
    for r in out:
        assert r.chi_milli is None or r.chi_milli >= 0


def test_theilsen_designed_robustness(spark, tmp_path, plant_tables):
    """A perfectly linear monthly series gives exactly the line's
    slope in micro-dollars; corrupting ONE month leaves the Theil-Sen
    median unchanged (the robustness OLS lacks)."""
    from sqlondataframesr_spark.operators import stats

    def mk(outlier):
        orders, oid = [], 0
        for m in range(8):  # months Jan..Aug 1995 -> x = 0..7
            y = 1000 + 50 * m
            if outlier and m == 3:
                y = 90000  # one corrupted month
            orders.append(
                (oid, 1, "F", float(y), dt.datetime(1995, m + 1, 15), "1-URGENT")
            )
            oid += 1
        o = spark.createDataFrame(orders, ORD_SCHEMA)
        c = spark.createDataFrame([(1, "c1", 7, 0.0, "BUILDING")], CUST_SCHEMA)
        n = spark.createDataFrame([(7, "GERMANY", 3)], NAT_SCHEMA)
        return o, c, n

    for outlier in (False, True):
        o, c, n = mk(outlier)
        with plant_tables(tmp_path, orders=o, customer=c, nation=n):
            r = stats.ml_theilsen_trend(spark, str(tmp_path)).collect()
            assert len(r) == 1
            assert r[0].n_months == 8
            assert r[0].n_pairs == 8 * 7 // 2
            assert r[0].theil_slope_micro == 50_000_000, (outlier, r)
