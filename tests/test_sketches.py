"""Sketch-family tests: KMV distinct counting, the KMV merge law,
count-min overcount guarantee, ACF integer contract, and linear
attribution's cents-conservation invariant — on designed fixtures
(exact expected values) and on the real sf0.001 tables (invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlondataframesr_spark.operators import journeys, sketches, timeseries


# ---------------------------------------------------------------- KMV


def test_kmv_small_source_is_exact(spark, plant_tables):
    """A source with fewer than K distinct texts: the sketch holds the
    whole distinct set, so the estimate IS the exact count and err=0."""
    rows = [(i, f"text-{i % 10}", "en", "tiny", 7) for i in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with plant_tables("_kmv_tiny", documents=df):
        out = sketches.sketch_kmv_distinct(spark, "_kmv_tiny").collect()
    assert len(out) == 1
    r = out[0]
    assert r.exact_distinct == 10
    assert r.n_sk == 10
    assert r.kmv_estimate == 10
    assert r.err_ppm == 0


def test_kmv_estimate_reasonable_on_real_corpus(spark, sf_dir):
    """Full sketches (n_sk == K) must estimate within ~3/sqrt(K) of
    exact — KMV's standard-error bound with generous slack. Also pins
    n_sk <= K and h_k strictly increasing with rank... i.e. positive."""
    out = sketches.sketch_kmv_distinct(spark, sf_dir).collect()
    assert out, "sf0.001 has sources"
    for r in out:
        assert 0 < r.n_sk <= sketches.KMV_K
        if r.n_sk < sketches.KMV_K:
            assert r.kmv_estimate == r.exact_distinct
        else:
            # 3 standard errors at K=64 is ~37.5%
            assert abs(r.err_ppm) < 400_000, r


def test_kmv_merge_equals_direct(spark, sf_dir):
    """The merge law on real data: per-lang K-min sets merged and
    re-minned give bit-identical (n_sk, h_k, estimate) to the direct
    global sketch."""
    rows = sketches.sketch_kmv_merge_check(spark, sf_dir).collect()
    assert [r.method for r in rows] == ["direct", "merged"]
    d, m = rows
    assert (d.n_sk, d.h_k, d.kmv_estimate) == (m.n_sk, m.h_k, m.kmv_estimate)


def test_kmv_two_phase_minset_equals_plain_window(spark):
    """The 256-cell two-phase min-K extraction is EXACTLY the one-pass
    per-group K smallest (the correctness of the hot-group spread)."""
    import random

    rng = random.Random(11)
    rows = [(rng.randrange(3), rng.randrange(1 << 40)) for _ in range(5000)]
    df = spark.createDataFrame(rows, "g int, h long").dropDuplicates()
    got = {
        (r.g, r.h)
        for r in sketches._kmv_minset(df, ["g"]).collect()
    }
    want = set()
    by_g: dict[int, list[int]] = {}
    for g, h in {(r.g, r.h) for r in df.collect()}:
        by_g.setdefault(g, []).append(h)
    for g, hs in by_g.items():
        for h in sorted(hs)[: sketches.KMV_K]:
            want.add((g, h))
    assert got == want


# ---------------------------------------------------------------- CMS


def test_cms_never_underestimates(spark, sf_dir):
    """The count-min guarantee: cms_cnt >= exact_cnt for every probed
    term, and the report is exactly the top-CMS_TOP terms by rank."""
    rows = sketches.sketch_cms_freq_report(spark, sf_dir).collect()
    assert len(rows) == sketches.CMS_TOP
    assert [r.rnk for r in rows] == list(range(1, sketches.CMS_TOP + 1))
    for r in rows:
        assert r.overcount >= 0, r
        assert r.cms_cnt == r.exact_cnt + r.overcount


def test_cms_exact_on_tiny_vocab(spark, plant_tables):
    """With a vocabulary far below WIDTH, collisions are unlikely; on
    this designed 3-term corpus the sketch is exact."""
    rows = [(1, "a a b", "en", "s", 5), (2, "b c", "en", "s", 3)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with plant_tables("_cms_tiny", documents=df):
        out = {
            r.term: (r.exact_cnt, r.cms_cnt)
            for r in sketches.sketch_cms_freq_report(spark, "_cms_tiny").collect()
        }
    assert out == {"a": (2, 2), "b": (2, 2), "c": (1, 1)}


def test_cms_probe_broadcasts_the_sketch(spark, sf_dir):
    """Plan pin: the probe join must broadcast the <=4096-cell sketch,
    never shuffle the token stream against it."""
    plan = sketches.sketch_cms_freq_report(spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------- ACF


def test_acf_constant_series_with_linear_ramp(spark, plant_tables):
    """Designed series: a pure linear ramp has strongly positive lag-1
    autocorrelation under the integer contract; verify the exact
    closed-form numbers for a tiny hand-computable series."""
    # days 1..8, one purchase per day of i*10000 dollars -> daily
    # cents x_i = i * 1e6 (big enough that den div 1e6 is non-zero)
    rows = [
        (i, f"2024-01-0{i} 00:00:00", 1, "purchase", i * 10000.0, "{}")
        for i in range(1, 9)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with plant_tables("_acf_ramp", events=df):
        out = {r.lag: r for r in timeseries.evt_daily_acf(spark, "_acf_ramp").collect()}
    assert set(out) == set(range(1, timeseries.ACF_LAGS + 1))

    def tdiv(a: int, b: int) -> int:  # truncation toward zero (SQL div)
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    x = [i * 1_000_000 for i in range(1, 9)]
    m = tdiv(sum(x), len(x))
    r = [v - m for v in x]
    den = sum(v * v for v in r)
    assert den // 1_000_000 > 0
    for k in (1, 2, 3):
        num = sum(r[i] * r[i + k] for i in range(8 - k))
        assert out[k].n_pairs == 8 - k
        assert out[k].num == num
        assert out[k].acf_ppm == tdiv(num, den // 1_000_000)
    assert out[1].acf_ppm == 625_000  # the hand-computed lag-1 value


def test_acf_real_data_bounds(spark, sf_dir):
    """On the real series: |acf_ppm| <= ~1e6 (Cauchy-Schwarz, plus
    quantization slack) and n_pairs = n - lag for a contiguous span."""
    rows = timeseries.evt_daily_acf(spark, sf_dir).collect()
    assert len(rows) == timeseries.ACF_LAGS
    n0 = rows[0].n_pairs
    for i, r in enumerate(rows):
        assert r.n_pairs == n0 - i
        if r.acf_ppm is not None:
            assert abs(r.acf_ppm) <= 1_100_000


# -------------------------------------------------------- attribution


def test_linear_attribution_conserves_cents(spark, sf_dir):
    """Conservation: total attributed cents == total purchase cents —
    the truncation remainder routing makes this exact, never off-by-n."""
    out = journeys.evt_linear_attribution(spark, sf_dir)
    total_att = out.agg(F.sum("att_cents")).collect()[0][0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    total_p = (
        ev.filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.expr("cast(round(value * 100) as bigint)")))
        .collect()[0][0]
    )
    assert total_att == total_p


def test_linear_attribution_designed(spark, plant_tables):
    """Hand-checked: one purchase of 100 cents with 3 clicks in-window
    -> 33/33/34 (remainder to the last touch); one purchase with no
    clicks -> direct."""
    rows = [
        (1, "2024-01-02 10:00:00", 1, "click", 0.0, "{}"),
        (2, "2024-01-02 11:00:00", 1, "click", 0.0, "{}"),
        (3, "2024-01-02 12:00:00", 1, "click", 0.0, "{}"),
        (4, "2024-01-02 13:00:00", 1, "purchase", 1.0, "{}"),
        (5, "2024-01-05 13:00:00", 2, "purchase", 2.0, "{}"),
        # out-of-window click (>24h before) must not attract cents
        (6, "2024-01-01 00:00:00", 1, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with plant_tables("_attr_tiny", events=df):
        out = {
            (str(r.day), r.channel): (r.att_cents, r.n_touches)
            for r in journeys.evt_linear_attribution(spark, "_attr_tiny").collect()
        }
    assert out == {
        ("2024-01-02", "click"): (100, 3),
        ("2024-01-05", "direct"): (200, 1),
    }


# -------------------------------------- exact percentiles & MASE


def test_percentiles_designed(spark, plant_tables):
    """100 purchase cents values 1..100: lower-quantile definition
    gives exactly P50=50, P90=90, P99=99."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1, 10, 0, 0), 1, "purchase", i / 100.0, "{}")
        for i in range(1, 101)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    with plant_tables("_pct_tiny", events=df):
        from sqlondataframesr_spark.operators import concentration

        out = concentration.evt_value_percentiles_exact(spark, "_pct_tiny").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n, r.p50_cents, r.p90_cents, r.p99_cents) == (100, 50, 90, 99)


def test_percentiles_match_sorted_definition(spark, sf_dir):
    """The histogram read-off equals the brute sorted-list lower
    quantile for every event type on real data."""
    from sqlondataframesr_spark.operators import concentration

    out = {
        r.event_type: r
        for r in concentration.evt_value_percentiles_exact(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type", "cast(round(value * 100) as bigint) as cents"
    )
    by_type: dict[str, list[int]] = {}
    for r in ev.collect():
        by_type.setdefault(r.event_type, []).append(r.cents)
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        for q, field in ((50, "p50_cents"), (90, "p90_cents"), (99, "p99_cents")):
            # smallest value at rank ceil(q*n/100)
            want = vals[(q * n + 99) // 100 - 1]
            assert getattr(out[et], field) == want, (et, q)


def test_mase_real_data_consistency(spark, sf_dir):
    """n_eval = months - 12 on the contiguous grid; mase_ppm is the
    truncating ratio of the two error sums."""
    from sqlondataframesr_spark.operators import timeseries

    r = timeseries.orders_seasonal_naive_mase(spark, sf_dir).collect()[0]
    assert r.n_eval > 0
    assert r.sae_c >= 0 and r.sane_c > 0
    assert r.mase_ppm == r.sae_c // (r.sane_c // 1_000_000)


def test_cms_join_size_never_underestimates(spark, sf_dir):
    """The inner-product read inherits the count-min guarantee: the
    estimated join size is >= the exact Σ f_a(u)·f_b(u)."""
    row = sketches.sketch_cms_join_size(spark, sf_dir).collect()[0]
    assert row.overcount >= 0
    assert row.cms_join_size == row.exact_join_size + row.overcount
    assert row.exact_join_size > 0  # fixture has click+purchase users


def test_cms_join_size_exact_on_tiny_corpus(spark, plant_tables):
    """On a 3-user corpus with a sparse sketch the estimate is exact:
    user1 has 2 clicks x 1 purchase, user2 1x1, user3 purchase-only
    -> join size 3."""
    import datetime as dt

    base = dt.datetime(2020, 1, 1)
    ev = [
        (1, base, 1, "click", 1.0, "{}"),
        (2, base, 1, "click", 1.0, "{}"),
        (3, base, 1, "purchase", 1.0, "{}"),
        (4, base, 2, "click", 1.0, "{}"),
        (5, base, 2, "purchase", 1.0, "{}"),
        (6, base, 3, "purchase", 1.0, "{}"),
        (7, base, 4, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with plant_tables("_cmsjs_tiny", events=df):
        row = sketches.sketch_cms_join_size(spark, "_cmsjs_tiny").collect()[0]
    assert row.exact_join_size == 3
    assert row.cms_join_size == 3
    assert row.overcount == 0


def test_cms_depth_follows_the_one_geometry(monkeypatch):
    """Every CMS oracle and Spark-SQL dual renders its depth axis from
    ``sketches.CMS_DEPTH`` (the fluent plans read it through
    ``cms_depth_axis``), so a geometry change moves all of them."""
    import re

    from sqlondataframesr_spark import registry

    monkeypatch.setattr(sketches, "CMS_DEPTH", 5)
    oracles, duals = registry.oracles(), registry.spark_sql()
    names = sorted(n for n in registry.queries() if "_cms_" in n)
    assert len(names) == 4
    for name in names:
        assert set(re.findall(r"\[0[\d, ]*\]", oracles[name])) == {"[0, 1, 2, 3, 4]"}, name
        assert set(re.findall(r"array\(0[\d, ]*\)", duals[name])) == {"array(0, 1, 2, 3, 4)"}, name
    axis = str(sketches.cms_depth_axis())
    assert all(str(i) in axis for i in range(5))
