"""Skew-stress gate (VERDICT r10 item 2): on a tree with planted hot
keys — a bot user owning ~10% of events, a ~300-line mega-basket, a
16-token phrase shared by 100 documents, one dense embedding cluster —
every cap report must BIND (nonzero capped counts) and the capped
operators must stay oracle-EXACT, because the caps replicate into the
oracles. At 100x scale the caps ARE the plan; this fixture is the
matrix-level evidence the planted-pytest fixtures alone couldn't give.

The full EXACT differential matrix on the same tree is run per-round
by scripts/gen_skewed_testdata.py + driver_sim.py (see that module's
docstring); this file keeps the always-on pytest slice: generation is
numpy-fast, the assertions touch only the cap family.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from sqlondataframesr_spark.check import compare_rows, spark_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    spec = importlib.util.spec_from_file_location(
        "gen_perturbed_testdata",
        os.path.join(ROOT, "scripts", "gen_perturbed_testdata.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path_factory.mktemp("skew") / "sf0.01")
    mod.generate(out, seed=11, skew=True)
    return out



def test_user_event_caps_bind_on_the_bot(spark, skew_dir, oracle_rows):
    """The 80-event user caps (sessionize / SCD2 / attribution) all
    bind on the planted bot (~1000 events), and each report matches
    its oracle on the skew tree."""
    from sqlondataframesr_spark import registry

    q, o = registry.queries(), registry.oracles()
    for name in (
        "evt_sessionize_cap_report",
        "cdc_scd2_cap_report",
        "evt_attribution_cap_report",
    ):
        rows = q[name](spark, skew_dir).collect()
        r = rows[0]
        assert r.cap_binds, name
        assert r.n_users_dropped >= 1, name
        assert r.max_user_events >= 900, name  # the bot
        assert not compare_rows(
            *spark_rows(q[name](spark, skew_dir)), *oracle_rows(skew_dir, o[name])
        ), name


def test_basket_cap_binds_on_the_mega_basket(spark, skew_dir, oracle_rows):
    from sqlondataframesr_spark import registry

    q, o = registry.queries(), registry.oracles()
    r = q["basket_cap_report"](spark, skew_dir).collect()[0]
    assert r.cap_binds and r.n_baskets_dropped >= 1
    assert r.max_basket_size >= 250  # the planted ~300-part basket
    # and the capped operator itself stays oracle-EXACT while binding
    assert not compare_rows(
        *spark_rows(q["basket_top_pairs_capped"](spark, skew_dir)),
        *oracle_rows(skew_dir, o["basket_top_pairs_capped"]),
    )


def test_gram_df_caps_bind_on_the_hot_phrase(spark, skew_dir, oracle_rows):
    from sqlondataframesr_spark import registry

    q, o = registry.queries(), registry.oracles()
    r = q["dedup_substring_cap_report"](spark, skew_dir).collect()[0]
    assert r.cap_binds and r.max_gram_df >= 100  # 100 docs share it
    assert not compare_rows(
        *spark_rows(q["dedup_substring_13gram_capped"](spark, skew_dir)),
        *oracle_rows(skew_dir, o["dedup_substring_13gram_capped"]),
    )
    # the word-3-shingle DF cap binds too (same phrase, 14 shingles)
    assert not compare_rows(
        *spark_rows(q["dedup_ngram_jaccard_capped"](spark, skew_dir)),
        *oracle_rows(skew_dir, o["dedup_ngram_jaccard_capped"]),
    )


def test_capped_user_ops_stay_oracle_exact_while_binding(spark, skew_dir, oracle_rows):
    """The point of cap-replication: with the bot present and the cap
    BINDING, the capped operators still match their oracles exactly."""
    from sqlondataframesr_spark import registry

    q, o = registry.queries(), registry.oracles()
    for name in (
        "evt_sessionize_profile_capped",
        "cdc_scd2_summary_capped",
        "evt_linear_attribution_capped",
    ):
        assert not compare_rows(
            *spark_rows(q[name](spark, skew_dir)), *oracle_rows(skew_dir, o[name])
        ), name


def test_dense_cluster_and_pair_cap(spark, skew_dir):
    """The planted dense cluster dominates the trained clustering
    (max_cluster_size >> corpus/K), and capped_partners with a cap
    below that size actually DROPS members — at 500 rows the
    production CLUSTER_PAIR_CAP of 4096 cannot bind by construction,
    so the binding evidence uses an explicit sub-size cap."""
    from pyspark.sql import functions as F
    from sqlondataframesr_spark.llm import semdedup as SD

    r = SD.semdedup_cap_report(spark, skew_dir).collect()[0]
    corpus = 500
    assert r.max_cluster_size > 2 * (corpus // r.n_clusters)
    assert not r.cap_binds  # 4096 cap cannot bind at 500 rows
    vec = SD.load_vectors(spark, skew_dir)
    cent = SD.kmeans_centroids(vec).select("c_id", "cv", "cn")
    members = SD.assign_lists(vec, cent, "vec_id")
    small_cap = int(r.max_cluster_size) - 10
    kept = SD.capped_partners(members, cap=small_cap)
    n_all = members.count()
    n_kept = kept.count()
    assert n_kept < n_all  # the sub-size cap drops hot-cluster members
    # and no surviving cluster exceeds the explicit cap
    worst = (
        kept.groupBy("list_id").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n")).collect()[0][0]
    )
    assert worst <= small_cap
