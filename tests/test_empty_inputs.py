"""Empty-input robustness: every flagship operator must return an
EMPTY (or degenerate-report) result on empty tables, never crash.

A production engine meets empty partitions constantly — a new tenant,
a filtered-to-nothing date range, a fresh incremental batch. The
fixtures can't exercise this (the driver's tables are never empty), so
this battery seeds the loader's table cache with zero-row frames of
the real schemas and runs a representative operator from every family. The
TOTAL-expression discipline (IF-guarded generators, nullif'd
divisions, None-guarded driver-side collects) is what makes these
pass."""

from __future__ import annotations

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: representative op per family (all read only documents/embeddings/events)
BATTERY = [
    "lm_bigram_logprob",
    "lm_perplexity_tercile_gate",
    "nb_lang_confusion",
    "corpus_ngram_diversity",
    "corpus_zipf_slope",
    "corpus_source_overlap",
    "evt_hypertable_rollup",
    "text_unigram_logprob",
    "text_token_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "decontam_scrub_spans",
    "ann_cosine_topk",
    "sample_hash_split",
    "bm25_topk",
    "semdedup",
    "kmeans_train",
    "bpe_learn_merges",
    "graph_nation_pagerank",   # r9 sweep regression: n=0 division
    "evt_asof_attribution",
    "q20_regional_revenue",
    # r10 inferential/linkage family
    "cdc_scd2_summary",
    "cdc_scd2_incremental",
    "er_entity_clusters",
    "ab_conversion_ztest",
    "evt_mad_spikes",
    "evt_cusum_shifts",
    "km_survival_curve",
    "dq_benford_digits",
    # r10 sketch/attribution family
    "ml_theilsen_trend",
    "evt_value_percentiles_exact",
    "orders_seasonal_naive_mase",
    "dq_ks_statistic",
    "ab_mannwhitney_auc",
    "evt_chisq_type_weekday",
    "sketch_kmv_distinct",
    "sketch_kmv_merge_check",
    "sketch_cms_freq_report",
    "evt_daily_acf",
    "evt_linear_attribution",
    "evt_cms_daily_cells",
    "evt_cms_user_merge_report",
]


EMPTY_SF = "_empty_fixture"


@pytest.fixture()
def empty_loader(spark, plant_tables):
    """Serve zero-row frames for the EMPTY_SF pseudo-dir through the
    loader's table cache (``plant_tables``) instead of monkeypatching
    every module's imported load_table binding (which is leak-prone
    across modules imported mid-battery)."""
    spec = importlib.util.spec_from_file_location(
        "empty_sweep", os.path.join(ROOT, "scripts", "empty_sweep.py")
    )
    empty_sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(empty_sweep)
    with plant_tables(EMPTY_SF, **empty_sweep.empty_tables(spark)):
        yield


@pytest.mark.parametrize("name", BATTERY)
def test_operator_survives_empty_tables(spark, empty_loader, name):
    from sqlondataframesr_spark import registry

    rows = registry.queries()[name](spark, EMPTY_SF).collect()
    # zipf is a 1-row REPORT (n_terms=0, NULL fit) — everything else empty
    if name == "corpus_zipf_slope":
        assert len(rows) == 1 and rows[0]["n_terms"] == 0
    else:
        assert rows == [] or all(r is not None for r in rows)
