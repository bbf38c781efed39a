"""Physical-plan hygiene tests — the 100 TB posture, checked.

Correct results are necessary, not sufficient: at scale the *plan*
decides feasibility. These tests pin the properties that keep the
reference queries scalable — predicate pushdown into the parquet scan,
column pruning, fused top-k, no accidental cartesian products — so a
refactor that silently produces a read-everything plan fails CI.
"""

from __future__ import annotations

import pytest

from sqlondataframesr_spark import registry
from sqlondataframesr_spark.plans.audit import audit

REF = [
    "q1_yearly_top_order",
    "q2_top_customers_by_spend",
    "q3_top_orders_by_big_items",
    "q4_price_spread",
    "q5_user_event_totals",
    "q6_distinct_suppliers_of_qualifying_brands",
]


def _audit(spark, sf_dir, name: str):
    return audit(registry.queries()[name](spark, sf_dir))


def _plan(spark, sf_dir, name: str) -> str:
    return _audit(spark, sf_dir, name).text


@pytest.mark.parametrize("name", REF)
def test_no_cartesian_product(spark, sf_dir, name):
    assert not _audit(spark, sf_dir, name).has_cartesian


@pytest.mark.parametrize(
    ("name", "pushed"),
    [
        ("q1_yearly_top_order", "EqualTo(l_returnflag"),
        ("q3_top_orders_by_big_items", "GreaterThan(l_quantity"),
        ("q5_user_event_totals", "GreaterThan(value"),
        ("q6_distinct_suppliers_of_qualifying_brands", "LessThan(p_size"),
    ],
)
def test_filters_reach_the_scan(spark, sf_dir, name, pushed):
    """The WHERE clause must appear in PushedFilters — evaluated by the
    parquet reader against row-group stats, not post-scan."""
    assert pushed in _plan(spark, sf_dir, name)


def test_column_pruning_q3(spark, sf_dir):
    """q3 touches 2 of lineitem's 16 columns; the scan must read
    exactly those (a full-width scan is ~8x the IO at any scale)."""
    a = _audit(spark, sf_dir, "q3_top_orders_by_big_items")
    li_schemas = [s for s in a.read_schemas if "l_" in s]
    assert li_schemas and all(
        set(s.split(",")) <= {"l_orderkey:bigint", "l_quantity:double"}
        for s in li_schemas
    )


def test_topk_is_fused_q3(spark, sf_dir):
    """ORDER BY .. LIMIT k must lower to TakeOrderedAndProject (per-
    partition top-k then merge), never a full global sort."""
    assert _audit(spark, sf_dir, "q3_top_orders_by_big_items").has_fused_topk


@pytest.mark.parametrize("name", REF)
def test_headline_queries_run_inside_codegen(spark, sf_dir, name):
    """Every headline query's hot path must run inside whole-stage
    codegen. Asserted on the AQE FINAL plan (execute=True) — the
    pre-execution estimate carries no codegen ids at all, which is an
    artifact of when codegen happens, not a plan property (VERDICT r7
    item 6)."""
    import re

    from sqlondataframesr_spark.plans.audit import explain_formatted

    plan = explain_formatted(registry.queries()[name](spark, sf_dir), execute=True)
    spans = set(re.findall(r"codegen id : (\d+)", plan))
    assert len(spans) >= 1, f"{name}: no WholeStageCodegen span in final plan"


def test_ann_bruteforce_broadcasts_queries(spark, sf_dir):
    """The scan side must stream against the broadcast query set; a
    shuffle-based join here would move the full corpus."""
    assert "BroadcastNestedLoopJoin" in _audit(spark, sf_dir, "ann_cosine_topk").join_strategies


def test_dedup_exact_single_shuffle(spark, sf_dir):
    """Exact dedup is one hash-aggregate: exactly one exchange (plus
    any AQE-inserted reads), keyed on the text hash."""
    assert _audit(spark, sf_dir, "dedup_exact").n_exchanges == 1


def test_hash_split_is_map_only(spark, sf_dir):
    """Deterministic split must be a pure map: zero exchanges — at
    100 TB any shuffle here would be moving the whole corpus to
    assign a per-row label."""
    assert _audit(spark, sf_dir, "sample_hash_split").n_exchanges == 0


def test_q18_topk_fused_no_global_sort(spark, sf_dir):
    a = _audit(spark, sf_dir, "q18_large_orders")
    assert a.has_fused_topk
    assert not a.has_cartesian


def test_decontam_broadcasts_eval_shingles(spark, sf_dir):
    """The corpus side must never shuffle its shingles: the (small)
    eval-set shingle dictionary is broadcast to the scan."""
    assert "BroadcastHashJoin" in _audit(spark, sf_dir, "decontam_overlap").join_strategies


def test_scrub_eval_grams_are_broadcast_no_corpus_shuffle(spark, sf_dir):
    """Span scrubbing must probe the corpus' positional grams against a
    BROADCAST eval-gram set (same contract as decontam_overlap) — the
    only shuffle is the per-doc hit-list groupBy."""
    a = _audit(spark, sf_dir, "decontam_scrub_spans")
    assert "BroadcastHashJoin" in a.join_strategies
    assert not a.has_cartesian


def test_range_join_is_equijoin_not_nested_loop(spark, sf_dir):
    """Bin-and-replicate must lower the interval condition to a hash-
    partitioned equi-join; BroadcastNestedLoopJoin/CartesianProduct here
    means the rewrite regressed to a quadratic plan."""
    a = _audit(spark, sf_dir, "evt_pairs_in_window")
    assert not a.has_cartesian
    assert "BroadcastNestedLoopJoin" not in a.join_strategies
    assert any(
        s in a.join_strategies for s in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_q20_pushes_date_filter_and_broadcasts_dims(spark, sf_dir):
    """The 6-table join must read orders pre-filtered at the scan and
    join nation/region as broadcasts — no shuffle for dimensions whose
    size is schema-bounded."""
    a = _audit(spark, sf_dir, "q20_regional_revenue")
    assert not a.has_cartesian
    assert a.join_strategies.count("BroadcastHashJoin") >= 2
    assert any("o_orderdate" in f for f in a.pushed_filters)


def test_frame_plan_never_reads_payload(spark, sf_dir):
    """The frame-sampling plan is metadata-only: column pruning must
    drop the payload (text) column from the parquet scan entirely."""
    assert "text" not in _audit(spark, sf_dir, "mm_frame_plan").scan_columns()


def test_kmeans_never_shuffle_joins_the_corpus(spark, sf_dir):
    """Every Lloyd iteration joins the scan against broadcast
    centroids — a SortMergeJoin here means the corpus is being
    shuffled per iteration."""
    a = _audit(spark, sf_dir, "kmeans_train")
    assert "SortMergeJoin" not in a.join_strategies


def test_pipeline_gates_are_not_cartesian(spark, sf_dir):
    """The composed training-set pipeline must stay a semi-join chain
    on doc_id — no cartesian anywhere in the composition."""
    assert not _audit(spark, sf_dir, "pipeline_training_set").has_cartesian


def test_no_broadcast_hint_on_sf_growing_tables():
    """Broadcast HINTS are reserved for relations whose size is bounded
    by the schema (nation: 25 rows, region: 5) or by a constant
    (query sets, centroids, eval shingles). A pinned F.broadcast() on a
    table that grows with SF works at sf0.1 and OOMs executors at
    100x — AQE must make that call from runtime sizes instead. This
    guard statically scans the package for F.broadcast(<raw SF-growing
    table>) so the q18-style regression cannot come back."""
    import re
    from pathlib import Path

    import sqlondataframesr_spark as pkg

    sf_growing = {
        "part", "customer", "orders", "lineitem", "supplier",
        "events", "documents", "embeddings", "big", "vec", "emb",
    }
    offenders = []
    for py in Path(pkg.__path__[0]).rglob("*.py"):
        src = py.read_text()
        for m in re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)", src):
            if m.group(1) in sf_growing:
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{py.name}:{line} F.broadcast({m.group(1)})")
    assert not offenders, f"scale-unsafe broadcast hints: {offenders}"



def test_spread_scan_noop_on_well_partitioned_input(spark):
    """spread_scan must not insert a shuffle when the input already
    carries enough partitions (the real-scale case), and must
    repartition an under-split input up to session parallelism, one
    split short of it included (a 3-split scan on 4 cores)."""
    from sqlondataframesr_spark.materialize import spread_scan

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, numPartitions=target)
    assert spread_scan(wide) is wide  # identical object: no-op

    for n in (1, max(1, target - 1)):
        narrow = spark.range(0, 1000, 1, numPartitions=n)
        spreaded = spread_scan(narrow, "id")
        assert spreaded.rdd.getNumPartitions() == target


def test_bloom_membership_is_broadcast_no_corpus_shuffle(spark, sf_dir):
    """bloom_decontam's bit test must reach the corpus shingle stream
    as a broadcast (one bitset row), never by shuffling corpus
    shingles on a join key."""
    a = _audit(spark, sf_dir, "bloom_decontam")
    assert "BroadcastExchange" in a.text or "BroadcastNestedLoopJoin" in a.text


def test_q36_pushes_shipdate_band(spark, sf_dir):
    """q36's one-year band must be evaluated by the parquet reader —
    at 100 TB with date partitioning this is the difference between
    one year and the whole corpus."""
    p = _plan(spark, sf_dir, "q36_promo_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p


def test_pq_codebook_is_broadcast(spark, sf_dir):
    """PQ encode joins every subvector against the 128-row codebook —
    that join must be a broadcast, not a shuffle of the corpus."""
    a = _audit(spark, sf_dir, "emb_pq_encode")
    assert "BroadcastExchange" in a.text
    assert not a.has_cartesian


def test_semdedup_pair_join_is_keyed_on_cluster(spark, sf_dir):
    """SemDeDup's quadratic term must be confined to within-cluster
    pairs: the pair join is an equi-join keyed on the cluster id (plus
    the id inequality as a join condition), never a cartesian."""
    a = _audit(spark, sf_dir, "semdedup")
    assert not a.has_cartesian


def test_heavy_hitters_recount_is_broadcast_with_partial_agg(spark, sf_dir):
    """text_heavy_hitters' exact recount must probe the full token
    stream against a BROADCAST candidate set (the pruned vocabulary) —
    shuffling every (term, 1) partial is exactly what the operator
    exists to avoid — and the recount must partial-aggregate map-side."""
    a = _audit(spark, sf_dir, "text_heavy_hitters")
    assert "BroadcastExchange" in a.text
    assert "partial_count" in a.text
    assert not a.has_cartesian


def test_keep_best_winner_is_partial_aggregated(spark, sf_dir):
    """dedup_keep_best must pick winners via max_by inside partial
    aggregation (map-side combine on the bow key), never via a global
    window sort of the corpus."""
    a = _audit(spark, sf_dir, "dedup_keep_best")
    assert "partial_max_by" in a.text
    assert "Window" not in a.text


def test_quantile_gate_medians_are_broadcast(spark, sf_dir):
    """corpus_quality_quantile_gate joins per-source medians (one row
    per source) back to the corpus — must be a broadcast join."""
    a = _audit(spark, sf_dir, "corpus_quality_quantile_gate")
    assert "BroadcastExchange" in a.text
    assert not a.has_cartesian


def test_winnow_pairs_join_reads_cache_not_recompute(spark, sf_dir):
    """Regression for the InferFiltersFromGenerate blow-up: the pair
    self-join must read BOTH sides from the pinned selection table
    (InMemoryTableScan), so the inferred size(sel) > 0 filter lands on
    the cached array — never on the inlined sel->khs->th expression
    chain (which re-derives ~windows x k-grams x tokens md5s per doc
    when pushed below the projections)."""
    a = _audit(spark, sf_dir, "dedup_winnow_pairs")
    assert a.text.count("InMemoryTableScan") >= 2
    # the winnowing hash chain must appear only inside the (single)
    # cache-fill subtree, not in the join-side filters: the md5 token
    # hash shows up once per InMemoryRelation rendering
    for frag in a.text.split("InMemoryRelation")[0:1]:
        assert "md5" not in frag  # nothing above/outside the cache


def test_q50_exists_lowers_to_semi_join_with_pushed_quarter(spark, sf_dir):
    """Q4-shape: the correlated EXISTS must run as ONE left-semi hash
    join (no aggregate, no second lineitem pass) and the quarter band
    must be evaluated by the parquet reader."""
    a = _audit(spark, sf_dir, "q50_order_priority_exists")
    assert "LeftSemi" in a.text
    assert "GreaterThanOrEqual(o_orderdate" in a.text
    assert not a.has_cartesian


def test_q51_pushes_year_band_and_broadcasts_dims(spark, sf_dir):
    """Q5-shape: the order-year band reaches the orders scan; nation/
    region resolve as broadcasts; the cross-dimension nation equality
    is a join residual, never its own shuffle."""
    a = _audit(spark, sf_dir, "q51_local_supplier_volume")
    assert "GreaterThanOrEqual(o_orderdate" in a.text
    assert "BroadcastExchange" in a.text
    assert not a.has_cartesian


def test_q53_scalar_threshold_is_broadcast_single_lineitem_scan(spark, sf_dir):
    """Q11-shape: the global (total, count) pair must come back as a
    1-row broadcast, and lineitem must be scanned exactly once — the
    scalar subquery reuses the per-part aggregate, it does not rescan."""
    a = _audit(spark, sf_dir, "q53_important_parts")
    assert "BroadcastExchange" in a.text or "BroadcastNestedLoopJoin" in a.text
    assert not a.has_cartesian
    # both consumers (threshold filter + totals reduce) must read the
    # PINNED per-part aggregate — the plan text embeds the cached
    # subtree's FileScan once per consumer, but physically the cache
    # is built from ONE lineitem pass (materialize contract). >= not
    # == (ADVICE r6): a Spark/AQE rendering change may print the
    # cached subtree extra times without any behavioral regression.
    assert a.text.count("InMemoryTableScan") >= 2


def test_q55_window_over_agg_single_lineitem_scan(spark, sf_dir):
    """Q20-shape: the per-part total is a window over the (part, supp)
    aggregate — same partitioning, NO second lineitem scan (the SQL
    twin's two grouped subqueries would scan twice; the fluent plan
    must not)."""
    a = _audit(spark, sf_dir, "q55_excess_quantity_suppliers")
    assert a.text.count("lineitem.parquet") == 1
    assert not a.has_cartesian


def test_sq8_query_codes_are_broadcast(spark, sf_dir):
    """SQ8 ANN keeps the brute-force scan shape: query codes broadcast
    against one stream over the corpus — the big side never shuffles
    for scoring."""
    a = _audit(spark, sf_dir, "ann_sq8_topk")
    assert "BroadcastNestedLoopJoin" in a.text or "BroadcastExchange" in a.text
    assert not a.has_cartesian


def test_dedup_spans_no_cartesian_two_keyed_shuffles(spark, sf_dir):
    """Span dedup is window (span-hash) + reassembly (doc_id): keyed
    exchanges only — no pair join, no cartesian anywhere."""
    a = _audit(spark, sf_dir, "dedup_spans")
    assert not a.has_cartesian


def test_q56_all_three_predicates_pushed(spark, sf_dir):
    """Q6-shape is pure scan+reduce: the year band, discount band and
    quantity cap must ALL reach the parquet reader (its whole 100 TB
    cost model is row-group pruning), and the plan must contain no
    join and no shuffle beyond the single-partition reduce."""
    a = _audit(spark, sf_dir, "q56_forecast_revenue_change")
    p = a.text
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "GreaterThanOrEqual(l_discount" in p and "LessThanOrEqual(l_discount" in p
    assert "LessThan(l_quantity" in p
    assert not a.join_strategies


def test_bm25_query_terms_and_df_are_broadcast(spark, sf_dir):
    """BM25's postings join must probe with BROADCAST query terms and
    document frequencies — shuffling the postings list on term for a
    5-query workload would move the whole inverted index."""
    a = _audit(spark, sf_dir, "bm25_topk")
    assert "BroadcastExchange" in a.text
    assert not a.has_cartesian


def test_knn_graph_band_join_is_equijoin_no_cartesian(spark, sf_dir):
    """The kNN graph's candidate stage must be an equi-join on
    (band, bkey) — the whole point of LSH is never materializing the
    all-pairs product."""
    a = _audit(spark, sf_dir, "knn_graph_lsh")
    assert not a.has_cartesian
    # the candidate stage is a HASHED equi-join on (band, bkey) — at
    # test scale AQE picks BroadcastHashJoin, at 100 TB SortMergeJoin;
    # a BroadcastNestedLoopJoin would mean the equi-keys were lost
    assert "BroadcastNestedLoopJoin" not in a.text
    assert (
        "BroadcastHashJoin [band" in a.text
        or "SortMergeJoin [band" in a.text
        or "ShuffledHashJoin [band" in a.text
    )


def test_ivf_pq_broadcasts_small_sides_only(spark, sf_dir):
    """IVF-PQ: the centroid set, the probes and the ADC LUT broadcast;
    the only cartesian is the NLIST-row centroid assignment crossJoin
    (a broadcast nested loop over 8 rows, same contract as
    ann_ivf_topk). The corpus' float payload must never ride an
    exchange keyed on anything but its own ids."""
    a = _audit(spark, sf_dir, "ann_ivf_pq_topk")
    assert a.text.count("BroadcastExchange") >= 3
    assert "BroadcastNestedLoopJoin" in a.text  # the NLIST-row crossJoin


def test_matryoshka_query_prefixes_broadcast_no_corpus_shuffle(spark, sf_dir):
    """The MRL shortlist pass must keep the brute-force scan shape:
    query prefixes broadcast against one stream over the corpus
    (BroadcastNestedLoopJoin on the vec_id inequality), never a
    shuffle of the big side; the full-width rerank joins only the
    N_QUERIES x MRL_SHORTLIST candidate rows."""
    a = _audit(spark, sf_dir, "ann_matryoshka_topk")
    assert "BroadcastNestedLoopJoin" in a.join_strategies
    assert not a.has_cartesian


def test_unimax_single_corpus_aggregation_pinned(spark, sf_dir):
    """UniMax's corpus pass is ONE per-language aggregation feeding a
    pinned K-row table: both downstream branches (waterline window +
    (m, paid) scalar) must read the cache, and the only joins are
    1-row broadcasts — a SortMergeJoin anywhere means a corpus-sized
    relation leaked into the scalar plumbing."""
    a = _audit(spark, sf_dir, "sample_unimax_allocation")
    assert "SortMergeJoin" not in a.join_strategies
    assert not a.has_cartesian
    assert a.text.count("InMemoryTableScan") >= 2


def test_prototypicality_rank_never_shuffles_embeddings(spark, sf_dir):
    """The per-cluster rank must ride the slim (vec_id, list_id,
    proto_cos) projection — no embedding array in the exchange that
    feeds the window — and centroid assignment must be the broadcast-K
    pattern, not a corpus shuffle join. Checked on the FORMATTED plan,
    whose per-node detail blocks list each Exchange's input columns
    (the tree-string form prints exchanges without schemas, which made
    the first version of this assertion vacuous — code-review r8)."""
    import re

    from sqlondataframesr_spark.plans.audit import explain_formatted

    a = _audit(spark, sf_dir, "emb_prototypicality_prune")
    assert "SortMergeJoin" not in a.join_strategies
    plan = explain_formatted(registry.queries()["emb_prototypicality_prune"](spark, sf_dir))
    # formatted detail blocks: "(N) Exchange\nInput [k]: [col#1, ...]".
    # Any exchange whose input carries the rank key list_id must not
    # also carry the embedding array v (standalone column v#NNN, not
    # cv#/qv# etc.).
    blocks = re.split(r"\n\(\d+\) ", plan)
    rank_exchanges = [
        b for b in blocks
        if b.startswith("Exchange") and re.search(r"Input \[\d+\]: \[[^\]]*list_id#", b)
    ]
    assert rank_exchanges, "rank exchange missing from formatted plan"
    for b in rank_exchanges:
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b).group(1)
        assert not re.search(r"(?<![\w])v#\d+", inp), inp


def test_bpe_merge_rounds_broadcast_single_row(spark, sf_dir):
    """Each BPE merge round crossJoins the word-type table with the
    1-row argmax merge — all four must be broadcast nested loops (1-row
    inner side), never a shuffle of the type table against itself."""
    a = _audit(spark, sf_dir, "bpe_learn_merges")
    assert a.text.count("BroadcastNestedLoopJoin") >= 1
    # TakeOrderedAndProject = the limit(1) argmax never global-sorts
    assert "TakeOrderedAndProject" in a.text


def test_tercile_gate_cutoffs_are_broadcast(spark, sf_dir):
    """lm_perplexity_tercile_gate joins per-lang p33/p66 cutoffs (one
    row per language) back to the scored corpus — must broadcast, and
    the whole plan must stay cartesian-free (the r6 low-cardinality-
    window alternative this operator deliberately avoids)."""
    a = _audit(spark, sf_dir, "lm_perplexity_tercile_gate")
    assert "BroadcastExchange" in a.text
    assert not a.has_cartesian


def test_nb_confusion_broadcasts_lang_constants_only(spark, sf_dir):
    """nb_lang_confusion: the doc x lang scoring grid comes from a
    deliberate K-row broadcast of per-lang constants (BNLJ is the
    expected shape, like DSIR's 1-row totals); the seen-(term,lang)
    table joins by TERM as a regular join, and nothing is an
    unbounded CartesianProduct."""
    a = _audit(spark, sf_dir, "nb_lang_confusion")
    assert "BroadcastExchange" in a.text
    assert not a.has_cartesian


def test_bigram_lm_total_is_broadcast_no_cartesian(spark, sf_dir):
    """lm_bigram_logprob: the single-row transition total T is the
    only broadcast-by-construction side; count tables join back by
    bigram key (web-scale vocab — must tolerate shuffle); no
    cartesian anywhere."""
    a = _audit(spark, sf_dir, "lm_bigram_logprob")
    assert not a.has_cartesian
    assert "BroadcastExchange" in a.text


def test_source_overlap_has_no_self_join(spark, sf_dir):
    """corpus_source_overlap folds the corpus to shingle-keyed posting
    sets and expands pairs LOCALLY (in-row transform) — the plan must
    contain NO sort-merge/shuffled-hash join at all (the self-join
    formulation measured 3-4x slower); the tiny sizes join back is
    broadcast, and nothing is cartesian."""
    a = _audit(spark, sf_dir, "corpus_source_overlap")
    assert not a.has_cartesian
    assert "SortMergeJoin" not in a.text and "ShuffledHashJoin" not in a.text
    assert "BroadcastExchange" in a.text


def test_zipf_topk_cut_is_fused_not_global_sort(spark, sf_dir):
    """corpus_zipf_slope's top-K cut must run as TakeOrderedAndProject
    (distributed heap), never a materialized global sort of the
    vocabulary."""
    a = _audit(spark, sf_dir, "corpus_zipf_slope")
    assert a.has_fused_topk or "TakeOrderedAndProject" in a.text
    assert not a.has_cartesian


def test_ngram_diversity_two_keyed_aggs_no_cartesian(spark, sf_dir):
    a = _audit(spark, sf_dir, "corpus_ngram_diversity")
    assert not a.has_cartesian


def test_hypertable_tail_scan_pushes_ts_range(spark, sf_dir):
    """evt_hypertable_rollup's raw side must push the ts >= watermark
    range into the events scan (bucket-function comparisons would not
    push; at a date-partitioned layout this predicate IS the partition
    prune), and nothing is cartesian (the 1-row watermark is resolved
    driver-side)."""
    a = _audit(spark, sf_dir, "evt_hypertable_rollup")
    assert not a.has_cartesian
    assert any("GreaterThanOrEqual(ts" in f for f in a.pushed_filters) or (
        "GreaterThanOrEqual(ts" in a.text
    )


def test_skew_report_is_one_agg_with_fused_topk(spark, sf_dir):
    """skew_key_report must be a single keyed aggregate + broadcast
    1-row total + fused top-K — never a global sort of the key space
    (the report must stay cheap enough to run per ingest)."""
    a = _audit(spark, sf_dir, "skew_key_report")
    assert a.has_fused_topk or "TakeOrderedAndProject" in a.text
    assert not a.has_cartesian or "BroadcastNestedLoopJoin" in a.text


@pytest.mark.parametrize(
    "name",
    [
        "evt_activity_deciles",
        "evt_activity_gini",
        "cust_abc_classes",
        "cust_rfm_segments",
    ],
)
def test_rank_operators_have_no_single_task_sort(spark, sf_dir, name):
    """VERDICT r9 item 1: the concentration/RFM operators must compute
    their exact global ranks via the distributed two-phase rank
    (rangepartitioning + per-partition sorts + broadcast offsets),
    NEVER an unpartitioned ntile/row_number window — a Sort fed by
    Exchange SinglePartition serializes the whole relation through one
    task at 10^8+ rows. `has_single_task_sort` matches exactly that
    plan shape (scalar-aggregate gathers, which also use
    SinglePartition but feed a HashAggregate, do not count)."""
    a = _audit(spark, sf_dir, name)
    assert not a.has_single_task_sort
    assert "rangepartitioning" in a.text
    assert "ntile" not in a.text
    assert not a.has_cartesian or "BroadcastNestedLoopJoin" in a.text


def test_cohort_retention_plan_shape(spark, sf_dir):
    """The activity table's user_id partitioning must be REUSED by the
    first-week aggregate + self-join (no extra user_id exchange
    beyond the distinct + min pair), the cohort-size join must
    broadcast, and nothing is cartesian or single-task sorted."""
    a = _audit(spark, sf_dir, "evt_cohort_retention")
    assert not a.has_cartesian
    assert not a.has_single_task_sort
    assert "BroadcastExchange" in a.text


def test_minhash_recall_report_plan_shape(spark, sf_dir):
    """The recall meter composes two banded pipelines: no cartesian
    anywhere, and the full-outer hit join is on the pair keys (a
    SortMergeJoin/ShuffledHashJoin over pair sets is fine — pairs are
    duplicate-density-bounded, not corpus-bounded)."""
    a = _audit(spark, sf_dir, "minhash_recall_report")
    assert not a.has_cartesian


def test_scd2_one_event_sized_exchange(spark, sf_dir):
    """The SCD2 build's contract (operators/scd.py docstring): the lag
    flag, island cumsum, version reduce, and lead all ride ONE
    user_id-keyed exchange — HashPartitioning(user_id) satisfies every
    downstream ClusteredDistribution. Only the bounded post-frames
    (|event_types| summary / top-k) may add exchanges."""
    a = _audit(spark, sf_dir, "cdc_scd2_summary")
    assert a.text.count("hashpartitioning(user_id") <= 1
    assert not a.has_single_task_sort
    top = _audit(spark, sf_dir, "cdc_scd2_top_versions")
    assert top.has_fused_topk  # TakeOrderedAndProject, no global sort


def test_er_pairs_is_blocked_equijoin(spark, sf_dir):
    """ER candidate generation must join on the BLOCKING key (equi),
    with the Levenshtein threshold as a filter — never a cartesian
    pair explosion."""
    a = _audit(spark, sf_dir, "er_customer_pairs")
    assert not a.has_cartesian
    assert "BroadcastNestedLoopJoin" not in a.join_strategies
    assert any(
        s in a.join_strategies
        for s in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert a.has_fused_topk


def test_rec_cosine_norm_joins_are_broadcast(spark, sf_dir):
    """The |items|-row norm frame must broadcast onto the |items|²
    dot matrix; the user-keyed pair join must stay an equi-join."""
    a = _audit(spark, sf_dir, "rec_item_cosine")
    assert not a.has_cartesian
    assert a.join_strategies.count("BroadcastHashJoin") >= 2


def test_ols_trend_broadcasts_nation_no_cartesian(spark, sf_dir):
    a = _audit(spark, sf_dir, "ml_ols_trend")
    assert not a.has_cartesian
    assert "BroadcastHashJoin" in a.join_strategies


def test_km_curve_no_single_task_sort(spark, sf_dir):
    """KM's windows are all partitioned by segment on the bounded
    curve frame; the fold is an array expression. No single-task sort
    of anything data-sized."""
    a = _audit(spark, sf_dir, "km_survival_curve")
    assert not a.has_cartesian
    assert not a.has_single_task_sort


def test_trigrams_topk_fused(spark, sf_dir):
    a = _audit(spark, sf_dir, "evt_type_trigrams")
    assert a.has_fused_topk
    assert not a.has_cartesian
    # both lags share one user_id sort: a single event-sized exchange
    assert a.text.count("hashpartitioning(user_id") <= 1


# ------------------------- r10 sketch / bounded-frame inferential pins


def test_percentiles_window_partitions_by_type(spark, sf_dir):
    """evt_value_percentiles_exact must histogram FIRST (partial+final
    aggregate on (event_type, cents)) and run its cumulative window
    hash-partitioned by event_type — never a single-partition sort of
    raw rows."""
    plan = _plan(spark, sf_dir, "evt_value_percentiles_exact")
    assert "partial_count" in plan  # map-side histogram combine
    assert "Exchange hashpartitioning(event_type" in plan
    assert "Exchange SinglePartition" not in plan


@pytest.mark.parametrize("name", ["dq_ks_statistic", "ab_mannwhitney_auc"])
def test_bounded_frame_single_partition_sees_only_histogram(
    spark, sf_dir, name
):
    """The KS/MWU global window DOES run single-partition — by design,
    on the bounded per-cent-value histogram. Pin that the
    SinglePartition exchange is fed by the per-cents aggregate, not by
    raw event rows."""
    plan = _plan(spark, sf_dir, name)
    lines = plan.splitlines()
    idx = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert idx, "expected the bounded-frame single-partition window"
    # the exchange's child (next plan line) must be the histogram agg
    child = "\n".join(lines[idx[0] + 1 : idx[0] + 3])
    assert "HashAggregate(keys=[cents" in child, child


def test_kmv_minset_never_single_partition(spark, sf_dir):
    """sketch_kmv_distinct's two-phase min-K: every window exchange is
    hash-partitioned (source+cell, then source) — no single-task sort
    even for the global sketch of a hot source."""
    plan = _plan(spark, sf_dir, "sketch_kmv_distinct")
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


# ------------------------- r10 privacy / conformal / sketch-set-op pins


def test_k_anonymity_ladder_is_one_expand_shuffle(spark, sf_dir):
    """The 3-level generalization ladder must be ONE scan + ONE
    Expand(+GROUPING SETS) aggregate — never three scans, never a
    window."""
    plan = _plan(spark, sf_dir, "privacy_k_anonymity_ladder")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan
    assert "Window" not in plan


def test_conformal_single_partition_sees_only_the_histogram(spark, sf_dir):
    """ml_conformal_interval's calibration quantile runs its global
    cumulative window on the bounded DOLLAR histogram: every
    SinglePartition exchange must be fed by an aggregate (histogram /
    1-row sums), never by raw lineitem rows."""
    plan = _plan(spark, sf_dir, "ml_conformal_interval")
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" not in l:
            continue
        # allow the Sort/Project/Filter shim the cached histogram
        # read inserts between the exchange and its aggregate source:
        # the first reduction marker below the exchange must be an
        # aggregate or the pinned histogram — never a bare corpus scan
        marker = next(
            (
                l
                for l in lines[i + 1 : i + 6]
                if "HashAggregate" in l
                or "InMemoryTableScan" in l
                or "Scan parquet" in l
            ),
            "",
        )
        assert "Scan parquet" not in marker, "\n".join(lines[i : i + 6])
        assert marker, "\n".join(lines[i : i + 6])


def test_kmv_jaccard_pair_stages_are_broadcast(spark, sf_dir):
    """sketch_kmv_jaccard: after the per-source sketches, every pair
    stage joins broadcast-sized frames — the only non-broadcast join
    is the exact-intersection hash join on the 52-bit hash. The
    corpus-sized side must never be range/sort-merge shuffled for the
    pair construction."""
    a = _audit(spark, sf_dir, "sketch_kmv_jaccard")
    assert not a.has_cartesian
    assert "BroadcastHashJoin" in a.text
    # dh and minset each feed multiple consumers: both pinned, so the
    # corpus tokenize+hash pass runs once (materialize contract)
    assert a.text.count("InMemoryTableScan") >= 4
    assert not a.has_single_task_sort


def test_pca_reuses_the_quantized_frame(spark, sf_dir):
    """emb_pca_power: the squaring chain is an iterative loop on the
    DIM^2-bounded frame, so each round is cut by the shared
    ``materialize.truncate`` (lazy persist grew 0.4s -> 5.3s per round
    on identical 4,096-row inputs from pure plan-depth analysis cost,
    VERDICT r10 item 3). The final plan must therefore read the
    checkpointed matrix RDD (lineage cut), and no squaring join may
    cartesian."""
    a = _audit(spark, sf_dir, "emb_pca_power")
    assert not a.has_cartesian
    assert "ExistingRDD" in a.text  # checkpoint truncation in effect
    # the row-scale corpus is NOT in the final plan at all: everything
    # after the one fan pass is bounded-matrix work behind the cut
    assert "Scan parquet" not in a.text


def test_quantile_grid_is_two_scans_and_bounded_keys(spark, sf_dir):
    """ml_quantile_grid: one scan for the moment center, one for the
    grid fan — never a scan per grid point; the fan's aggregate keys
    are the bounded (slope, n_rows) pairs."""
    plan = _plan(spark, sf_dir, "ml_quantile_grid")
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "hashpartitioning(slope" in plan


def test_markov_iterations_run_on_the_distilled_matrix(spark, sf_dir):
    """evt_markov_attribution: exactly one corpus-sized window shuffle
    (user_id) builds the edges; the squaring joins read the pinned
    scenario matrix, never re-deriving it."""
    a = _audit(spark, sf_dir, "evt_markov_attribution")
    assert not a.has_cartesian
    # every squaring consumer reads the PINNED scenario matrix (the
    # cached-plan text re-renders its lineage per reader, so the
    # occurrence count of the user window is not meaningful — the
    # InMemoryTableScan count is the reuse evidence)
    assert a.text.count("InMemoryTableScan") >= 3
