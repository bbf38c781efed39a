"""Differential + semantic tests for the LLM-pipeline operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlondataframesr_spark import registry
from sqlondataframesr_spark.llm import dedup, text


def test_dedup_ngram_finds_planted_near_dups(spark, sf_dir):
    pairs = dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    # the synthetic corpus plants near-duplicates at jaccard ~0.99
    assert len(pairs) > 0
    assert all(r["jaccard"] >= dedup.JACCARD_THRESHOLD for r in pairs)
    assert all(r["doc_a"] < r["doc_b"] for r in pairs)


def test_bm25_integer_microunit_sum_is_order_invariant_where_float_sum_flips(spark):
    """Pinned regression for the r7 BM25 integer-sum hardening
    (VERDICT r7 item 8). The fixture is a DESIGNED doc pair: 24
    per-term contributions in BM25's realistic range ([0.16, 2.83])
    whose exact sum sits on a half-microunit rounding boundary, found
    by numeric search. Pre-fix (float SUM then round(6)), the score
    depends on accumulation order — ascending vs descending flips the
    6th decimal — which is exactly the Spark-partition-order vs DuckDB
    divergence the quantization removed. The production path
    (round(contrib*1e6) AS BIGINT, sum, divide, round(6)) must give
    one identical score under EVERY ordering, in Python and through
    Spark's own sum."""
    contribs = [
        0.16554369018258475, 0.18511842406753112, 0.26120614333129405,
        0.2813516064011745, 0.3254308859149863, 0.45933560601556883,
        0.6035540030826735, 0.6065511774649578, 0.6996202048913048,
        0.725714634548927, 0.9031014371285786, 1.0149900110315246,
        1.1016794030520374, 1.2196100010663695, 1.356514706281368,
        1.7451938341006836, 1.8910333731037308, 2.0192646850895146,
        2.363423939391163, 2.3910095681590096, 2.4996060014836594,
        2.6306878501240045, 2.7821921136729237, 2.8269182004144287,
    ]
    # the pre-fix mechanism diverges on this fixture: same multiset,
    # two accumulation orders, two different 6dp scores
    asc = 0.0
    for x in contribs:
        asc += x
    desc = 0.0
    for x in reversed(contribs):
        desc += x
    assert round(asc, 6) != round(desc, 6)

    # the production mechanism is an exact integer sum: invariant under
    # every ordering by construction — assert it end-to-end via Spark's
    # own round/cast/sum on shuffled copies of the same contributions
    import random

    from pyspark.sql import functions as F

    orders = [list(contribs)]
    rng = random.Random(1)
    for _ in range(3):
        shuffled = list(contribs)
        rng.shuffle(shuffled)
        orders.append(shuffled)
    rows = [(i, x) for i, o in enumerate(orders) for x in o]
    df = spark.createDataFrame(rows, "ord int, contrib double")
    got = (
        df.withColumn(
            "contrib_us",
            F.expr("cast(round(contrib * 1000000.0) as bigint)"),
        )
        .groupBy("ord")
        .agg(
            F.round(F.sum("contrib_us").cast("double") / F.lit(1000000.0), 6)
            .alias("score")
        )
        .collect()
    )
    scores = {r.score for r in got}
    assert len(scores) == 1, scores
    # and it equals the decimal-exact reference on the quantized units
    q = sum(int(round(x * 1e6)) for x in contribs)
    assert scores == {round(q / 1e6, 6)}


def test_capped_13gram_bounds_hot_gram_keeps_true_dups(spark):
    """VERDICT r7 item 3 — the 13-gram DF cap. On a corpus where 30
    docs share one corpus-hot 13-gram (a license-header stand-in) the
    capped operator must (a) generate ZERO pairs among the boilerplate
    docs (the df^2 blow-up the cap exists to kill — exact pays 435
    pairs), (b) still find the genuine duplicate pair through its rare
    grams with an n_shared that counts the hot grams too (verification
    is exact on full gram arrays), and (c) flag cap_binds."""
    # 15 boilerplate tokens -> 3 all-boilerplate windows, df=30 > cap
    boiler = " ".join(f"b{i}" for i in range(15))
    rows = [
        (i, f"{boiler} unique tail u{i} v{i * 7} w{i * 13}") for i in range(30)
    ]
    # genuine dup pair: shares boiler AND a rare 14-token sentence
    shared = " ".join(f"s{i}" for i in range(14))
    rows += [(100, f"{boiler} {shared} endone"), (101, f"{boiler} {shared} endtwo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {(r.doc_a, r.doc_b): r.n_shared for r in dedup._substring_pairs(df).collect()}
    capped = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in dedup._substring_pairs_capped(df, cap=10).collect()
    }
    assert (100, 101) in capped
    # exact verify counts the HOT grams too: same n_shared as exact
    assert capped[(100, 101)] == exact[(100, 101)]
    assert capped[(100, 101)] > 2  # 3 boiler windows + bridge + shared grams
    # boilerplate-only pairs: present in exact (the blow-up), absent in capped
    assert len(exact) == 30 * 29 // 2 + 1 + 2 * 30  # all-pairs + dup + dup-vs-boiler
    assert set(capped) == {(100, 101)}

    # the cap-binding signal fires on this corpus...
    e = dedup.with_grams(df).select("doc_id", F.explode("gr").alias("gx"))
    max_df = e.groupBy("gx").count().agg(F.max("count")).collect()[0][0]
    assert max_df > 10


def test_capped_13gram_never_binds_on_testdata(spark, sf_dir):
    """On the driver corpus no gram is hotter than the cap, so the
    capped operator provably equals the exact one and the report says
    cap_binds=false — pinning that the registered query's oracle
    equivalence is the no-recall-loss regime."""
    rep = dedup.dedup_substring_cap_report(spark, sf_dir).collect()[0]
    assert rep.cap_binds is False
    assert rep.max_gram_df <= rep.df_cap
    exact = {
        (r.doc_a, r.doc_b, r.n_shared)
        for r in dedup.dedup_substring_13gram(spark, sf_dir).collect()
    }
    capped = {
        (r.doc_a, r.doc_b, r.n_shared)
        for r in dedup.dedup_substring_13gram_capped(spark, sf_dir).collect()
    }
    assert exact == capped and len(exact) > 0


def test_capped_jaccard_drops_boilerplate_keeps_near_dups(spark):
    """On a boilerplate-heavy corpus the DF cap must (a) still find the
    genuine near-dup pair through its rare shingles, (b) generate ZERO
    candidates from the hot boilerplate shingles — the quadratic term
    the cap exists to kill — and (c) agree with the exact operator's
    final answer, since verification is exact on full shingle sets."""
    boiler = "the terms of service apply to all users of this web site"
    rows = [
        (i, f"{boiler} unique content piece number {i} with extras {i * 7} {i * 13}")
        for i in range(30)
    ]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {(r.doc_a, r.doc_b) for r in dedup._jaccard_pairs(df).collect()}
    capped = {
        (r.doc_a, r.doc_b) for r in dedup._jaccard_pairs_capped(df, cap=10).collect()
    }
    assert (100, 101) in capped
    assert capped == exact  # exact verify: the cap changed cost, not truth

    # candidate bound: every boilerplate shingle has df=30 > cap, so the
    # rare-postings self-join must produce exactly the ONE genuine pair
    shingled = dedup.with_shingles(df)
    exploded = shingled.select("doc_id", F.explode("sh").alias("s"))
    rare = (
        exploded.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 10)
        .select("s")
    )
    posting = exploded.join(rare, "s")
    n_cand = (
        posting.alias("a")
        .join(
            posting.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert n_cand == 1


def test_substring_13gram_planted_window(spark):
    """Two docs sharing exactly one 13-token run (and nothing longer)
    produce one pair with n_shared == 1; unrelated docs never pair."""
    run = " ".join(f"tok{i}" for i in range(13))
    rows = [
        (1, f"alpha prefix {run} omega suffix"),
        (2, f"different head {run} another tail"),
        (3, "entirely unrelated words " + " ".join(f"z{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in dedup._substring_pairs(df).collect()
    }
    assert pairs == {(1, 2): 1}


def test_unigram_logprob_orders_common_above_rare(spark, sf_dir):
    """Docs made of corpus-common tokens must score higher (less
    negative) than docs of corpus-rare tokens, and every score is a
    negative mean log-probability."""
    out = text.text_unigram_logprob(spark, sf_dir)
    rows = out.collect()
    assert all(r["avg_logprob"] < 0 for r in rows)
    rep = {r["doc_id"]: r for r in text.text_repetition(spark, sf_dir).collect()}
    # the most repetitive doc's tokens are (by construction) frequent in
    # the corpus too — it must not be the worst-scoring doc
    worst = min(rows, key=lambda r: r["avg_logprob"])
    most_rep = max(rep.values(), key=lambda r: r["repetition_ratio"])
    assert worst["doc_id"] != most_rep["doc_id"]


def test_lang_id_deterministic_tiebreak(spark, sf_dir):
    out = text.lang_id_stopword(spark, sf_dir)
    # predicted_lang is only ever a known code or 'und'
    langs = {r["predicted_lang"] for r in out.select("predicted_lang").distinct().collect()}
    assert langs <= set(text.LANG_STOPWORDS) | {"und"}


def test_near_dups_share_fingerprint(spark, sf_dir):
    """A near-dup pair at jaccard j shares the single-perm minhash
    fingerprint with probability j (~0.95 for the planted dups), so
    MOST true pairs must collide. The converse does NOT hold with one
    permutation over a small shingle vocabulary — unrelated docs can
    share the globally-minimal shingle — which is exactly why the
    banded multi-perm MinHash-LSH operator exists."""
    fp = {r["doc_id"]: r["fingerprint"] for r in text.doc_fingerprint(spark, sf_dir).collect()}
    true_pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    ]
    assert true_pairs
    hits = sum(1 for a, b in true_pairs if fp[a] == fp[b])
    assert hits >= len(true_pairs) * 0.6


def test_lsh_candidates_include_top1(spark, sf_dir):
    """For most queries, the brute-force #1 neighbor should survive
    LSH banding (4x4-bit bands; high-cos pairs collide w.h.p.). This is
    a recall check of the approximate path against the exact baseline,
    not an oracle identity."""
    from sqlondataframesr_spark.llm import similarity

    exact = {
        r["q_id"]: r["neighbor_id"]
        for r in similarity.ann_cosine_topk(spark, sf_dir).collect()
        if r["rnk"] == 1
    }
    approx = {}
    for r in similarity.ann_lsh_topk(spark, sf_dir).collect():
        approx.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    assert exact
    hits = sum(1 for q, n in exact.items() if n in approx.get(q, set()))
    # moderate-cosine data (max ~0.5) → recall well below 1 is expected;
    # just require the mechanism works for a nontrivial fraction
    assert hits >= len(exact) * 0.3


def test_ivf_probes_shrink_candidate_set(spark, sf_dir):
    """IVF must (a) return well-formed per-query top-k from the probed
    lists only, and (b) actually prune: each query scores at most the
    corpus fraction held by its NPROBE probed lists, not the full
    corpus. Exact-rerank within the candidate set means every returned
    cosine must agree with brute force for that same (q, neighbor)."""
    from sqlondataframesr_spark.llm import similarity

    rows = similarity.ann_ivf_topk(spark, sf_dir).collect()
    assert rows
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
    for q, rs in per_q.items():
        rnks = sorted(r["rnk"] for r in rs)
        assert rnks == list(range(1, len(rs) + 1))
        assert len(rs) <= similarity.TOP_K
        assert all(r["neighbor_id"] != q for r in rs)

    exact = {
        (r["q_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.ann_cosine_topk(spark, sf_dir).collect()
    }
    both = [
        (r["cosine"], exact[(r["q_id"], r["neighbor_id"])])
        for r in rows
        if (r["q_id"], r["neighbor_id"]) in exact
    ]
    assert all(abs(a - b) < 1e-9 for a, b in both)


def test_hash_split_is_stable_and_proportional(spark, sf_dir):
    """Split membership must be a pure function of doc_id (same result
    across runs) and roughly honor the 80/10/10 design."""
    from sqlondataframesr_spark.llm import sampling

    a = {r["doc_id"]: r["split"] for r in sampling.sample_hash_split(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["split"] for r in sampling.sample_hash_split(spark, sf_dir).collect()}
    assert a == b
    n = len(a)
    frac_train = sum(1 for s in a.values() if s == "train") / n
    assert 0.7 < frac_train < 0.9


def test_stratified_quota_respected(spark, sf_dir):
    from sqlondataframesr_spark.llm import sampling

    rows = sampling.sample_stratified_topn(spark, sf_dir).collect()
    per_stratum = {}
    for r in rows:
        per_stratum.setdefault((r["lang"], r["source"]), []).append(r)
    assert per_stratum
    for rs in per_stratum.values():
        assert len(rs) <= sampling.STRATUM_N
        # within a stratum, lengths are non-increasing by rank
        rs.sort(key=lambda r: r["rnk"])
        lens = [r["n_chars"] for r in rs]
        assert lens == sorted(lens, reverse=True)


def test_packing_bins_partition_the_corpus(spark, sf_dir):
    """Every doc lands in exactly one bin; within a (lang, bin) the
    running total of PRIOR docs stays under the budget (the doc that
    crosses the edge starts the next bin)."""
    from sqlondataframesr_spark.llm import sampling

    rows = sampling.pack_token_budget(spark, sf_dir).collect()
    assert len(rows) == len({r["doc_id"] for r in rows})
    for r in rows:
        start = r["cum_tokens"] - r["n_tokens"]
        assert r["bin_id"] == start // sampling.PACK_BUDGET


def test_dedup_clusters_partition_and_contain_pairs(spark, sf_dir):
    """Every doc gets exactly one cluster; near-dup pairs land in the
    same cluster; cluster_id is the min member; sizes are consistent."""
    from sqlondataframesr_spark.llm.dedup import dedup_clusters, dedup_ngram_jaccard
    from sqlondataframesr_spark.catalog import load_table

    clusters = {r.doc_id: (r.cluster_id, r.cluster_size)
                for r in dedup_clusters(spark, sf_dir).collect()}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(clusters) == n_docs

    # pairwise near-dups co-clustered
    for p in dedup_ngram_jaccard(spark, sf_dir).collect():
        assert clusters[p.doc_a][0] == clusters[p.doc_b][0]

    # cluster_id is the minimum member; size counts members
    from collections import Counter
    sizes = Counter(cid for cid, _ in clusters.values())
    for doc_id, (cid, csize) in clusters.items():
        assert cid <= doc_id
        assert sizes[cid] == csize
        assert clusters[cid][0] == cid  # representative is its own label


def test_kmeans_improves_assignment_quality(spark, sf_dir):
    """Trained centroids must (a) partition the corpus and (b) give a
    mean assignment cosine no worse than the untrained (first-K-ids)
    codebook — Lloyd iterations cannot degrade the objective."""
    from pyspark.sql import functions as F
    from sqlondataframesr_spark.functions.dialect import SPARK
    from sqlondataframesr_spark.llm import similarity as S
    from sqlondataframesr_spark.materialize import materialize

    vec = materialize(S.load_vectors(spark, sf_dir))
    n_vecs = vec.count()
    trained = S.kmeans_train(spark, sf_dir).collect()
    assert sum(r.n for r in trained) == n_vecs
    assert len(trained) <= S.KM_K

    def mean_best_cos(cent_df):
        scored = vec.join(F.broadcast(cent_df)).select(
            "vec_id",
            F.expr(S.V.cosine(SPARK, "v", "cv", "nrm", "cn", S.DIM)).alias("c"),
        )
        best = scored.groupBy("vec_id").agg(F.max("c").alias("b"))
        return best.agg(F.avg("b")).collect()[0][0]

    init = vec.filter(F.col("vec_id") < S.KM_K).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    spark_trained = spark.createDataFrame(
        [
            (r.c_id, [int(t) / 1e6 for t in r.centroid_us.split(",")])
            for r in trained
        ],
        "c_id long, cv array<double>",
    ).withColumn("cn", F.expr(S.V.l2_norm("cv")))
    assert mean_best_cos(spark_trained) >= mean_best_cos(init) - 1e-9


def test_ivf_trained_uses_kmeans_codebook(spark, sf_dir):
    """ann_ivf_trained = kmeans codebook + the same probe machinery:
    TOP_K rows per query, and candidates really come from the trained
    partition (every neighbor shares a probed trained list with its
    query)."""
    from pyspark.sql import functions as F

    from sqlondataframesr_spark.functions.dialect import SPARK
    from sqlondataframesr_spark.llm import similarity as S

    rows = S.ann_ivf_trained(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    assert set(per_q) == set(range(S.N_QUERIES))
    assert all(len(v) == S.TOP_K for v in per_q.values())

    vec = S.load_vectors(spark, sf_dir)
    cent = S.kmeans_centroids(vec).select("c_id", "cv", "cn")
    assigned = {
        r["vec_id"]: r["list_id"]
        for r in S.assign_lists(vec, cent, "vec_id").collect()
    }
    # probed lists per query = NPROBE best centroids by rounded cosine
    q_scored = (
        vec.filter(F.col("vec_id") < S.N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
        .join(F.broadcast(cent))
        .select("q_id", "c_id", F.expr(S.V.cosine(SPARK, "qv", "cv", "qn", "cn", S.DIM)).alias("ccos"))
        .collect()
    )
    probes = {}
    for r in sorted(q_scored, key=lambda r: (r.q_id, -r.ccos, r.c_id)):
        probes.setdefault(r.q_id, [])
        if len(probes[r.q_id]) < S.NPROBE:
            probes[r.q_id].append(r.c_id)
    for r in rows:
        assert assigned[r.neighbor_id] in probes[r.q_id], r


def test_winnow_guarantee_and_selection_density(spark, sf_dir):
    """The winnowing guarantee: two documents sharing a token run of
    length >= K+W-1 share at least one selected fingerprint; and the
    selection is sparse (well under the full k-gram count)."""
    from sqlondataframesr_spark.llm import dedup as D

    t = K = D.WINNOW_K + D.WINNOW_W - 1
    shared = " ".join(f"shared{i}" for i in range(t))
    df = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"{shared} delta epsilon zeta"),
            (3, "totally different words with no overlap at all here ok"),
        ],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("winnow_docs")

    import sqlondataframesr_spark.catalog as C

    orig = C.load_table
    try:
        C.load_table = lambda s, sd, n: df if n == "documents" else orig(s, sd, n)
        # rebind inside dedup too (it imported the name directly)
        dorig = D.load_table
        D.load_table = C.load_table
        rows = {r.doc_id: set(r.fp.split(",")) for r in
                D.doc_winnow_fingerprint(spark, sf_dir).collect()}
    finally:
        C.load_table = orig
        D.load_table = dorig
    assert rows[1] & rows[2], "shared 8-token run must share a fingerprint"
    assert not (rows[1] & rows[3])
    # density: selected fingerprints are a strict subset of k-grams
    n_kgrams_doc1 = len(f"alpha beta {shared} gamma".split()) - D.WINNOW_K + 1
    assert len(rows[1]) < n_kgrams_doc1


def test_bloom_prefilter_is_sound_and_prunes(spark, sf_dir):
    """Soundness: every true overlap survives the Bloom prefilter
    (n_bloom_hits >= n_overlap per doc — a Bloom filter has no false
    negatives). Pruning: across the corpus the candidate stream is a
    strict subset of the shingle stream, and the final contamination
    columns equal llm/decontam.py's exact-broadcast answer."""
    from sqlondataframesr_spark.llm.bloom import bloom_decontam
    from sqlondataframesr_spark.llm.decontam import decontam_overlap

    b = {r.doc_id: r for r in bloom_decontam(spark, sf_dir).collect()}
    for r in b.values():
        assert r.n_bloom_hits >= r.n_overlap, r
        assert r.n_bloom_hits <= r.n_shingles, r
    assert sum(r.n_bloom_hits for r in b.values()) < sum(
        r.n_shingles for r in b.values()
    ), "filter must reject some shingles"
    exact = {r.doc_id: r for r in decontam_overlap(spark, sf_dir).collect()}
    assert set(b) == set(exact)
    for doc_id, r in b.items():
        assert r.n_overlap == exact[doc_id].n_overlap, doc_id
        assert r.contaminated == exact[doc_id].contaminated, doc_id


def test_dsir_importance_prefers_target_like_docs(spark, sf_dir):
    """A raw doc whose hashed-feature bag matches the target slice's
    distribution scores higher than one that doesn't: per construction
    the target slice (doc_id % 53 == 0) over-represents its own
    features, so docs sharing text with an eval doc should rank above
    the corpus median."""
    from sqlondataframesr_spark.llm.dsir import dsir_importance

    rows = dsir_importance(spark, sf_dir).collect()
    assert rows, "non-empty raw corpus"
    ids = [r.doc_id for r in rows]
    assert ids == sorted(ids)
    docs = {r.doc_id: r for r in rows}
    # every doc with features got a weight; docs without weigh exactly 0
    for r in rows:
        if r.n_feats == 0:
            assert r.log_weight == 0.0


def test_pq_codebook_members_encode_losslessly(spark, sf_dir):
    """Vectors that ARE codebook entries (vec_id < KSUB) quantize to
    themselves: zero reconstruction error; everyone else's error is
    non-negative and the ADC ranking is ascending per query."""
    from sqlondataframesr_spark.llm.pq import KSUB, ann_pq_adc, emb_pq_encode

    enc = {r.vec_id: r for r in emb_pq_encode(spark, sf_dir).collect()}
    for vid, r in enc.items():
        if vid < KSUB:
            assert r.qerr == 0.0, r
        assert r.qerr >= 0.0
        assert len(r.codes.split(",")) == 8
    by_q = {}
    for r in ann_pq_adc(spark, sf_dir).collect():
        assert r.neighbor_id != r.q_id
        by_q.setdefault(r.q_id, []).append(r)
    for q, rows in by_q.items():
        dists = [r.adc_dist for r in sorted(rows, key=lambda r: r.rnk)]
        assert dists == sorted(dists), q


def test_capped_partners_bounds_hot_cluster_pairs(spark):
    """VERDICT r4 item 4: the in-cluster pair join must stay linear on
    a hot cluster. One 200-member cluster, cap=16 -> the partner side
    is exactly the 16 smallest ids and pair fan-out is n*cap, never
    n^2; the small-id preference matches the keep-policy."""
    from sqlondataframesr_spark.llm.semdedup import capped_partners

    members = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.lit(0).alias("list_id"),
        F.array(F.lit(1.0)).alias("v"),
        F.lit(1.0).alias("nrm"),
    )
    capped = capped_partners(members, cap=16)
    got = sorted(r.vec_id for r in capped.select("vec_id").collect())
    assert got == list(range(16))
    anchors = members.select(F.col("vec_id").alias("b_id"), "list_id")
    pairs = capped.select(F.col("vec_id").alias("a_id"), "list_id").join(
        anchors, "list_id"
    )
    assert pairs.count() == 200 * 16  # |cluster| * cap, not |cluster|^2


def test_capped_partners_skips_window_for_cool_clusters(spark):
    """VERDICT r5 item 8: when every cluster is at-or-under the cap,
    no row may enter the per-cluster rank window — the r5 version
    serialized a hot cluster's whole sort onto one task even when the
    cap never bound. The r6 shape pre-filters with a K-row size
    aggregate: the Window's input subtree must be the hot-cluster
    semi-join (csz > cap), and with all clusters under cap the drop
    side is empty so the result passes through untouched."""
    from sqlondataframesr_spark.llm.semdedup import capped_partners

    members = spark.range(100).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 10).alias("list_id"),  # 10 clusters of 10
        F.array(F.lit(1.0)).alias("v"),
        F.lit(1.0).alias("nrm"),
    )
    capped = capped_partners(members, cap=16)
    # result identity: nothing dropped when the cap doesn't bind
    assert capped.count() == 100
    # plan shape: the window ranks only the semi-joined hot slice —
    # its input subtree carries the cluster-size filter, so an
    # all-cool corpus contributes zero rows to the sort
    plan = capped._jdf.queryExecution().optimizedPlan().toString()
    window_pos = plan.find("Window")
    assert window_pos != -1, plan
    assert "csz" in plan[window_pos:], plan


def test_semdedup_cap_report_signals_binding(spark):
    """ADVICE r5: the cap-binding signal. On the sf0.001 corpus the
    cap must NOT bind (that is what keeps the green oracles certifying
    exact semantics); the report's arithmetic is checked against a
    direct recount of the assignment."""
    from sqlondataframesr_spark.llm.semdedup import (
        CLUSTER_PAIR_CAP,
        semdedup,
        semdedup_cap_report,
    )

    sf_dir = "/root/testdata/sf0.001"
    rep = semdedup_cap_report(spark, sf_dir).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r.pair_cap == CLUSTER_PAIR_CAP
    assert not r.cap_binds
    assert r.max_cluster_size <= CLUSTER_PAIR_CAP
    # recount from the dedup output's own cluster assignment
    sizes = (
        semdedup(spark, sf_dir).groupBy("c_id").count().collect()
    )
    assert r.n_clusters == len(sizes)
    assert r.max_cluster_size == max(s["count"] for s in sizes)


def test_cluster_pair_cap_never_binds_at_tested_scales():
    """The capped algorithm equals the exact one whenever CAP exceeds
    the largest possible cluster (= the whole embeddings table). Guard
    that invariant against testdata growth so the green oracles keep
    certifying the exact semantics too."""
    import duckdb

    from sqlondataframesr_spark.llm.semdedup import CLUSTER_PAIR_CAP

    n = duckdb.sql(
        "SELECT count(*) FROM read_parquet('/root/testdata/sf0.1/embeddings.parquet')"
    ).fetchone()[0]
    assert n < CLUSTER_PAIR_CAP


def test_dedup_spans_keep_first_semantics(spark, sf_dir):
    """Span dedup invariants the DuckDB differential can't see in
    isolation: (1) every kept span text is globally unique; (2) a
    dropped span's text also appears as some KEPT span earlier in
    (doc_id, seg_idx) order; (3) reassembled text of an all-kept doc
    round-trips to the original; (4) span accounting covers the doc."""
    import pyspark.sql.functions as F

    from sqlondataframesr_spark.catalog import load_table
    from sqlondataframesr_spark.llm.dedup import SPAN_K, dedup_spans

    out = dedup_spans(spark, sf_dir)
    docs = {r.doc_id: r.text for r in load_table(spark, sf_dir, "documents").collect()}
    rows = out.collect()
    assert {r.doc_id for r in rows} == set(docs)

    kept_spans: dict[str, tuple[int, int]] = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        words = docs[r.doc_id].split(" ")
        n_spans = -(-len(words) // SPAN_K)
        assert r.n_spans == n_spans
        # 0 is legitimate: an exact-duplicate doc keeps nothing
        assert 0 <= r.n_kept <= r.n_spans
        if r.n_kept == r.n_spans:  # all kept → byte-exact round trip
            assert r.clean_text == docs[r.doc_id]
    # global uniqueness + drop justification, recomputed from scratch
    seen: set[str] = set()
    n_kept_by_doc: dict[int, int] = {}
    for doc_id in sorted(docs):
        words = docs[doc_id].split(" ")
        for i in range(-(-len(words) // SPAN_K)):
            seg = " ".join(words[i * SPAN_K : (i + 1) * SPAN_K])
            if seg not in seen:
                seen.add(seg)
                n_kept_by_doc[doc_id] = n_kept_by_doc.get(doc_id, 0) + 1
    for r in rows:
        assert r.n_kept == n_kept_by_doc.get(r.doc_id, 0)


def test_sq8_recall_vs_bruteforce(spark, sf_dir):
    """SQ8 is an approximation: assert its top-5 keeps >= 80% of the
    exact brute-force top-5 per query on the test corpus — the
    quality contract that makes the cheaper rung usable (the
    oracle differential alone only proves the algorithm is replayed
    faithfully, not that it is any good)."""
    from sqlondataframesr_spark.llm.similarity import ann_cosine_topk, ann_sq8_topk

    exact = ann_cosine_topk(spark, sf_dir).collect()
    approx = ann_sq8_topk(spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.q_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.q_id, set()).add(r.neighbor_id)
    assert set(got) == set(truth)
    recalls = [len(got[q] & truth[q]) / len(truth[q]) for q in truth]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_decontam_scrub_removes_exactly_the_shared_span(spark):
    """Planted contamination: a train doc embedding a 14-token eval
    span must lose EXACTLY those 14 tokens (the union of the two
    13-windows that hit), keeping its own prefix/suffix; a clean doc
    and a sub-13-token doc pass through byte-identical."""
    from sqlondataframesr_spark.llm import decontam as D

    span = " ".join(f"s{i}" for i in range(14))
    rows = [
        (0, span),  # eval doc (0 % 53 == 0)
        (1, " ".join(f"a{i}" for i in range(5)) + " " + span + " "
            + " ".join(f"b{i}" for i in range(5))),
        (2, " ".join(f"c{i}" for i in range(20))),  # clean
        (3, "tiny doc under thirteen tokens here"),  # no windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = D.load_table
    try:
        D.load_table = lambda sp, sf, name: df
        got = {r.doc_id: r for r in D.decontam_scrub_spans(spark, "_planted").collect()}
    finally:
        D.load_table = orig
    assert set(got) == {1, 2, 3}  # eval doc excluded
    assert got[1].n_tokens == 24 and got[1].n_removed == 14
    assert got[1].scrubbed_text == (
        " ".join(f"a{i}" for i in range(5)) + " " + " ".join(f"b{i}" for i in range(5))
    )
    assert got[2].n_removed == 0 and got[2].scrubbed_text == rows[2][1]
    assert got[3].n_removed == 0 and got[3].scrubbed_text == rows[3][1]


def test_prototypicality_prune_drops_top_quarter_per_cluster(spark, sf_dir):
    """Per trained cluster, exactly floor(size/4) members are marked
    keep=false, and they are precisely the top of the (proto_cos DESC,
    vec_id ASC) order — the most prototypical, per Sorscher et al.'s
    self-supervised metric. Also: ranks are a 1..size permutation and
    every vector appears exactly once."""
    from collections import defaultdict

    from sqlondataframesr_spark.llm.semdedup import emb_prototypicality_prune

    rows = emb_prototypicality_prune(spark, sf_dir).collect()
    assert len({r.vec_id for r in rows}) == len(rows)
    by_c = defaultdict(list)
    for r in rows:
        by_c[r.c_id].append(r)
    assert len(by_c) > 1
    for c, mem in by_c.items():
        mem.sort(key=lambda r: (-r.proto_cos, r.vec_id))
        assert sorted(r.proto_rank for r in mem) == list(range(1, len(mem) + 1))
        cut = len(mem) // 4
        assert [not r.keep for r in mem] == [i < cut for i in range(len(mem))], c


def test_unimax_waterfilling_invariants(spark, sf_dir):
    """The UniMax allocation must satisfy the paper's contract on any
    corpus: (a) no language exceeds its epoch cap, (b) capped <=>
    alloc == cap, (c) every UNcapped language gets the same equal
    share, strictly above every capped language's cap (the waterline),
    and (d) the full budget is spent (sum of allocations == budget,
    within the 2dp rounding of the uncapped share)."""
    from sqlondataframesr_spark.llm.sampling import (
        UNIMAX_BUDGET_DEN,
        UNIMAX_BUDGET_NUM,
        sample_unimax_allocation,
    )

    rows = sample_unimax_allocation(spark, sf_dir).collect()
    assert len(rows) > 1
    total = sum(r.lang_tokens for r in rows)
    budget = (UNIMAX_BUDGET_NUM * total) // UNIMAX_BUDGET_DEN
    capped = [r for r in rows if r.capped]
    free = [r for r in rows if not r.capped]
    assert capped and free  # constants chosen so the cap binds here
    for r in rows:
        assert r.alloc_tokens <= r.cap_tokens + 0.005, r
        assert (r.alloc_tokens == r.cap_tokens) == bool(r.capped), r
        assert abs(r.epochs - round(r.alloc_tokens / r.lang_tokens, 6)) < 1e-9
    shares = {r.alloc_tokens for r in free}
    assert len(shares) == 1  # equal share for every uncapped language
    waterline = shares.pop()
    assert all(r.cap_tokens < waterline for r in capped)
    spent = sum(r.alloc_tokens for r in rows)
    assert abs(spent - budget) <= 0.01 * len(free) + 1e-6


def test_matryoshka_report_measures_its_own_recall(spark, sf_dir):
    """The MRL rung's recall report must equal a recall computed
    independently from the two registered outputs — the meter is only
    trustworthy if it measures what it claims. On the synthetic
    isotropic embeddings the measured recall is deliberately mediocre
    (the prefix carries no privileged signal — that is the honest
    reading for non-MRL vectors); the report exists so production can
    gate the rung on MRL-trained embeddings, where this approaches 1.
    Also pins a planted-prefix case: when the full vector IS its
    prefix (zero tail), the rung must recover brute force exactly."""
    from sqlondataframesr_spark.llm.similarity import (
        TOP_K,
        ann_cosine_topk,
        ann_matryoshka_recall_report,
        ann_matryoshka_topk,
    )

    truth: dict[int, set[int]] = {}
    for r in ann_cosine_topk(spark, sf_dir).collect():
        truth.setdefault(r.q_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in ann_matryoshka_topk(spark, sf_dir).collect():
        got.setdefault(r.q_id, set()).add(r.neighbor_id)
    report = {r.q_id: (r.n_hits, r.recall) for r in
              ann_matryoshka_recall_report(spark, sf_dir).collect()}
    assert set(report) == set(truth)
    for q in truth:
        n = len(truth[q] & got.get(q, set()))
        assert report[q] == (n, n / TOP_K), q


def test_matryoshka_exact_when_signal_lives_in_prefix(spark):
    """When the tail dims are zero the prefix cosine IS the full
    cosine, so the shortlist provably contains the true top-k and the
    rung must equal brute force row-for-row."""
    import math

    from sqlondataframesr_spark.llm import similarity as S

    # 40 vectors, 64 dims, signal only in the first 16 — deterministic
    rows = []
    for i in range(40):
        pre = [math.sin(i * 16 + d) for d in range(16)]
        rows.append((i, [float(x) for x in pre] + [0.0] * 48, 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    # route load_vectors at the planted frame: patch the name the module
    # resolves (similarity imported load_table into its own namespace)
    orig = S.load_table
    try:
        S.load_table = lambda sp, sf, name: df  # embeddings only here
        exact = [(r.q_id, r.neighbor_id, r.cosine, r.rnk)
                 for r in S.ann_cosine_topk(spark, "_planted").collect()]
        mrl = [(r.q_id, r.neighbor_id, r.cosine, r.rnk)
               for r in S.ann_matryoshka_topk(spark, "_planted").collect()]
    finally:
        S.load_table = orig
    assert exact == mrl and len(exact) == S.N_QUERIES * S.TOP_K


def test_containment_detects_embedded_doc_jaccard_misses(spark):
    """The asymmetric operator's reason to exist: a short doc fully
    embedded in a much longer one is containment 1.0 but low Jaccard —
    the pair must appear in dedup_containment (contained side only)
    and NOT in the Jaccard pair set."""
    short = "alpha beta gamma delta epsilon zeta"
    long = (
        "intro words before the quote " + short
        + " and a long tail of unrelated commentary continuing for many"
        " more tokens so the union dwarfs the intersection entirely"
    )
    rows = [(1, long), (2, short), (3, "completely different text about other things")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {
        (r.container_id, r.contained_id): r.containment
        for r in dedup._containment_pairs(df).collect()
    }
    assert cont.get((1, 2)) == 1.0          # short fully inside long
    assert (2, 1) not in cont               # long not inside short
    jac = {(r.doc_a, r.doc_b) for r in dedup._jaccard_pairs(df).collect()}
    assert (1, 2) not in jac                # Jaccard blind to this pair


def test_containment_counts_hot_shingles_exactly(spark):
    """r14 — the count-only verify decomposition (_capped_pair_counts:
    n_common = rare-shared count + hot-only intersect). On a corpus
    where the contained doc shares BOTH rare and corpus-hot (df > cap)
    shingles with its container, the hot term must contribute to
    n_common: containment is exactly 1.0, which a broken hot term
    (rare-only counting) would miss, and the brute-force intersection
    over the full shingle arrays must agree pairwise."""
    boiler = "the terms of service apply to all users of this web site"
    rows = [
        (i, f"{boiler} unique piece number {i} with extras {i * 7} {i * 13}")
        for i in range(30)
    ]
    short = f"{boiler} alpha beta gamma delta epsilon zeta"
    long = short + " plus a very long unrelated tail of commentary " + " ".join(
        f"t{i}" for i in range(40)
    )
    rows += [(100, long), (101, short)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # boiler shingles are hot: df >= 32 > cap=10 — the rare index alone
    # cannot account for them, only the hot-array term can
    exploded = dedup.with_shingles(df).select(
        "doc_id", F.explode("sh").alias("s")
    )
    max_df = exploded.groupBy("s").count().agg(F.max("count")).collect()[0][0]
    assert max_df > 10

    cont = {
        (r.container_id, r.contained_id): r.containment
        for r in dedup._containment_pairs(df, cap=10).collect()
    }
    assert cont.get((100, 101)) == 1.0  # hot shingles counted in n_common

    # pairwise ground truth from the full shingle arrays (the _r6
    # floor(x*1e6+0.5)/1e6 spelling, replicated)
    import math

    sh = {r.doc_id: set(r.sh) for r in dedup.with_shingles(df).collect()}
    for (big, small), c in cont.items():
        n_common = len(sh[big] & sh[small])
        expect = math.floor(n_common / len(sh[small]) * 1e6 + 0.5) / 1e6
        assert abs(c - expect) < 1e-9, (big, small, c, expect)


def test_bpe_learns_textbook_merges(spark):
    """Planted corpus with a known merge sequence, checked against a
    from-scratch local BPE (Sennrich-style greedy left-to-right):
    the distributed learner must reproduce ranks, pairs AND counts."""
    from collections import Counter

    from sqlondataframesr_spark.llm.bpe import MERGES, _learn_merges

    texts = [
        "banana bandana cabana",
        "banana banana bandana!",
        "Ban the bandana cabal.",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    # local reference
    import re

    words = Counter(
        w for t in texts for w in re.split("[^a-z]+", t.lower()) if len(w) >= 2
    )
    syms = {w: list(w) for w in words}
    expected = []
    for rank in range(1, MERGES + 1):
        pairs = Counter()
        for w, f in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += f
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rank, l, r, cnt))
        for w in words:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out

    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in _learn_merges(df).collect()
    ]
    assert got == expected


def test_ivf_pq_recall_decomposed(spark, sf_dir):
    """IVF-PQ composes TWO approximations; hold each to its own
    contract. (1) PQ-stage loss: vs ann_ivf_topk — the SAME coarse
    candidates scored exactly — the ADC shortlist + refine must keep
    >= 0.8 of the top-5 (a bug in the code/LUT joins would crater
    this). (2) End-to-end vs brute force only gets a weak floor
    (>= 0.3): the stand-in centroids' pruning dominates that number
    and is already pinned by the IVF rung's own tests."""
    from sqlondataframesr_spark.llm.pq import ann_ivf_pq_topk
    from sqlondataframesr_spark.llm.similarity import ann_cosine_topk, ann_ivf_topk

    def topk(rows):
        out: dict[int, set[int]] = {}
        for r in rows:
            out.setdefault(r.q_id, set()).add(r.neighbor_id)
        return out

    got = topk(ann_ivf_pq_topk(spark, sf_dir).collect())
    ivf = topk(ann_ivf_topk(spark, sf_dir).collect())
    brute = topk(ann_cosine_topk(spark, sf_dir).collect())
    assert set(got) == set(brute)
    vs_ivf = [len(got[q] & ivf[q]) / len(ivf[q]) for q in ivf]
    assert sum(vs_ivf) / len(vs_ivf) >= 0.8, vs_ivf
    vs_brute = [len(got[q] & brute[q]) / len(brute[q]) for q in brute]
    assert sum(vs_brute) / len(vs_brute) >= 0.3, vs_brute


def test_matryoshka_zero_prefix_agrees_across_engines(spark, tmp_path):
    """r8 ADVICE: a vector whose first 16 dims are ALL zero has prefix
    norm 0; the prefix cosine must be NULL on BOTH engines. Spark's
    non-ANSI x/0 is NULL; DuckDB's answer is VERSION-DEPENDENT (1.0
    returns NULL, >=1.1 defaults ieee_floating_point_ops=true and
    returns nan — which sorts FIRST under DESC NULLS LAST and evicts
    real candidates from the shortlist). nullif() pins NULL on every
    version. The fixture plants 10 zero-prefix candidates AND a true
    top-1 neighbor at exactly prefix rank 20, the band a 10-row nan
    jump would evict — so on an ieee-mode DuckDB the un-guarded
    oracle provably returns a different top-5 for query 0."""
    import math

    import duckdb

    from sqlondataframesr_spark.check import compare_rows, duckdb_rows, spark_rows
    from sqlondataframesr_spark.llm import similarity as S

    # Designed so query 0's TRUE top-1 neighbor ("X", id 39) sits at
    # prefix rank 20 — inside Spark's 25-slot shortlist, but evicted
    # from a pre-fix DuckDB shortlist where 10 nan rows (zero-prefix
    # ids 10-19) jump the DESC sort and leave only 15 real slots.
    def vec(prefix, tail):
        v = [0.0] * 64
        for d, x in prefix:
            v[d] = x
        for d, x in tail:
            v[16 + d] = x
        return [float(x) for x in v]

    rows = [(0, vec([(0, 1.0)], [(0, 1.0)]), 0)]           # query 0
    for i in range(1, S.N_QUERIES):                         # queries 1-9:
        # slightly ANTI-aligned prefixes (pcos < 0 vs q0) so they rank
        # BELOW X, keeping X at exactly prefix rank 20 for q0
        rows.append((i, vec([(0, -0.1), (i % 16, 1.0)], [(1 + i, 1.0)]), 0))
    for i in range(10, 20):                                 # zero prefix: pcos 0/0
        rows.append((i, vec([], [(10 + i, 1.0)]), 0))
    for j, i in enumerate(range(20, 39)):                   # 19 decoys: high pcos,
        th = 0.07 * (j + 1)                                 # tails orthogonal to q0
        rows.append((i, vec([(0, math.cos(th)), (1, math.sin(th))], [(1, 1.0)]), 0))
    # X: prefix orthogonal to q0 (pcos 0 -> rank 20), tail aligned
    # with q0's tail -> full cosine ~0.707 beats every decoy's <=0.5
    rows.append((39, vec([(1, 1.0)], [(0, 1.0)]), 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pq = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.parquet(pq)

    orig = S.load_table
    try:
        S.load_table = lambda sp, sf, name: spark.read.parquet(pq)
        cols, lrows = spark_rows(S.ann_matryoshka_topk(spark, "_planted"))
    finally:
        S.load_table = orig

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq}/*.parquet')"
        )
        oracle = duckdb_rows(con, registry.oracles()["ann_matryoshka_topk"])
    finally:
        con.close()
    problems = compare_rows(cols, lrows, *oracle)
    assert not problems, problems
    assert len(lrows) == S.N_QUERIES * S.TOP_K


def test_bigram_lm_penalizes_word_order_destruction(spark):
    """The bigram scorer's reason to exist over text_unigram_logprob:
    two docs with the IDENTICAL token multiset (so every unigram
    statistic ties) must separate when one follows the corpus's
    dominant transitions and the other breaks them."""
    from sqlondataframesr_spark.llm import lm

    rows = [(i, "a b a b a b a b") for i in range(20)]   # corpus: a<->b dominant
    rows.append((100, "a b a b a b"))                    # follows transitions
    rows.append((101, "a a a b b b"))                    # same multiset, broken order
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = lm.load_table
    try:
        lm.load_table = lambda sp, sf, name: df
        got = {r.doc_id: r for r in lm.lm_bigram_logprob(spark, "_planted").collect()}
    finally:
        lm.load_table = orig
    assert got[100].n_bigrams == 5 and got[101].n_bigrams == 5
    assert got[100].avg_logprob > got[101].avg_logprob


def test_nb_classifier_perfect_on_disjoint_vocab(spark):
    """Langs with disjoint vocabularies must classify every held-out
    doc correctly: the confusion matrix is exactly diagonal."""
    from sqlondataframesr_spark.llm import lm

    vocab = {"aa": "alpha beta gamma", "bb": "delta epsilon zeta", "cc": "eta theta iota"}
    rows = []
    for li, (lang, words) in enumerate(sorted(vocab.items())):
        for j in range(10):
            rows.append((li * 10 + j, f"{words} {words}", lang, "s", 1))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = lm.load_table
    try:
        lm.load_table = lambda sp, sf, name: df
        conf = lm.nb_lang_confusion(spark, "_planted").collect()
    finally:
        lm.load_table = orig
    # every lang has held-out docs (ids 0,5,10,...) and all predictions
    # land on the diagonal
    assert conf and all(r.true_lang == r.pred_lang for r in conf)
    assert {r.true_lang for r in conf} == set(vocab)
    assert sum(r.n_docs for r in conf) == sum(1 for r in rows if r[0] % lm.NB_TEST_MOD == 0)


def test_tercile_gate_buckets_are_ordered_and_exhaustive(spark, sf_dir):
    """head/middle/tail must partition every scored doc per lang, with
    strict score separation at the cutoffs (head >= p66 > middle,
    middle >= p33 > tail by construction)."""
    from sqlondataframesr_spark.llm import lm

    rows = lm.lm_perplexity_tercile_gate(spark, sf_dir).collect()
    assert rows
    per_lang: dict = {}
    for r in rows:
        per_lang.setdefault(r.lang, {}).setdefault(r.bucket, []).append(r.avg_logprob)
    for lang, buckets in per_lang.items():
        assert set(buckets) <= {"head", "middle", "tail"}
        if "head" in buckets and "middle" in buckets:
            assert min(buckets["head"]) > max(buckets["middle"]), lang
        if "middle" in buckets and "tail" in buckets:
            assert min(buckets["middle"]) > max(buckets["tail"]), lang


def test_ngram_diversity_separates_templated_from_varied(spark):
    """distinct-n exists to flag templated/synthetic collapse: a
    source of 10 identical docs must score far below a source of 10
    all-different docs at every n, and every ratio is in (0, 1]."""
    from sqlondataframesr_spark.llm import diversity as D

    rows = [(i, "the same template every time", "dup", 1) for i in range(10)]
    rows += [(100 + i, f"w{i}a w{i}b w{i}c w{i}d w{i}e", "var", 1) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, n_chars long")
    orig = D.load_table
    try:
        D.load_table = lambda sp, sf, name: df
        got = {(r.source, r.n): r for r in D.corpus_ngram_diversity(spark, "_p").collect()}
    finally:
        D.load_table = orig
    for n in D.DIVERSITY_NS:
        dup, var = got[("dup", n)], got[("var", n)]
        assert 0 < dup.diversity <= 1 and 0 < var.diversity <= 1
        assert var.diversity > dup.diversity
        assert dup.distinct_ngrams <= dup.total_ngrams
    assert got[("var", 1)].diversity == 1.0  # all 50 tokens unique


def test_zipf_slope_near_minus_one_on_planted_power_law(spark):
    """A corpus whose term frequencies follow freq(r) = N/r must fit a
    slope near -1 — the sanity anchor for the report's sign and
    magnitude conventions."""
    from sqlondataframesr_spark.llm import diversity as D

    words = []
    for r in range(1, 51):
        words += [f"t{r:03d}"] * max(1, round(600 / r))
    # spread the bag over docs (content split is irrelevant to freq)
    rows = [(i, " ".join(words[i::20]), "s", 1) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, n_chars long")
    orig = D.load_table
    try:
        D.load_table = lambda sp, sf, name: df
        row = D.corpus_zipf_slope(spark, "_p").collect()[0]
    finally:
        D.load_table = orig
    assert row.n_terms == 50
    assert -1.15 < row.slope < -0.85, row.slope


def test_source_overlap_disjoint_vs_identical(spark):
    """Disjoint-vocab sources must produce NO pair row; two sources
    with the same shingle set must hit overlap_coef 1.0."""
    from sqlondataframesr_spark.llm import diversity as D

    rows = [
        (1, "alpha beta gamma delta", "s1", 1),
        (2, "alpha beta gamma delta", "s2", 1),   # same shingles as s1
        (3, "omega psi chi phi", "s3", 1),        # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, n_chars long")
    import sqlondataframesr_spark.llm.dedup as dd

    orig_div, orig_dd = D.load_table, dd.load_table
    try:
        D.load_table = lambda sp, sf, name: df
        got = {(r.source_a, r.source_b): r.overlap_coef
               for r in D.corpus_source_overlap(spark, "_p").collect()}
    finally:
        D.load_table, dd.load_table = orig_div, orig_dd
    assert got == {("s1", "s2"): 1.0}


def test_perceptron_converges_on_separable_data(spark, tmp_path, plant_tables):
    """Linearly separable injection: label-0 vectors at +e1, others at
    -e1 (quantized to +-127). Round 1 starts from zero weights (every
    y*0 <= 0 counts as a mistake), its update sets w_0 = 6*127 = 762,
    and every later round is mistake-free with the weights frozen —
    the batch-perceptron fixed point."""
    from sqlondataframesr_spark.llm import linear as L

    rows = []
    for i in range(3):
        rows.append((i, [1.0] + [0.0] * 63, 0))
        rows.append((10 + i, [-1.0] + [0.0] * 63, 5))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with plant_tables(tmp_path, embeddings=df):
        got = [
            (r.round, r.n_mistakes, r.w_l1, r.bias)
            for r in L.ml_perceptron_curve(spark, str(tmp_path)).collect()
        ]
    assert got == [(t, 6 if t == 1 else 0, 762, 0) for t in range(1, 6)]


def test_perceptron_confusion_perfect_on_separable_data(spark, tmp_path, plant_tables):
    """On the separable fixture the final weights classify perfectly:
    only (1,1) and (-1,-1) confusion cells, 3 rows each."""
    from sqlondataframesr_spark.llm import linear as L

    rows = []
    for i in range(3):
        rows.append((i, [1.0] + [0.0] * 63, 0))
        rows.append((10 + i, [-1.0] + [0.0] * 63, 5))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with plant_tables(tmp_path, embeddings=df):
        got = {
            (r.y_true, r.y_pred): r.n
            for r in L.ml_perceptron_confusion(spark, str(tmp_path)).collect()
        }
    assert got == {(1, 1): 3, (-1, -1): 3}


def test_perceptron_ovr_perfect_on_axis_separated_classes(spark, tmp_path, plant_tables):
    """Three classes sitting on three orthogonal axes (+-e1/e2/e3, two
    vectors each): after training, argmax-margin serving must produce
    a perfect diagonal confusion matrix; classes with no positive
    examples never win the argmax."""
    from sqlondataframesr_spark.llm import linear as L

    rows = []
    vid = 0
    for cls in range(3):
        for _ in range(2):
            v = [0.0] * 64
            v[cls] = 1.0
            rows.append((vid, v, cls))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with plant_tables(tmp_path, embeddings=df):
        got = {
            (r.y_true, r.y_pred): r.n
            for r in L.ml_perceptron_ovr_confusion(spark, str(tmp_path)).collect()
        }
    assert got == {(0, 0): 2, (1, 1): 2, (2, 2): 2}


def test_ann_recall_report_invariants(spark, sf_dir):
    """One row per ANN method; pooled n_possible = N_QUERIES * TOP_K;
    recall_ppm bounded by [0, 1e6] and exactly n_hits-consistent; the
    exact-rerank methods (sq8 scores in int8 but reranks shortlists
    exactly) can never beat brute force (recall <= 1e6 is structural,
    not statistical)."""
    from sqlondataframesr_spark.llm import annrecall as AR
    from sqlondataframesr_spark.llm import similarity as S

    rows = AR.ann_recall_report(spark, sf_dir).collect()
    assert [r.method for r in rows] == sorted(
        m for m, _, _ in AR._METHODS
    )
    for r in rows:
        assert r.n_possible == S.N_QUERIES * S.TOP_K
        assert 0 <= r.n_hits <= r.n_possible
        assert r.recall_ppm == r.n_hits * 1_000_000 // r.n_possible


def test_pca_power_concentrates_on_the_variance_axis(spark, tmp_path, plant_tables):
    """Designed corpus: all variance lives on dim 1 (vectors k*e1,
    k = -3..3, zero elsewhere) -> the loading vector must be exactly
    +-1e6 on dim 1 and 0 on every other dim."""
    from sqlondataframesr_spark.llm import pca as P

    rows = [
        (k + 4, [float(k)] + [0.0] * (P.PCA_DIM - 1), 0)
        for k in range(-3, 4)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with plant_tables(tmp_path, embeddings=df):
        out = {r.dim: r.loading_ppm
               for r in P.emb_pca_power(spark, str(tmp_path)).collect()}
    assert abs(out[1]) == 1000000
    assert all(out[d] == 0 for d in range(2, P.PCA_DIM + 1))


def test_perceptron_update_struct_matches_column_form(spark):
    """r13 internals change: the 64 per-dimension update sums ride ONE
    parsed struct expression (_UPD_STRUCT) instead of 64 Column
    objects. Equivalence is pinned here against the Column-built form
    on a deterministic mixed-sign frame — any drift in a cast, a
    coalesce or an element index breaks this, not the bench."""
    from pyspark.sql import functions as F

    from sqlondataframesr_spark.llm import linear as L

    rows = [
        (i, (1 if i % 3 else -1), [((i * 7 + d) % 11) - 5 for d in range(L.DIM)])
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, y long, xq array<bigint>"
    )
    got = df.agg(F.expr(L._UPD_STRUCT).alias("u")).select("u.*").collect()[0]
    want = df.agg(
        F.count(F.lit(1)).cast("long").alias("nm"),
        F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("db"),
        *[
            F.coalesce(F.sum(F.expr(f"y * element_at(xq, {i + 1})")), F.lit(0))
            .cast("long")
            .alias(f"d{i}")
            for i in range(L.DIM)
        ],
    ).collect()[0]
    assert got.asDict() == want.asDict()
    # empty input: count 0, every sum coalesces to 0 (the round-1
    # no-misclassified edge the curve relies on)
    empty = df.filter("vec_id < 0")
    got0 = empty.agg(F.expr(L._UPD_STRUCT).alias("u")).select("u.*").collect()[0]
    assert got0.nm == 0 and got0.db == 0 and got0.d0 == 0
