"""Deduplication operators over ``documents``: exact, n-gram Jaccard,
MinHash-LSH, SimHash.

The family covers the full scale ladder for a training corpus:

- exact (hash groupBy)           — always-on, one shuffle of hashes;
- n-gram Jaccard (inverted index)— exact near-dup ground truth; cost
  grows with shared-shingle pair count, fine to ~10^6 docs;
- MinHash + LSH banding          — the 100 TB path: fixed-size
  signatures, candidates only from band-bucket collisions, exact
  verification on the (tiny) candidate set;
- SimHash                        — bit-sketch variant (llm/simhash.py).

All hashing is md5-based so the DuckDB oracles reproduce signatures
bit-for-bit — no engine-private hash functions anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..materialize import materialize, spread_scan
from ..operators.components import min_label_components
from ..catalog import load_table
from ..functions.dialect import DUCK, SPARK, Dialect, dual
from ..functions.rounding import r6 as _r6, r6_sql
from ..functions.closure_sql import packed_closure_sql

#: near-duplicate decision threshold on word-3-shingle Jaccard
JACCARD_THRESHOLD = 0.8


def with_shingles(docs: DataFrame) -> DataFrame:
    """doc_id + distinct word 3-shingles (documents with <3 tokens are
    excluded — they have no 3-shingle and no Jaccard identity).

    ``spread_scan``: the shingle transform (and the per-shingle md5
    signatures most consumers layer on it) is the CPU-dense pass of
    the whole dedup family; the single-row-group testdata scan would
    otherwise run it on 1 core (see materialize.spread_scan — no-op
    on a properly-split scan)."""
    return (
        spread_scan(docs, "doc_id").withColumn("w", F.split(F.col("text"), " "))
        .filter(F.size("w") >= 3)
        .withColumn(
            "sh",
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(w)-3),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                )
            ),
        )
        .select("doc_id", "sh")
    )


def shingle_comp_sql(d: Dialect, indent: int) -> str:
    """The word 3-shingles of a token list ``w``, the ``for`` clause on
    its own line at ``indent``."""
    i = "CAST(i AS INT)"
    sh = " || ' ' || ".join(d.at("w", f"{i}{k}") for k in ("", "+1", "+2"))
    return d.comp(sh, "i", d.seq(1, f"{d.fn('len', 'w')}-1"), brk="\n" + " " * indent)


def shingle_list_sql(d: Dialect) -> str:
    """The distinct word 3-shingles of a token list ``w``."""
    return d.fn("list_distinct", shingle_comp_sql(d, 24))


def shingles_sql(d: Dialect) -> str:
    """(doc_id, sh): each document's distinct word 3-shingles; shared
    with llm/minhash.py, llm/decontam.py, llm/bloom.py and
    llm/incremental.py."""
    return f"""
  SELECT doc_id,
         {shingle_list_sql(d)} AS sh
  FROM (SELECT doc_id, {d.fn('string_split', 'text', "' '")} AS w FROM documents)
  WHERE {d.fn('len', 'w')} >= 3
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup decision table: one row per distinct text, with the
    canonical keeper (min doc_id) and the duplicate count.

    Scale: the groupBy key is md5(text) — 16 opaque bytes instead of
    the full document — so the shuffle moves hashes, not text. This is
    THE first pass on any corpus; at 100 TB it is one all-to-all
    shuffle of ~doc_count * 40B.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


def _jaccard_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a < doc_b, jaccard) pairs with word-3-shingle Jaccard >=
    JACCARD_THRESHOLD, via an inverted shingle index (see
    dedup_ngram_jaccard for the scale discussion)."""
    # shingled feeds four branches (sizes x2, inverted index x2);
    # checkpoint so shingling runs once instead of per-branch.
    shingled = with_shingles(docs).transform(materialize)
    sizes = shingled.select("doc_id", F.size("sh").alias("n_sh"))
    exploded = shingled.select("doc_id", F.explode("sh").alias("s"))

    a = exploded.alias("a")
    b = exploded.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = (
        common.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            _r6(
                F.col("n_common").cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")).cast(
                    "double"
                )
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-duplicate pairs: word-3-shingle Jaccard >= 0.8.

    Implementation is an inverted shingle index: explode distinct
    shingles, self-join on the shingle (doc_a < doc_b), count common
    shingles per pair, compute |A|+|B|-common. All JVM-side.

    Scale: cost is sum over shingles of df^2 (df = docs containing the
    shingle) — exact but quadratic in hot shingles. At corpus scale
    you (a) drop stop-shingles above a document-frequency cap, or
    (b) switch to dedup_minhash_lsh, which this operator ground-truths
    at test scale. The shingle join shuffles (shingle, doc_id) pairs;
    skewed hot shingles are exactly what AQE skew-join splitting
    handles.
    """
    return _jaccard_pairs(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_a", "doc_b"
    )


def _shingle_postings_sql(d: Dialect) -> str:
    """``s`` (doc_id, shingle array) and ``e`` (one row per doc_id,
    shingle): the CTEs every shingle-join oracle starts from."""
    return f"""s AS ({shingles_sql(d)}),
e AS (SELECT doc_id, {d.fn('unnest', 'sh')} AS sh FROM s)"""


def _exact_common_sql(d: Dialect) -> str:
    """s -> e -> sizes -> common: shared-shingle count of every doc
    pair with one shingle in common (the uncapped self-join)."""
    return f"""{_shingle_postings_sql(d)},
sizes AS (SELECT doc_id, {d.fn('len', 'sh')} AS n_sh FROM s),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _ngram_jaccard_sql(d: Dialect) -> str:
    return f"""
WITH {_exact_common_sql(d)}
SELECT c.doc_a, c.doc_b,
       {r6_sql('''CAST(c.n_common AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE)''')} AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE {r6_sql('''CAST(c.n_common AS DOUBLE)
      / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE)''')} >= {JACCARD_THRESHOLD}{d.D}
ORDER BY doc_a, doc_b
"""


#: document-frequency cap for the capped inverted index: shingles in
#: more than this many documents never generate candidate pairs
SHINGLE_DF_CAP = 10


def _capped_pair_counts(items: DataFrame, elem: str, cap: int) -> DataFrame:
    """Candidate pairs with EXACT shared-element counts from a
    DF-capped inverted index over ``items = (doc_id, <elem>: array)``
    (``elem`` arrays are distinct per doc). Returns one row per
    candidate pair: (doc_a < doc_b, n_common, na, nb).

    r14 (VERDICT r13 item 1, guide §1.2 per-task work): the verify
    stage used to semi-join the candidate docs back to their FULL
    element arrays and compute ``size(array_intersect(arr_a, arr_b))``
    per pair — a per-pair hash-set build over ~10^2 strings, ~54 s of
    JVM CPU at sf0.1 on dedup_containment alone, and the full arrays
    rode two shuffles to get there. The count decomposes exactly:
    rare = {{e: df(e) <= cap}} and hot = {{e: df(e) > cap}} partition
    the element space, so

        |arr_a ∩ arr_b| = |arr_a ∩ arr_b ∩ rare| + |arr_a ∩ arr_b ∩ hot|.

    The RARE term is free: the capped index's pair expansion emits the
    pair (a, b) exactly once per shared rare element (postings are
    per-element doc lists; arrays are distinct per doc), so replacing
    the old ``DISTINCT`` with ``groupBy(pair).count()`` yields
    |∩ ∩ rare| in the same shuffle that built the candidates. The HOT
    term touches only per-doc HOT-ONLY arrays (empty unless a
    boilerplate element exceeds the cap — at test scale identically
    empty; at 100 TB bounded by the few corpus-hot elements), so the
    ``array_intersect`` that remains runs on tiny arrays. The oracles
    are unchanged — same candidate set, same counts, bit-identical
    output (equivalence pinned in tests/test_llm_ops.py).
    """
    exploded = items.select(
        "doc_id", F.explode(elem).alias("s")
    ).transform(materialize)
    # element document frequencies feed BOTH the rare filter (candidate
    # generation) and the hot filter (per-doc hot arrays) — pin, or the
    # groupBy aggregate over the postings runs twice
    dfs = (
        exploded.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .transform(materialize)
    )
    rare = dfs.filter(F.col("df") <= cap).select("s")
    per_elem = (
        exploded.join(rare, "s", "left_semi")
        .groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    pair_expr = (
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds)), y ->"
        " struct(x AS doc_a, y AS doc_b))))"
    )
    # one pair row per shared RARE element -> the count IS
    # |arr_a ∩ arr_b ∩ rare| (the old code's DISTINCT over the same
    # rows, plus the count the verify join used to recompute the hard
    # way); keys identical to the old candidate set
    cand = (
        per_elem
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_rare_common"))
    )
    # per-doc info: array size + HOT-ONLY elements (usually empty) —
    # the only array that still reaches the per-pair intersect
    hot = dfs.filter(F.col("df") > cap).select("s")
    hot_arrs = (
        exploded.join(hot, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("s").alias("hot_el"))
    )
    info = (
        items.select("doc_id", F.size(elem).alias("n_el"))
        .join(hot_arrs, "doc_id", "left")
        .select(
            "doc_id",
            "n_el",
            F.coalesce(
                F.col("hot_el"), F.expr("cast(array() as array<string>)")
            ).alias("hot_el"),
        )
        .transform(materialize)
    )
    ia = info.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_el").alias("na"),
        F.col("hot_el").alias("hot_a"),
    )
    ib = info.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_el").alias("nb"),
        F.col("hot_el").alias("hot_b"),
    )
    return (
        cand.join(ia, "doc_a")
        .join(ib, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_rare_common")
                + F.size(F.array_intersect("hot_a", "hot_b"))
            ).alias("n_common"),
            "na",
            "nb",
        )
    )


def _jaccard_pairs_capped(
    docs: DataFrame, cap: int = SHINGLE_DF_CAP
) -> DataFrame:
    """Near-dup pairs via a document-frequency-capped inverted index.

    The exact inverted-index join (:func:`_jaccard_pairs`) pays
    sum-over-shingles of df^2 — a boilerplate shingle shared by 10^5
    docs alone contributes 10^10 pre-aggregation rows. The survivable
    form is candidate-generation/verification:

    1. **candidates** come only from shingles with document frequency
       <= ``cap`` — the pair blow-up is bounded by cap * (postings
       list), linear in corpus size for fixed cap;
    2. **verification is exact on the full shingle sets**: the docs
       appearing in any candidate pair are semi-joined back to their
       full shingle arrays and true Jaccard comes from
       ``array_intersect`` — so n_common includes hot shingles even
       though they never generated candidates. The cap narrows WHERE
       we look, never WHAT we compute.

    Plan shape (one real shuffle beyond shingling): postings shuffle
    once on the shingle for the DF count; the rare filter, the
    per-shingle pair expansion (``collect_list`` bounded by the cap,
    pairs generated map-side from the <=cap-element list) and the
    candidate distinct all ride that same partitioning. Verification
    touches only candidate docs' arrays — linear in candidates.

    Recall contract (deterministic, oracle-replicated): a qualifying
    pair is missed only if EVERY shingle it shares is hot (df > cap).
    At Jaccard >= 0.8 near-dups share most of their (mostly rare)
    shingles, so in practice the miss set is boilerplate-only pairs —
    exactly the pairs a training-data pipeline wants judged by content,
    not template.

    r14: verification no longer touches full shingle arrays — the
    exact n_common decomposes into the rare-shared count (free in the
    candidate aggregate) plus a hot-only intersect; see
    :func:`_capped_pair_counts`. The size-compatibility prefilter
    (jaccard(A,B) <= min/max sizes, 5e-7 slack for the r6 rounding)
    still drops size-incompatible pairs before the final arithmetic.
    """
    shingled = with_shingles(docs).transform(materialize)
    v = _capped_pair_counts(shingled, "sh", cap).filter(
        F.least("na", "nb").cast("double")
        >= F.lit(JACCARD_THRESHOLD - 5e-7)
        * F.greatest("na", "nb").cast("double")
    )
    verified = v.withColumn(
        "jaccard",
        _r6(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
        ),
    )
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )


def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of :func:`dedup_ngram_jaccard`: candidate
    pairs from a DF-capped inverted index, exact Jaccard verification
    on the candidates (see :func:`_jaccard_pairs_capped`). At test
    scale the corpus has no shingle hotter than the cap, so this
    provably returns the identical pair set as the exact operator —
    the DuckDB oracle replicates the capped algorithm, not the ideal
    answer, so the cap's recall semantics are themselves under test."""
    return _jaccard_pairs_capped(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_a", "doc_b"
    )


def _capped_verified_sql(d: Dialect) -> str:
    """s -> e -> rare -> p -> cand -> common -> verified: the oracle
    twin of :func:`_capped_pair_counts` — candidates from the DF-capped
    postings, exact shared count and both array sizes per candidate."""
    return f"""{_shingle_postings_sql(d)},
rare AS (SELECT sh FROM e GROUP BY sh HAVING COUNT(*) <= {SHINGLE_DF_CAP}),
p AS (SELECT e.doc_id, e.sh FROM e JOIN rare USING (sh)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN e ea ON ea.doc_id = c.doc_a
  JOIN e eb ON eb.doc_id = c.doc_b AND eb.sh = ea.sh
  GROUP BY 1, 2
),
verified AS (
  SELECT cm.doc_a, cm.doc_b, cm.n_common,
         {d.fn('len', 'sa.sh')} AS na, {d.fn('len', 'sb.sh')} AS nb
  FROM common cm
  JOIN s sa ON sa.doc_id = cm.doc_a
  JOIN s sb ON sb.doc_id = cm.doc_b
)"""


def _ngram_jaccard_capped_sql(d: Dialect) -> str:
    return f"""
WITH {_capped_verified_sql(d)}
SELECT doc_a, doc_b,
       {r6_sql('CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE)')}
         AS jaccard
FROM verified
WHERE {r6_sql('CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE)')}
      >= {JACCARD_THRESHOLD}{d.D}
ORDER BY doc_a, doc_b
"""


#: asymmetric containment threshold: fraction of the CONTAINED
#: document's shingles that must appear in the container
CONTAINMENT_THRESHOLD = 0.9


def _containment_pairs(docs: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Ordered (container, contained, containment) pairs over an
    arbitrary (doc_id, text) frame — body of :func:`dedup_containment`,
    split out so tests can run it on planted corpora.

    r14: n_common comes from :func:`_capped_pair_counts` (rare-shared
    count + hot-only intersect — no full-array verify join), and both
    containment directions are emitted from ONE pass via an inline
    2-struct explode instead of a UNION that re-executed the whole
    verify subtree twice (the old plan's single biggest cost: the
    union's branches each re-joined the full shingle arrays)."""
    shingled = with_shingles(docs).transform(materialize)
    v = _capped_pair_counts(shingled, "sh", cap)
    both = v.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("container_id"),
                    F.col("doc_b").alias("contained_id"),
                    _r6(
                        F.col("n_common").cast("double")
                        / F.col("nb").cast("double")
                    ).alias("containment"),
                ),
                F.struct(
                    F.col("doc_b").alias("container_id"),
                    F.col("doc_a").alias("contained_id"),
                    _r6(
                        F.col("n_common").cast("double")
                        / F.col("na").cast("double")
                    ).alias("containment"),
                ),
            )
        ).alias("d")
    ).select("d.container_id", "d.contained_id", "d.containment")
    return both.filter(F.col("containment") >= CONTAINMENT_THRESHOLD).orderBy(
        "container_id", "contained_id"
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-superset detection: ordered pairs (container, contained)
    where >= 90% of the contained document's word-3-shingles appear in
    the container — the asymmetric cousin of Jaccard dedup.

    Jaccard misses the quote/template/expansion case: a short document
    fully embedded in a much longer one has low Jaccard (union is
    dominated by the container) but containment 1.0. Training-data
    curation wants these pairs — the contained doc contributes nothing
    the container doesn't already, so the keeper policy can drop it.

    Candidates come from the same DF-capped inverted index as
    :func:`dedup_ngram_jaccard_capped` (pair blow-up bounded by
    cap x postings, linear in corpus size); verification is exact via
    ``array_intersect`` on the full shingle arrays of candidate docs
    only. Each unordered candidate pair is tested in BOTH directions
    (b-in-a and a-in-b) from the single intersection count — no second
    join. The DuckDB oracle replicates the capped candidate generation,
    so the cap's recall contract is itself under test.

    Scale: identical posture to the capped Jaccard — one shuffle of
    (shingle, doc_id) postings, map-side pair expansion bounded by the
    cap, verify touches candidate docs' arrays only.
    """
    return _containment_pairs(load_table(spark, sf_dir, "documents"))


def _containment_sql(d: Dialect) -> str:
    return f"""
WITH {_capped_verified_sql(d)},
dirs AS (
  SELECT doc_a AS container_id, doc_b AS contained_id,
         {r6_sql('CAST(n_common AS DOUBLE) / CAST(nb AS DOUBLE)')} AS containment
  FROM verified
  UNION ALL
  SELECT doc_b, doc_a,
         {r6_sql('CAST(n_common AS DOUBLE) / CAST(na AS DOUBLE)')}
  FROM verified
)
SELECT container_id, contained_id, containment
FROM dirs
WHERE containment >= {CONTAINMENT_THRESHOLD}{d.D}
ORDER BY container_id, contained_id
"""

#: exact-substring window length (tokens) — the classic 13-gram
#: training-data contamination/dedup criterion
SUBSTR_K = 13


def dedup_substring_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate pairs: documents sharing at least one
    exact 13-token window, with the shared-window count — the
    exact-substring criterion used for training-data dedup and
    benchmark contamination (13-gram overlap), windowed per token.

    Each document emits its distinct 13-gram md5s (map-only codegen —
    one md5 per window, windows via sequence+slice, no UDF); pairs
    come from the inverted gram index with one groupBy counting shared
    grams. A 13-token exact collision is vanishingly rare between
    genuinely different texts, so the postings lists are USUALLY short
    — but license headers and template boilerplate are corpus-hot
    13-grams, and this exact form pays df^2 on each of them (VERDICT
    r6 item 4 / r7 item 3). :func:`dedup_substring_13gram_capped` is
    the production form at scale: identical pair semantics from a
    DF-capped index with exact verification; this uncapped operator
    remains the test-scale ground truth it is verified against.
    """
    return _substring_pairs(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_a", "doc_b"
    )


def with_grams(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """(doc_id, gr=array of distinct k-token-window md5s) — the shared
    gram-building pass of the exact and capped substring operators."""
    # The window expression is TOTAL (IF-guarded): Catalyst can hoist a
    # generator's child past the row filter, and slice() — unlike array
    # indexing — throws on an out-of-range start, so sequence(0, n-k)
    # must never go descending for short docs even though their rows
    # are filtered out. (The 3-shingle operators survive unguarded only
    # because w[i] returns NULL instead of raising.)
    # spread_scan: one md5 per 13-token window is the CPU-dense pass —
    # same single-row-group-scan serialization fix as with_shingles
    return (
        spread_scan(docs, "doc_id")
        .withColumn("w", F.split(F.col("text"), " "))
        .filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    f"IF(size(w) >= {k},"
                    f" transform(sequence(0, size(w) - {k}),"
                    f"  i -> md5(concat_ws(' ', slice(w, i + 1, {k})))),"
                    " array())"
                )
            ).alias("gr"),
        )
    )


def _substring_pairs(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """(doc_a < doc_b, n_shared) pairs sharing >= 1 exact k-token window."""
    grams = with_grams(docs, k)
    # e feeds BOTH sides of the self-join — checkpoint, or the window
    # md5 map (the expensive part: one hash per token window) runs
    # twice (measured ~2x the query's cost at sf0.1).
    # explode_OUTER (r14): plain explode lets InferFiltersFromGenerate
    # synthesize `size(gr) > 0`, and pushdown inlines the ENTIRE md5
    # window chain into that filter BELOW the spread_scan exchange —
    # one serial pre-exchange evaluation of every gram per doc (the
    # dedup_winnow_pairs pathology, measured 3.8 s single-task here).
    # The outer form infers no filter; rows with empty gr cannot occur
    # (size(w) >= k guarantees >= 1 window) and the null guard keeps
    # the row set provably identical anyway.
    e = (
        grams.select("doc_id", F.explode_outer("gr").alias("gx"))
        .filter(F.col("gx").isNotNull())
        .transform(materialize)
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.gx") == F.col("b.gx")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def _grams_ctes(d: Dialect) -> str:
    """t -> tt -> g -> e: every document's distinct md5'd
    SUBSTR_K-token windows, one ``gx`` row each."""
    n = d.fn("len", "w")
    win = d.slice("w", "CAST(i AS INT)", f"CAST(i AS INT) + {SUBSTR_K - 1}", SUBSTR_K)
    gram = "md5(" + d.fn("array_to_string", "\n             " + win, "' '") + ")"
    grams = d.comp(gram, "i", d.seq(1, f"{n} - {SUBSTR_K - 2}"), brk="\n" + " " * 11)
    return f"""WITH t AS (
  SELECT doc_id, {d.fn('string_split', 'text', "' '")} AS w FROM documents
),
tt AS (SELECT doc_id, w FROM t WHERE {n} >= {SUBSTR_K}),
g AS (
  SELECT doc_id,
         {d.fn('list_distinct', grams)} AS gr
  FROM tt
),
e AS (SELECT doc_id, {d.fn('unnest', 'gr')} AS gx FROM g)"""


def _substring_sql(d: Dialect) -> str:
    return f"""
{_grams_ctes(d)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM e a JOIN e b ON a.gx = b.gx AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY doc_a, doc_b
"""


#: document-frequency cap for 13-gram postings: grams appearing in
#: more documents than this never generate candidate pairs (they still
#: count toward n_shared at verification)
SUBSTR_DF_CAP = 10


def _substring_pairs_capped(
    docs: DataFrame, k: int = SUBSTR_K, cap: int = SUBSTR_DF_CAP
) -> DataFrame:
    """DF-capped production form of :func:`_substring_pairs` (VERDICT
    r6 item 4 / r7 item 3) — the same candidate/verify design as
    :func:`_jaccard_pairs_capped`:

    1. **candidates** come only from grams with document frequency
       <= ``cap``, so a corpus-hot 13-gram (license header, template
       boilerplate — the exact case the uncapped join is quadratic in)
       contributes a bounded df-count row, never a df^2 pair blow-up;
       no postings list longer than the cap is ever buffered (df count
       first, semi-join, THEN collect_list — the two-pass shape whose
       single-pass alternative measured ~10x slower on the 3-shingle
       twin);
    2. **verification is exact on the full gram arrays**: ``n_shared``
       comes from ``array_intersect`` over the candidate docs' complete
       distinct-gram sets, so shared HOT grams are counted even though
       they never generated the candidate. The cap narrows WHERE we
       look, never WHAT we compute.

    Recall contract (deterministic, oracle-replicated): a pair is
    missed only if EVERY gram it shares is hot (df > cap) — i.e. pairs
    related by nothing but corpus-wide boilerplate, which exact-
    substring dedup exists to ignore. :func:`dedup_substring_cap_report`
    is the alerting signal for when that contract is in play.

    r14: n_shared comes from :func:`_capped_pair_counts` — the exact
    rare-shared count rides the candidate aggregate and only the
    (usually empty) hot-gram arrays reach a per-pair intersect, so the
    full 32-char-md5 gram arrays never cross a shuffle or a hash-set
    build again.
    """
    grams = with_grams(docs, k).transform(materialize)
    return _capped_pair_counts(grams, "gr", cap).select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("long").alias("n_shared"),
    )


def dedup_substring_13gram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production form of :func:`dedup_substring_13gram`: candidates
    from a DF-capped 13-gram index, exact shared-window counts on the
    candidates (see :func:`_substring_pairs_capped`). At test scale no
    gram is hotter than the cap, so this provably returns the identical
    pair set as the exact operator — the DuckDB oracle replicates the
    capped algorithm, so the cap's recall semantics are themselves
    under test (the bound/never-binds pytest plants a hot gram)."""
    return _substring_pairs_capped(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_a", "doc_b"
    )


def _substring_capped_sql(d: Dialect) -> str:
    return f"""
{_grams_ctes(d)},
rare AS (SELECT gx FROM e GROUP BY gx HAVING COUNT(*) <= {SUBSTR_DF_CAP}),
p AS (SELECT e.doc_id, e.gx FROM e JOIN rare USING (gx)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM p a JOIN p b ON a.gx = b.gx AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM cand c
JOIN e ea ON ea.doc_id = c.doc_a
JOIN e eb ON eb.doc_id = c.doc_b AND eb.gx = ea.gx
GROUP BY 1, 2
ORDER BY doc_a, doc_b
"""


def dedup_substring_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-binding signal for :func:`dedup_substring_13gram_capped`
    (the semdedup_cap_report pattern): one row saying whether
    :data:`SUBSTR_DF_CAP` binds on this corpus. ``cap_binds = true``
    means some 13-gram exceeds the cap, so the capped operator became
    approximate — pairs whose ONLY shared windows are that hot are
    missed. Costs one gram pass + a fixed-width aggregate; production
    runs it alongside the dedup and alerts on it.

    Output: (n_grams, max_gram_df, df_cap, cap_binds).
    """
    # explode_OUTER + null guard (r14): see _substring_pairs — the
    # inferred `size(gr) > 0` filter otherwise re-derives the md5
    # window chain serially below the spread exchange (3.8 s of the
    # report's 4.5 s wall)
    e = (
        with_grams(load_table(spark, sf_dir, "documents"))
        .select("doc_id", F.explode_outer("gr").alias("gx"))
        .filter(F.col("gx").isNotNull())
    )
    dfs = e.groupBy("gx").agg(F.count(F.lit(1)).alias("df"))
    return dfs.agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.max("df").cast("long").alias("max_gram_df"),
        F.lit(SUBSTR_DF_CAP).cast("long").alias("df_cap"),
        (F.max("df") > F.lit(SUBSTR_DF_CAP)).alias("cap_binds"),
    )


def _substring_cap_report_sql(d: Dialect) -> str:
    return f"""
{_grams_ctes(d)},
dfs AS (SELECT gx, COUNT(*) AS df FROM e GROUP BY gx)
SELECT CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(MAX(df) AS BIGINT) AS max_gram_df,
       CAST({SUBSTR_DF_CAP} AS BIGINT) AS df_cap,
       MAX(df) > {SUBSTR_DF_CAP} AS cap_binds
FROM dfs
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components of the duplicate graph
    (edges = identical text OR word-3-shingle Jaccard >= 0.8), with
    cluster_id = min doc_id in the component and the cluster size.
    This is the operator that turns pairwise dedup verdicts into the
    keep/drop decision for a corpus: keep doc_id == cluster_id.

    Scale design (two-level, like the reference pipeline none of which
    exists in the reference — north-star op):

    1. **Fingerprint compression first.** Identical docs collapse to
       one representative (min doc_id per md5) BEFORE any pair work —
       a 249-copy document contributes 1 graph node, not 249^2 edges.
    2. **Near-dup edges between representatives only** via the
       inverted-shingle Jaccard join (identical texts have identical
       shingle sets, so the relation factors exactly through
       fingerprints).
    3. **Connected components** of the compressed graph through the
       shared loop, :func:`..operators.components.min_label_components`
       (hash-to-min label propagation with pointer jumping, each round
       one join and one aggregate of the tiny label table, cut by
       ``materialize.truncate``). Dup graphs are dense blobs with
       diameter 1-2; the 20-round cap is far above that, and an
       unconverged exit raises.
    4. **Expand members back** through the fingerprint map.

    min doc_id of a component is always a representative (the min doc
    of its own fingerprint group), so labels over representatives give
    exactly the per-document min over the full component.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = docs.select(F.col("doc_id"), F.md5("text").alias("fp"))
    reps = (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.min("doc_id").alias("rep"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .transform(materialize)
    )

    pairs = _jaccard_pairs(reps.select(F.col("rep").alias("doc_id"), "text"))
    # undirected edge list, both directions, between representatives
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .transform(materialize)
    )
    nodes = reps.select(F.col("rep").alias("node"))
    labels = min_label_components(nodes, edges, max_rounds=20)

    member_label = fp.join(reps.select("fp", "rep"), "fp").join(
        labels, F.col("rep") == F.col("node")
    )
    sized = member_label.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        member_label.join(sized, "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def _cluster_edges_sql(d: Dialect) -> str:
    """s -> e -> sizes -> common -> near, exact -> edges: shingle-Jaccard
    and md5-equal pairs, both directions."""
    return f"""{_exact_common_sql(d)},
near AS (
  SELECT c.doc_a, c.doc_b
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE {r6_sql('''CAST(c.n_common AS DOUBLE)
        / CAST(sa.n_sh + sb.n_sh - c.n_common AS DOUBLE)''')} >= {JACCARD_THRESHOLD}{d.D}
),
exact AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM documents a JOIN documents b
    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM (SELECT * FROM near UNION SELECT * FROM exact)
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM (SELECT * FROM near UNION SELECT * FROM exact)
)"""


def _clusters_sql(d: Dialect) -> str:
    return f"""
WITH RECURSIVE {_cluster_edges_sql(d)},
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT c.doc_id, c.cluster_id, cs.cluster_size
FROM clusters c
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id) cs
  USING (cluster_id)
ORDER BY c.doc_id
"""


# --- winnowing (rolling-hash fingerprint selection) -----------------

#: tokens per k-gram and winnow window width (guarantee threshold
#: t = WINNOW_K + WINNOW_W - 1 = 8 tokens: any shared run of >= 8
#: tokens shares at least one selected fingerprint)
WINNOW_K = 4
WINNOW_W = 5
#: rolling-hash parameters: base and Mersenne-ish modulus chosen so
#: (h*B + x) stays under 2^63 (h < M ~ 2^30, x < M, B = 131)
WINNOW_B = 131
WINNOW_M = 1_000_000_007


def _winnow_selections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sel: array<bigint>) — the winnowing selection per doc.

    Shared by the fingerprint formatter and the pair generator so the
    CPU-dense selection expression exists ONCE in each consumer's
    plan; the pair generator additionally pins the exploded index
    (see dedup_winnow_pairs) so its self-join cannot inline this
    chain into both branches.
    """
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    K, W, B, M = WINNOW_K, WINNOW_W, WINNOW_B, WINNOW_M
    th = (
        "transform(split(text, ' '),"
        f" t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint) % {M})"
    )
    khs = (
        f"transform(sequence(0, size(th) - {K}),"
        f" i -> aggregate(slice(th, i + 1, {K}), bigint(0),"
        f"  (a, b) -> (a * {B} + b) % {M}))"
    )
    sel = (
        f"array_sort(array_distinct(transform("
        f"sequence(0, greatest(size(khs) - {W}, 0)),"
        f" i -> array_min(slice(khs, i + 1, {W})))))"
    )
    return (
        docs.withColumn("w", F.split(F.col("text"), " "))
        .filter(F.size("w") >= K)
        .withColumn("th", F.expr(th))
        .withColumn("khs", F.expr(khs))
        .select("doc_id", F.expr(sel).alias("sel"))
    )


def doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm) via a ROLLING polynomial hash:

    1. per-token base hash = first 8 md5 hex digits mod M;
    2. k-gram hash = polynomial fold h = (h*B + tok) mod M over each
       4-token window (the Rabin-Karp rolling-hash family);
    3. winnowing: the minimum k-gram hash of every 5-window of
       consecutive k-grams is selected; the distinct sorted selection
       is the document's fingerprint set.

    Any two documents sharing a run of >= K+W-1 = 8 tokens share at
    least one selected fingerprint (the winnowing guarantee), at a
    storage cost of ~2/(W+1) of the k-gram count.

    Scale: entirely map-side inside whole-stage codegen (split,
    transform, aggregate-fold, slice/min) — zero shuffles; joining
    selections to find collisions is one (fingerprint, doc_id)
    shuffle, the same shape as dedup_exact. spread_scan via
    with_shingles' rationale applies (CPU-dense map on an
    under-split scan).
    """
    return (
        _winnow_selections(spark, sf_dir)
        .select(
            "doc_id",
            F.size("sel").alias("n_fp"),
            F.array_join("sel", ",").alias("fp"),
        )
        .orderBy("doc_id")
    )


#: t -> k (token hashes, rolling k-gram hashes): the CTEs both
#: winnowing oracles and both duals start from
_WINNOW_KGRAMS_ORACLE = f"""WITH t AS (
  SELECT doc_id,
         [('0x' || substr(md5(x), 1, 8))::BIGINT % {WINNOW_M}
          for x in string_split(text, ' ')] AS th
  FROM documents
  WHERE len(string_split(text, ' ')) >= {WINNOW_K}
),
k AS (
  SELECT doc_id,
         [list_reduce([CAST(0 AS BIGINT)] || th[i + 1 : i + {WINNOW_K}],
                      (a, b) -> (a * {WINNOW_B} + b) % {WINNOW_M})
          for i in range(0, len(th) - {WINNOW_K} + 1)] AS khs
  FROM t
),"""
_WINNOW_KGRAMS_DUAL = f"""WITH tt AS (
  SELECT doc_id, w FROM (SELECT doc_id, split(text, ' ') AS w FROM documents)
  WHERE size(w) >= {WINNOW_K}
),
t AS (
  SELECT doc_id,
         transform(w, x -> cast(conv(substring(md5(x), 1, 8), 16, 10)
                                AS bigint) % {WINNOW_M}) AS th
  FROM tt
),
k AS (
  SELECT doc_id,
         transform(sequence(0, size(th) - {WINNOW_K}),
                   i -> aggregate(slice(th, i + 1, {WINNOW_K}), bigint(0),
                                  (a, b) -> (a * {WINNOW_B} + b) % {WINNOW_M})) AS khs
  FROM t
),"""


DOC_WINNOW_ORACLE = f"""
{_WINNOW_KGRAMS_ORACLE}
s AS (
  SELECT doc_id,
         list_sort(list_distinct(
           [list_min(khs[i + 1 : i + {WINNOW_W}])
            for i in range(0, greatest(len(khs) - {WINNOW_W}, 0) + 1)])) AS sel
  FROM k
)
SELECT doc_id, len(sel) AS n_fp, array_to_string(sel, ',') AS fp
FROM s ORDER BY doc_id
"""


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint collision: docs
    sharing >= 1 selected fingerprint, with the shared count — the
    candidate-generation stage of MOSS-style dedup. By the winnowing
    guarantee this catches every pair sharing a run of >= K+W-1
    tokens, at ~2/(W+1) the index size of the full k-gram inverted
    index (dedup_substring_13gram's index, for comparison, carries
    every window).

    Scale: identical shape to dedup_exact's shuffle — the inverted
    index entries are (fingerprint, doc_id) pairs over the SELECTED
    mins only; hot fingerprints (shared boilerplate) are AQE
    skew-split, and true duplicate blow-up is output-bound.

    The selection table is PINNED (materialize) BEFORE the explode,
    for two reasons. (a) Self-join: unpinned, Catalyst inlines the
    winnowing chain into both join branches. (b) The subtle one:
    ``InferFiltersFromGenerate`` synthesizes ``size(sel) > 0`` under
    the explode, and predicate pushdown then substitutes the alias
    chain into that predicate — ``sel`` inlines ``khs`` once per
    window and ``khs`` inlines ``th`` once per k-gram, so the pushed
    filter re-derives ~(windows x k-grams x tokens) md5s PER DOC
    (~470k at our lengths; 90 s for 50 docs, hours at sf0.1).
    With the cache boundary between the projection chain and the
    explode, the inferred filter lands on the cached array instead.
    """
    e = materialize(_winnow_selections(spark, sf_dir)).select(
        "doc_id", F.explode("sel").alias("f")
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.f") == F.col("b.f")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("doc_a", "doc_b")
    )


DEDUP_WINNOW_PAIRS_ORACLE = f"""
{_WINNOW_KGRAMS_ORACLE}
s AS (
  SELECT doc_id,
         list_distinct(
           [list_min(khs[i + 1 : i + {WINNOW_W}])
            for i in range(0, greatest(len(khs) - {WINNOW_W}, 0) + 1)]) AS sel
  FROM k
),
e AS (SELECT doc_id, unnest(sel) AS f FROM s)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM e a JOIN e b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY doc_a, doc_b
"""


#: span-level dedup segment width (words per span). CCNet dedups at
#: paragraph granularity; the synthetic corpus is a single-line word
#: stream, so consecutive fixed-width word spans stand in for
#: paragraphs (same pipeline shape: segment → hash → global
#: keep-first → reassemble).
SPAN_K = 8


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document dedup: split every document into
    consecutive ``SPAN_K``-word spans, keep only each span's GLOBALLY
    FIRST occurrence (ordered by doc_id, then position), and
    reassemble the surviving text — removing boilerplate that exact
    and near-dup DOCUMENT dedup both miss (CCNet dedups paragraphs
    against the whole shard for exactly this reason).

    Keep-first is pinned by ``row_number`` over (doc_id, seg_idx) —
    fully deterministic, unlike CCNet's shard-order heuristic.

    Scale: two shuffles. (1) window over ``md5(span)`` — the shuffle
    key is a 32-char hash, groups are tiny (global copies of one
    span), so no skew; (2) ``groupBy(doc_id)`` to reassemble, whose
    groups are bounded by words/SPAN_K spans per doc. The reassembled
    text is ``array_join(array_sort(structs))`` — deterministic
    regardless of ``collect_list`` arrival order. At 100 TB both
    shuffles move ~(40B + span text) per span; the window never sees
    full documents.
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    spans = (
        docs.withColumn("w", F.split("text", " "))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(w)/{SPAN_K}.0) as int) - 1),"
                    f" i -> concat_ws(' ', slice(w, i*{SPAN_K}+1, {SPAN_K})))"
                )
            ).alias("seg_idx", "seg"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("seg")).orderBy(
        F.col("doc_id").asc(), F.col("seg_idx").asc()
    )
    kept = spans.withColumn("keep", F.row_number().over(w) == F.lit(1))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("seg_idx", "seg"))
                        )
                    ),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


#: first occurrence (by doc_id, seg_idx) of each md5-equal segment
_SPANS_RANKED = """ranked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY md5(seg)
                            ORDER BY doc_id ASC, seg_idx ASC) = 1 AS keep
  FROM spans
)"""

DEDUP_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
spans AS (
  SELECT doc_id, u.i AS seg_idx,
         array_to_string(w[(u.i * {SPAN_K} + 1):(u.i * {SPAN_K} + {SPAN_K})], ' ') AS seg
  FROM toks CROSS JOIN LATERAL
       unnest(range(CAST(ceil(len(w) / {SPAN_K}.0) AS BIGINT))) AS u(i)
),
{_SPANS_RANKED}
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '')
         AS clean_text
FROM ranked
GROUP BY doc_id
ORDER BY doc_id
"""

DEDUP_SPANS_DUAL = f"""
WITH toks AS (
  SELECT doc_id, split(text, ' ') AS w FROM documents
),
spans AS (
  SELECT doc_id, pos AS seg_idx, seg
  FROM toks
  LATERAL VIEW posexplode(
    transform(sequence(0, cast(ceil(size(w)/{SPAN_K}.0) as int) - 1),
              i -> concat_ws(' ', slice(w, i*{SPAN_K}+1, {SPAN_K})))) t AS pos, seg
),
{_SPANS_RANKED}
SELECT doc_id,
       COUNT(*) AS n_spans,
       SUM(CAST(keep AS BIGINT)) AS n_kept,
       array_join(transform(array_sort(collect_list(
           CASE WHEN keep THEN struct(seg_idx, seg) END)), x -> x.seg), ' ')
         AS clean_text
FROM ranked
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_spans": dedup_spans,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_ngram_jaccard_capped": dedup_ngram_jaccard_capped,
    "dedup_containment": dedup_containment,
    "dedup_substring_13gram": dedup_substring_13gram,
    "dedup_substring_13gram_capped": dedup_substring_13gram_capped,
    "dedup_substring_cap_report": dedup_substring_cap_report,
    "dedup_clusters": dedup_clusters,
    "doc_winnow_fingerprint": doc_winnow_fingerprint,
    "dedup_winnow_pairs": dedup_winnow_pairs,
}

TEMPLATES = {
    "dedup_ngram_jaccard": _ngram_jaccard_sql,
    "dedup_ngram_jaccard_capped": _ngram_jaccard_capped_sql,
    "dedup_containment": _containment_sql,
    "dedup_substring_13gram": _substring_sql,
    "dedup_substring_13gram_capped": _substring_capped_sql,
    "dedup_substring_cap_report": _substring_cap_report_sql,
    "dedup_exact": DEDUP_EXACT_ORACLE,  # dialect-neutral: valid in both engines
    # deliberate dual: segments via posexplode and an array_sort'ed
    # collect_list where the oracle unnests a lateral range and uses
    # an ordered string_agg
    "dedup_spans": dual(DEDUP_SPANS_ORACLE, DEDUP_SPANS_DUAL),
    # deliberate dual: Spark's recursive CTE allows only UNION ALL, which
    # never terminates on a cyclic edge list, so the edges (the oracle's
    # own CTEs) feed the shared bounded-round packed-array fold
    # (functions/closure_sql.py), which poisons ids on non-convergence
    "dedup_clusters": dual(_clusters_sql(DUCK), packed_closure_sql(
        prelude=_cluster_edges_sql(SPARK),
        nodes_sql="SELECT doc_id AS node FROM documents",
        key_name="doc_id",
        id_name="cluster_id",
        size_name="cluster_size",
    )),
    # deliberate dual (both winnowing duals): the fluent forms are built
    # from Spark-SQL expression strings already (_winnow_selections),
    # so the dual is the same chain as CTEs. Stage layout mirrors the
    # fluent exactly (th -> khs -> sel as separate projections — Spark
    # does NOT collapse them: each alias is referenced more than once
    # and higher-order transforms are non-cheap, so CollapseProject's
    # cost guard keeps the chain staged, not exponentially inlined).
    "doc_winnow_fingerprint": dual(DOC_WINNOW_ORACLE, f"""
{_WINNOW_KGRAMS_DUAL}
s AS (
  SELECT doc_id,
         array_sort(array_distinct(transform(
             sequence(0, greatest(size(khs) - {WINNOW_W}, 0)),
             i -> array_min(slice(khs, i + 1, {WINNOW_W}))))) AS sel
  FROM k
)
SELECT doc_id, size(sel) AS n_fp, array_join(sel, ',') AS fp
FROM s ORDER BY doc_id
"""),
    # The pairs dual needs one extra guard the fingerprint dual does
    # not: explode(sel) makes InferFiltersFromGenerate synthesize
    # ``size(sel) > 0`` and predicate pushdown then SUBSTITUTES the
    # whole th->khs->sel alias chain into that filter — nested lambda
    # substitution re-derives ~(windows x k-grams x tokens) md5s per
    # doc (the hazard dedup_winnow_pairs' fluent form pins with a
    # materialize boundary). Pure SQL has no cache, so the barrier is
    # a per-doc aggregate (max of the single sel row): filters cannot
    # push below an aggregate on a non-grouping column, so the
    # inferred filter lands on the aggregated array, not the chain.
    "dedup_winnow_pairs": dual(DEDUP_WINNOW_PAIRS_ORACLE, f"""
{_WINNOW_KGRAMS_DUAL}
s AS (
  SELECT doc_id,
         array_distinct(transform(
             sequence(0, greatest(size(khs) - {WINNOW_W}, 0)),
             i -> array_min(slice(khs, i + 1, {WINNOW_W})))) AS sel
  FROM k
),
sagg AS (SELECT doc_id, max(sel) AS sel FROM s GROUP BY doc_id),
e AS (SELECT doc_id, explode(sel) AS f FROM sagg)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS n_shared
FROM e a JOIN e b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY doc_a, doc_b
"""),
}
