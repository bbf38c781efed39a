"""Semantic (planted-data) tests for llm/curation.py — the generic
oracle / SQL-dual battery in test_reference_queries.py covers the
differential side; these prove the operators do the *right thing* on
inputs constructed to exercise their edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlondataframesr_spark import registry
from sqlondataframesr_spark.llm import curation


def test_pii_scrub_redacts_planted_pii(spark):
    rows = [
        (1, "contact me at alice.smith+spam@example.co.uk for details"),
        (2, "server at 192.168.001.1 answered then 10.0.0.255 timed out"),
        (3, "call 555-123-4567 or 555.987.6543 x89"),
        (4, "no pii here at all just words"),
        (5, "mixed bob@x.io on 127.0.0.1 dial 111-222-3333"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), curation.PII_EMAIL, "<EMAIL>"),
            curation.PII_PHONE,
            "<PHONE>",
        ),
        curation.PII_IPV4,
        "<IP>",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.regexp_count("text", F.lit(curation.PII_EMAIL)).alias("n_emails"),
            F.regexp_count("text", F.lit(curation.PII_PHONE)).alias("n_phones"),
            F.regexp_count("text", F.lit(curation.PII_IPV4)).alias("n_ipv4"),
            clean.alias("clean"),
        ).collect()
    }
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ipv4"]) == (1, 0, 0)
    assert "<EMAIL>" in out[1]["clean"] and "alice" not in out[1]["clean"]
    assert out[2]["n_ipv4"] == 2 and out[2]["clean"].count("<IP>") == 2
    assert out[3]["n_phones"] == 2
    assert (out[4]["n_emails"], out[4]["n_phones"], out[4]["n_ipv4"]) == (0, 0, 0)
    assert out[4]["clean"] == "no pii here at all just words"
    assert (out[5]["n_emails"], out[5]["n_phones"], out[5]["n_ipv4"]) == (1, 1, 1)


def test_heavy_hitters_prune_guarantee(spark, sf_dir):
    """The pruned two-phase result must equal the plain GROUP BY +
    HAVING result — pruning changes cost, never truth."""
    out = curation.text_heavy_hitters(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = docs.count()
    plain = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= s)
    )
    got = {(r["term"], r["n"]) for r in out.collect()}
    want = {(r["term"], r["n"]) for r in plain.collect()}
    assert got == want and len(got) > 0
    # ordered contract: descending count, term as tie-break
    ordered = [(r["n"], r["term"]) for r in out.collect()]
    assert ordered == sorted(ordered, key=lambda t: (-t[0], t[1]))


def test_keep_best_picks_highest_ttr_then_lowest_id(spark, sf_dir):
    """Planted group: three docs with the same token *set* but
    different repetition (different TTR). The highest-TTR doc wins;
    a perfect tie goes to the lowest doc_id."""
    rows = [
        (1, "alpha beta gamma alpha alpha beta"),  # ttr 3/6
        (2, "alpha beta gamma"),                   # ttr 3/3  <- winner
        (3, "gamma beta alpha gamma"),             # ttr 3/4
        (4, "delta epsilon"),                      # singleton
        (5, "epsilon delta"),                      # ties doc 4 (ttr 1.0)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "source", F.lit("s")
    )
    df.createOrReplaceTempView("documents")
    out = {r["doc_id"]: r for r in spark.sql(
        registry.spark_sql()["dedup_keep_best"]).collect()}
    assert set(out) == {2, 4}
    assert out[2]["n_dups"] == 3
    assert out[4]["n_dups"] == 2  # tie on ttr=1.0 -> lowest doc_id


def test_quantile_gate_keeps_strict_top_half(spark, sf_dir):
    out = curation.corpus_quality_quantile_gate(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["ttr"] > r["src_median"] for r in rows)
    # per-source: strictly-above-median keeps at most half the docs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_src = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept = {}
    for r in rows:
        kept[r["source"]] = kept.get(r["source"], 0) + 1
    for src, n_kept in kept.items():
        assert n_kept <= per_src[src] / 2
