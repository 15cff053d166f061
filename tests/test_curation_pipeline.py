"""End-to-end curation flow over the pages corpus: quality filter →
near-dup removal → benchmark decontamination → per-host token budget.
Each stage is individually oracle-gated elsewhere; this test proves
they COMPOSE — schemas line up, ids survive the chain, and every stage
only ever removes documents (conservation), which is the contract a
real training-data build depends on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wtq.operators import curation as C
from wtq.operators.dedup import dedup_resolution
from wtq.pipeline import decide


def test_curation_chain_composes_and_only_removes(spark, pages_path, monkeypatch):
    pages = spark.read.parquet(pages_path)

    # stage 1: quality filter
    decided = decide(pages, num_partitions=8)
    kept = decided.filter("keep").select("url", "text")
    n_input = pages.select("url").distinct().count()
    n_kept = kept.count()
    assert 0 < n_kept < n_input

    # stage 2: near-dup removal (keep cluster representative = min id)
    cc, _ = dedup_resolution(kept, "url", "text")
    non_reps = cc.filter(F.col("node") != F.col("cluster")).select(
        F.col("node").alias("url")
    )
    deduped = kept.join(non_reps, "url", "left_anti")
    n_deduped = deduped.count()
    assert n_deduped <= n_kept

    # stage 3: decontamination against an explicit benchmark built from
    # a held-out slice of the same corpus (production shape: string ids)
    bench_docs = deduped.orderBy("url").limit(5)
    bench = C.benchmark_grams(bench_docs, "text")
    hits = C.decontaminate(deduped, "url", "text", benchmark=bench)
    clean = deduped.join(hits.select("url"), "url", "left_anti")
    n_clean = clean.count()
    # the benchmark docs themselves contain their own grams → they are
    # contaminated by construction, so the stage provably fired
    assert n_clean < n_deduped
    assert n_clean > 0

    # stage 4: per-host token budget (host = url's authority component)
    hosted = clean.withColumn("host", F.substring_index(F.col("url"), "/", 3))
    monkeypatch.setattr(C, "TOKEN_BUDGET", 800)
    sampled = C.token_budget_sample(hosted, "url", "text", "host")
    n_sampled = sampled.count()
    assert 0 < n_sampled <= n_clean
    # budget respected per host
    assert sampled.filter(F.col("cum_tokens") > 800).count() == 0

    # conservation: the chain is monotone — every stage only removes
    assert n_input > n_kept >= n_deduped > n_clean >= n_sampled
    # and the final sample is a subset of the original kept urls
    assert sampled.join(kept, sampled["url"] == kept["url"], "left_anti").count() == 0
