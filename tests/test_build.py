"""build_training_set: the one-entry-point curation stack.

Contracts pinned here: stage conservation (monotone non-increasing
counts, every count correct), the split partitions the survivors
exactly with no overlap, benchmark-slice docs never leak into any
split, and the whole build is deterministic (rerun → byte-identical
membership)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wtq.build import BENCH_SLICE_MOD, build_training_set
from wtq.operators.curation import hash_bucket


def test_build_training_set_end_to_end(spark, pages_path, tmp_path):
    out = str(tmp_path / "corpus")
    res = build_training_set(spark, pages_path, out)

    lineage = {r.stage: r.n_docs for r in res.lineage.collect()}
    # two row families: NN_* doc counts (monotone) and 6N_lsh_* audit
    # gauges (bucket statistics, NOT doc counts — excluded from the
    # monotone contract)
    stages = sorted(k for k in lineage if not k.startswith("6"))
    # monotone: every stage only removes documents
    for a, b in zip(stages, stages[1:]):
        if b == "50_written":
            continue
        assert lineage[a] >= lineage[b], (a, b, lineage)
    assert lineage["10_quality_kept"] > 0
    # written = post-budget survivors, exactly
    assert lineage["50_written"] == lineage["40_after_budget"] > 0
    # the LSH occupancy audit always records its two gauges (zero on a
    # corpus with no over-cap buckets)
    assert lineage["60_lsh_over_cap_buckets"] >= 0
    assert lineage["61_lsh_max_bucket_size"] >= 0

    written = spark.read.parquet(out)
    assert set(written.columns) == {"url", "text", "n_tokens", "split"}
    # the three splits partition the output (no url in two splits)
    assert written.select("url").distinct().count() == written.count()
    splits = {r.split for r in written.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # benchmark-slice urls never leak into any split
    leaked = written.filter(hash_bucket("url", BENCH_SLICE_MOD) == 0).count()
    assert leaked == 0

    # determinism: a second build yields byte-identical membership
    out2 = str(tmp_path / "corpus2")
    build_training_set(spark, pages_path, out2)
    a = {(r.url, r.split) for r in spark.read.parquet(out).select("url", "split").collect()}
    b = {(r.url, r.split) for r in spark.read.parquet(out2).select("url", "split").collect()}
    assert a == b


def test_build_lsh_audit_populates_on_planted_flood(spark, pages_path, tmp_path, monkeypatch):
    """A near-but-not-exact duplicate flood bigger than the bucket cap
    must surface in the build lineage as over-cap bucket gauges — the
    observability contract for the star-edge degradation path.

    Flood construction: 40 SINGLE-LINE docs share one ~120-word stream
    (so they co-bucket in LSH bands — minhash tokenizes on literal
    spaces, and a newline would glue its neighbors into one token) with
    a unique tail word each — no two docs share a literal line (each
    doc IS one unique line, so strip_boilerplate's df cap never fires)
    and no two share an md5 fingerprint (survives exact-dedup collapse,
    so the flood genuinely reaches the LSH stage)."""
    import random

    import pandas as pd

    rng = random.Random(7)
    from wtq.rules.lexicon import CONTENT_WORDS, LANG_WORDS

    words = [
        rng.choice(LANG_WORDS["en"]) if rng.random() < 0.45 else rng.choice(CONTENT_WORDS)
        for _ in range(120)
    ]
    rows = []
    base_ts = pd.Timestamp("2025-01-01")
    for i in range(40):
        text = " ".join(words + [f"tail{i}"])  # one unique line per doc
        rows.append(
            (
                f"https://flood.example.com/doc/{i}",
                base_ts,
                b"<html><body>" + text.encode() + b"</body></html>",
                text,
                "en",
            )
        )
    flood = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    fixture = pd.read_parquet(pages_path)
    src = str(tmp_path / "pages_flood.parquet")
    merged = pd.concat([fixture, flood], ignore_index=True)
    # microsecond precision: Spark's parquet reader rejects TIMESTAMP(NANOS)
    merged["warc_ts"] = merged["warc_ts"].astype("datetime64[us]")
    merged.to_parquet(src, index=False)

    out = str(tmp_path / "corpus")
    monkeypatch.setattr("wtq.operators.dedup.LSH_BUCKET_CAP", 10)
    res = build_training_set(spark, src, out)
    lineage = {r.stage: r.n_docs for r in res.lineage.collect()}
    assert lineage["60_lsh_over_cap_buckets"] >= 1, lineage
    assert lineage["61_lsh_max_bucket_size"] > 10, lineage
    # the flood still resolves to ONE cluster representative in the
    # output (star edges keep the bucket connected): at most one
    # flood url survives into the written corpus
    written = spark.read.parquet(out)
    n_flood = written.filter(F.col("url").startswith("https://flood.")).count()
    assert n_flood <= 1, n_flood






def test_build_raising_stage_leaks_no_threads(spark, pages_path, tmp_path, monkeypatch):
    """Failure injection: a stage that raises after the build's driver
    thread pool has started work must propagate its error and leave no
    pool thread behind."""
    import threading

    import pytest

    import wtq.build as build

    def fail(*args, **kwargs):
        raise RuntimeError("injected stage failure")

    monkeypatch.setattr(build, "run_pipeline", fail)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected stage failure"):
        build_training_set(spark, pages_path, str(tmp_path / "out"))
    leaked = [
        t for t in set(threading.enumerate()) - before
        if t.name.startswith("ThreadPoolExecutor")
    ]
    assert not leaked, leaked




def test_build_empty_stage_fails_before_overwrite(spark, tmp_path):
    """A build whose quality filter keeps nothing raises a ValueError
    naming that stage, and a corpus already at out_dir stays readable
    (an overwrite with nothing would leave a bare _SUCCESS)."""
    from datetime import datetime, timezone

    import pytest

    ts = datetime(2024, 5, 1, tzinfo=timezone.utc)
    pages = str(tmp_path / "pages")
    spark.createDataFrame(
        [(f"https://short.example/{i}", ts, "too short", "en") for i in range(3)],
        "url string, warc_ts timestamp, text string, lang string",
    ).write.parquet(pages)
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [("https://old.example/0", "old text", 2)], "url string, text string, n_tokens int"
    ).write.parquet(f"{out}/split=train")

    with pytest.raises(ValueError, match="10_quality_kept"):
        build_training_set(spark, pages, out)
    assert [r.url for r in spark.read.parquet(out).collect()] == ["https://old.example/0"]
