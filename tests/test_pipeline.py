"""End-to-end pipeline tests: differential vs the pandas oracle
(SURVEY.md §5.2-5.4) on the sf0.001 pages table."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oracle.oracle import oracle_decide
from wtq.pipeline import decisions_view, rule_fire_counts, run_pipeline
from wtq.rules.registry import registry_df


@pytest.fixture(scope="module")
def out(spark, pages_path, tmp_path_factory):
    """The four outputs of one pipeline run, as PipelineResult.write
    leaves them."""
    d = str(tmp_path_factory.mktemp("pipeline_out"))
    run_pipeline(spark, pages_path, num_partitions=8).write(d)
    return d


@pytest.fixture(scope="module")
def decided(spark, out):
    return spark.read.parquet(f"{out}/decided")


@pytest.fixture(scope="module")
def oracle(pages_pdf):
    return oracle_decide(pages_pdf)


def test_recrawl_dedup(decided, pages_pdf):
    assert decided.count() == pages_pdf["url"].nunique()


def test_keep_drop_exact_match(spark, out, oracle):
    """Target is F1 ≥ 0.99; we assert exact agreement (F1 = 1.0)."""
    got = spark.read.parquet(f"{out}/decisions").toPandas()
    assert list(got.columns) == ["url", "keep", "fired_rules"]
    m = got.merge(oracle, on="url", suffixes=("_s", "_o"))
    assert len(m) == len(oracle) == len(got)
    assert (m.keep_s == m.keep_o).all()
    mism = m[[list(a) != list(b) for a, b in zip(m.fired_rules_s, m.fired_rules_o)]]
    assert mism.empty, mism.head()


def test_scrubbed_bytes_identical(spark, out, decided, oracle):
    got = decided.select("url", "text").toPandas()
    m = got.merge(oracle[["url", "text"]], on="url", suffixes=("_s", "_o"))
    bad = [u for u, a, b in zip(m.url, m.text_s, m.text_o) if a.encode("utf-8") != b.encode("utf-8")]
    assert not bad, bad[:5]

    # the written scrubbed output: exactly the kept urls, the same
    # bytes, and the sha256 of those bytes
    kept = oracle[oracle.keep].set_index("url").text
    sc = spark.read.parquet(f"{out}/scrubbed").toPandas().set_index("url")
    assert sorted(sc.index) == sorted(kept.index)
    for url, r in sc.iterrows():
        b = kept[url].encode("utf-8")
        assert r.text.encode("utf-8") == b, url
        assert r.text_sha256 == hashlib.sha256(b).hexdigest(), url


def test_metrics_conservation(spark, out, pages_pdf):
    """Σ per-partition keep+drop == distinct input count — the err_all
    union-arithmetic invariant (proccess_data.sql:816-839)."""
    m = spark.read.parquet(f"{out}/metrics").toPandas()
    assert int(m.n_input.sum()) == pages_pdf["url"].nunique()
    assert int(m.n_keep.sum() + m.n_drop.sum()) == int(m.n_input.sum())
    assert len(m) > 1  # actually partitioned


_TIE_TEXT = (
    "the quick brown fox jumps over the lazy dog and then walks along the "
    "river bank toward a small village market where the people sell bread "
    "and fish to their neighbours"
)


def test_recrawl_tie_on_null_text_matches_oracle(spark, tmp_path):
    """Two crawls of one url at the same instant, one without text: the
    tie-break on text puts NULL last in both engines, so decide() keeps
    the crawl with text, as oracle_decide's sort does."""
    from wtq.pipeline import decide

    t0, t1 = pd.Timestamp("2025-01-01"), pd.Timestamp("2025-02-01")
    path = str(tmp_path / "pages.parquet")
    pd.DataFrame({
        "url": ["https://a.example.com/p", "https://a.example.com/p",
                "https://a.example.com/p", "https://b.example.com/q"],
        # microseconds: Spark rejects pandas' nanosecond default
        "warc_ts": pd.Series([t1, t1, t0, t1]).astype("datetime64[us]"),
        "html": [b""] * 4,
        "text": pd.Series([None, _TIE_TEXT, "older crawl", _TIE_TEXT], dtype=object),
        "lang": ["en"] * 4,
    }).to_parquet(path, index=False)
    got = decide(spark.read.parquet(path)).select("url", "text", "keep", "fired_rules").toPandas()
    exp = oracle_decide(pd.read_parquet(path))
    m = got.merge(exp, on="url", suffixes=("_s", "_o"))
    assert len(m) == len(exp) == len(got) == 2
    assert list(m.text_s) == list(m.text_o) == [_TIE_TEXT, _TIE_TEXT]
    assert [list(f) for f in m.fired_rules_s] == [list(f) for f in m.fired_rules_o]
    assert (m.keep_s == m.keep_o).all()


def test_rule_fire_counts_join(spark, decided, oracle):
    got = rule_fire_counts(decided, registry_df(spark)).toPandas()
    exp = pd.Series([c for lst in oracle.fired_rules for c in lst]).value_counts()
    for _, r in got.iterrows():
        assert r["count"] == exp[r["code"]]
        assert isinstance(r["description"], str) and r["description"]


def test_partitioning_determinism(spark, pages_path, decided):
    """Same labels regardless of parallelism/partitioning
    (SURVEY.md §7 hard-part 2)."""
    res2 = run_pipeline(spark, pages_path, num_partitions=3)
    a = decided.select("url", "keep").toPandas().sort_values("url").reset_index(drop=True)
    b = res2.decided.select("url", "keep").toPandas().sort_values("url").reset_index(drop=True)
    assert a.equals(b)


def test_scrub_edit_counts_positive(decided):
    n = decided.filter(F.col("n_scrub_edits") > 0).count()
    assert n > 0  # PII was planted, so some docs must be edited


def test_differential_at_sf01(spark):
    """Same differential at 10x scale (5000 base docs) — catches
    boundary effects that only appear with more rows."""
    import pandas as pd

    from wtq.generate import ensure_pages

    path = ensure_pages("/root/testdata/sf0.1")
    got = (
        run_pipeline(spark, path, num_partitions=16)
        .decided.select("url", "keep", "fired_rules")
        .toPandas()
    )
    exp = oracle_decide(pd.read_parquet(path))
    m = got.merge(exp, on="url", suffixes=("_s", "_o"))
    assert len(m) == len(exp) == len(got)
    assert (m.keep_s == m.keep_o).all()
    bad = [u for u, a, b in zip(m.url, m.fired_rules_s, m.fired_rules_o) if list(a) != list(b)]
    assert not bad, bad[:5]


def _feat_of(url: str) -> str:
    """Planted feature class of a generated page url (shared by the
    rule-quality tests; key scheme and modulo live in wtq.generate)."""
    import re

    from wtq.generate import _FEATURE_CLASSES, N_CLASSES

    key = int(re.search(r"/doc/(\d+)", url).group(1))
    return _FEATURE_CLASSES[key % N_CLASSES]


def test_langid_l1_rule_quality(spark, pages_path):
    """Measured precision/recall for the L-1 (language-mismatch) rule
    on the labeled synthetic distribution: pages of class `wrong_lang`
    are mislabeled by construction and should fire L-1; normal-ish
    classes should essentially never fire it.  (fastText-grade
    real-world accuracy is not measurable offline — this pins the
    rule's behavior on the distribution we can label.)"""
    decided = decisions_view(run_pipeline(spark, pages_path, num_partitions=8).decided).toPandas()
    decided["feat"] = decided.url.map(_feat_of)
    decided["l1"] = decided.fired_rules.map(lambda rs: "L-1" in list(rs))
    wrong = decided[decided.feat == "wrong_lang"]
    clean = decided[decided.feat.isin(["normal", "recrawl_dup", "near_dup", "email", "phone", "ip"])]
    recall = wrong.l1.mean()
    false_rate = clean.l1.mean()
    assert recall >= 0.65, f"L-1 recall on planted wrong-lang pages too low: {recall:.2f}"
    assert false_rate <= 0.05, f"L-1 false-fire rate on clean classes too high: {false_rate:.2f}"


def test_new_rules_fire_on_their_classes(spark, pages_path):
    """Q-11 (code braces) and Q-12 (lorem ipsum) must fire on their
    planted classes and essentially nowhere clean."""
    d = decisions_view(run_pipeline(spark, pages_path, num_partitions=8).decided).toPandas()
    d["feat"] = d.url.map(_feat_of)
    for feat, code in (("code_spam", "Q-11"), ("lorem_ipsum", "Q-12")):
        hit = d[d.feat == feat].fired_rules.map(lambda rs, c=code: c in list(rs))
        assert hit.mean() >= 0.95, f"{code} recall on {feat}: {hit.mean():.2f}"
        clean = d[d.feat == "normal"].fired_rules.map(lambda rs, c=code: c in list(rs))
        assert clean.mean() == 0.0, f"{code} fired on normal pages"
