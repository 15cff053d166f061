"""run_pipeline's optional curation passes (strip_boilerplate /
host_gate): conservation, lineage metrics, and the guarantee that the
DEFAULT path is unchanged (the north-rule byte-identity differential in
test_pipeline.py gates that path; here we pin schema identity).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from wtq.pipeline import metrics_view, run_pipeline
from wtq.rules.heuristics import py_stats
from wtq.rules.langid import predict_lang
from wtq.rules.perplexity import char_perplexity
from wtq.rules.registry import PPL_MAX, STOPWORD_FRAC_MIN
from wtq.operators.curation import GATE_MIN_DOCS, GATE_STOPWORD_MIN

TS = datetime(2024, 5, 1, tzinfo=timezone.utc)

# 36 distinct common-English words, exactly 2 stopwords ("the", "and"):
# stopword_frac = 2/36 ≈ 0.0556 — ABOVE the per-doc rule floor (0.05,
# Q-6 passes) but BELOW the host-gate floor (0.0575), so a host made of
# these docs is dropped by the gate while each doc passes the rules.
_GATED_TEXT = (
    "people market garden window summer winter number letter mother father "
    "sister brother doctor teacher student farmer worker driver singer dancer "
    "writer reader runner walker helper keeper leader player maker baker "
    "painter builder cleaner the trainer and"
)

# stopword-rich English: passes rules AND the host gate
_KEPT_TEXT = (
    "the quick brown fox jumps over the lazy dog while the happy children "
    "play in the sunny park and the old man watches from his bench near the "
    "quiet river where the small boats drift slowly past the green trees"
)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, TS, t, predict_lang(t)[0]) for u, t in rows],
        "url string, warc_ts timestamp, text string, lang string",
    )


def _write(spark, tmp_path, rows) -> str:
    p = str(tmp_path / "pages")
    _pages(spark, rows).write.mode("overwrite").parquet(p)
    return p


def test_crafted_texts_satisfy_their_threshold_windows():
    """Pre-condition pin: if a threshold recalibration moves either
    text out of its window, fail HERE with the numbers, not in the
    pipeline assertions below."""
    st = py_stats(_GATED_TEXT)
    assert STOPWORD_FRAC_MIN < st["stopword_frac"] < GATE_STOPWORD_MIN, st["stopword_frac"]
    assert char_perplexity(_GATED_TEXT) <= PPL_MAX
    assert py_stats(_KEPT_TEXT)["stopword_frac"] >= GATE_STOPWORD_MIN


def test_default_flags_add_no_columns(spark, pages_path):
    res = run_pipeline(spark, pages_path, num_partitions=8)
    assert "n_boiler_removed" not in res.decided.columns
    assert "host_gated" not in res.decided.columns
    m = metrics_view(res.decided).columns
    assert "n_boiler_lines_removed" not in m and "n_host_gated" not in m


def test_host_gate_conservation_and_metrics(spark, tmp_path):
    rows = [(f"https://gated.example/{i}", _GATED_TEXT) for i in range(GATE_MIN_DOCS)]
    rows += [(f"https://kept.example/{i}", _KEPT_TEXT) for i in range(GATE_MIN_DOCS)]
    rows += [("https://kept.example/bad", "x " * 5)]  # rule-dropped (Q-1)
    path = _write(spark, tmp_path, rows)

    res = run_pipeline(spark, path, num_partitions=4, host_gate=True)
    d = res.decided.select("url", "keep", "fired_rules", "host_gated").collect()
    by_url = {r.url: r for r in d}

    # gated host: every doc passes the rules but the HOST is dropped
    for i in range(GATE_MIN_DOCS):
        r = by_url[f"https://gated.example/{i}"]
        assert r.fired_rules == [] and r.host_gated and not r.keep
    # kept host: rules decide alone
    for i in range(GATE_MIN_DOCS):
        r = by_url[f"https://kept.example/{i}"]
        assert r.keep and not r.host_gated
    assert not by_url["https://kept.example/bad"].keep
    assert not by_url["https://kept.example/bad"].host_gated  # rule-dropped, not gated

    # conservation: input = keep + rule-dropped + host-gated
    n = len(d)
    n_keep = sum(r.keep for r in d)
    n_rule = sum((not r.keep) and (not r.host_gated) for r in d)
    n_gated = sum(r.host_gated for r in d)
    assert n == n_keep + n_rule + n_gated == 2 * GATE_MIN_DOCS + 1

    # metrics roll the gate into lineage, and n_input = n_keep + n_drop
    m = metrics_view(res.decided).agg(
        F.sum("n_input"), F.sum("n_keep"), F.sum("n_drop"), F.sum("n_host_gated")
    ).first()
    assert m[0] == n and m[1] == n_keep and m[0] == m[1] + m[2]
    assert m[3] == n_gated == GATE_MIN_DOCS


def test_strip_boilerplate_rewrites_and_counts(spark, tmp_path):
    banner = "SUBSCRIBE NOW for unlimited access"
    # content lines are UNIQUE per doc (a line shared by all docs would
    # itself exceed the df-cap and be stripped as boilerplate — which
    # is correct behavior, but not what this test plants)
    rows = [
        (
            f"https://site.example/{i}",
            f"unique opening line {i} about quiet gardens\n" + banner
            + f"\nunique closing line {i} about green rivers",
        )
        for i in range(5)  # banner appears in 5 > BOILERPLATE_DF_CAP docs
    ]
    rows += [("https://site.example/solo", _KEPT_TEXT)]  # no banner: round-trips
    path = _write(spark, tmp_path, rows)

    res = run_pipeline(spark, path, num_partitions=4, strip_boilerplate=True)
    d = {r.url: r for r in res.decided.collect()}
    assert len(d) == 6  # conservation: rewrite never drops documents
    for i in range(5):
        r = d[f"https://site.example/{i}"]
        assert banner not in r.text
        assert r.n_boiler_removed == 1
    assert d["https://site.example/solo"].n_boiler_removed == 0

    m = metrics_view(res.decided).agg(F.sum("n_boiler_lines_removed"), F.sum("n_input")).first()
    assert m[0] == 5 and m[1] == 6


def test_both_flags_compose(spark, tmp_path):
    banner = "SUBSCRIBE NOW unlimited access offer"
    rows = [
        (
            f"https://site{i % 3}.example/{i}",
            f"unique line {i} about the quiet garden and its trees\n" + banner,
        )
        for i in range(9)
    ]
    path = _write(spark, tmp_path, rows)

    res = run_pipeline(
        spark, path, num_partitions=4, strip_boilerplate=True, host_gate=True
    )
    d = res.decided.collect()
    # conservation: neither pass drops rows from the decided table
    assert len(d) == 9
    # the banner (9 docs > df-cap) is stripped from EVERY text
    assert all(r.n_boiler_removed == 1 and banner not in r.text for r in d)
    # gating marks only rule-keepers, and keep excludes gated rows
    for r in d:
        if r.host_gated:
            assert r.fired_rules == [] and not r.keep
        if r.keep:
            assert not r.host_gated and r.fired_rules == []
    # lineage metrics stay conserved with both flags on
    m = metrics_view(res.decided).agg(
        F.sum("n_input"), F.sum("n_keep"), F.sum("n_drop"),
        F.sum("n_host_gated"), F.sum("n_boiler_lines_removed"),
    ).first()
    assert m[0] == 9 and m[0] == m[1] + m[2]
    assert m[3] == sum(r.host_gated for r in d)
    assert m[4] == 9
