"""The rule table (wtq/rules/registry.py:RULES) and its two renderers:
every engine that evaluates a rule — Spark and DuckDB through
``rule_sql``, Python through ``py_fired_rules`` — agrees on it, at the
thresholds and on hostile inputs."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from oracle.oracle import oracle_decide
from wtq.pipeline import run_pipeline
from wtq.queries import SQL_DOC_DECISIONS, q_doc_decisions
from wtq.rules import heuristics as H
from wtq.rules import registry as R

# ---------------------------------------------------------------------------
# Rule boundaries: each stat just below, at and just above its threshold
# ---------------------------------------------------------------------------
# code -> (fires just below, at, just above) for each threshold point; a
# ``(lo, hi)`` threshold has two points
EXPECTED = {
    "Q-1": [(True, False, False)],
    "Q-2": [(False, False, True)],
    "Q-3": [(True, False, False), (False, False, True)],
    "Q-4": [(False, False, True)],
    "Q-6": [(True, False, False)],
    "Q-7": [(False, False, True)],
    "Q-8": [(False, False, True)],
    "Q-9": [(False, False, True)],
    "Q-10": [(False, False, True)],
    "Q-11": [(False, False, True)],
    "Q-12": [(False, False, True)],
    "Q-13": [(False, False, True)],
    "Q-14": [(False, False, True)],
    "Q-15": [(False, False, True)],
    "Q-16": [(False, False, True)],
    "Q-17": [(False, False, True)],
    "Q-18": [(False, False, True)],
    "Q-19": [(False, False, True)],
    "Q-20": [(False, False, True)],
    "Q-21": [(False, False, True)],
    "Q-22": [(False, False, True)],
    "L-1": [(False, True, True)],
    "P-1": [(False, False, True)],
    "T-1": [(False, True, True)],
}
NUMERIC = sorted(
    {r.stat for r in R.RULES} | {r.guard[0] for r in R.RULES if r.guard}
)
NUMERIC.remove("pred_lang")
# every guard holds on the base row
BASE = {**{k: 0.0 for k in NUMERIC}, "n_words": 100.0, "pred_lang": "de", "lang": "en"}


def _boundary_cases():
    """(case id, code, row, expected) — the three points around each
    threshold, a NULL stat (never fires), and each guard switched off."""
    cases = []
    for r in R.RULES:
        points = r.threshold if isinstance(r.threshold, tuple) else (r.threshold,)
        for t, fires in zip(points, EXPECTED[r.code], strict=True):
            t = float(t)
            for x, want in zip((math.nextafter(t, -math.inf), t, math.nextafter(t, math.inf)), fires):
                cases.append((r.code, {**BASE, r.stat: x}, want))
        cases.append((r.code, {**BASE, r.stat: None}, False))
    cases.append(("Q-3", {**BASE, "n_words": 0.0, "mean_word_len": 0.0}, False))
    cases.append(("L-1", {**BASE, "pred_lang": "en", "lang_margin": 1.0}, False))
    cases.append(("L-1", {**BASE, "lang": None, "lang_margin": 1.0}, False))
    return [(i, code, row, want) for i, (code, row, want) in enumerate(cases)]


CASES = _boundary_cases()


def test_expectations_cover_the_table():
    assert set(EXPECTED) == {r.code for r in R.RULES}


# case id -> the code its rule's CASE WHEN returns (None: not fired)
SQL_EXPECTED = {i: code if want else None for i, code, _, want in CASES}


def test_rule_boundaries_python():
    got = {i: code in H.py_fired_rules(row) for i, code, row, _ in CASES}
    assert got == {i: want for i, _, _, want in CASES}


def test_rule_boundaries_spark(spark):
    struct = ", ".join(f"{k} double" for k in NUMERIC) + ", pred_lang string"
    df = spark.createDataFrame(
        [(i, code, tuple(row[k] for k in NUMERIC) + (row["pred_lang"],), row["lang"])
         for i, code, row, _ in CASES],
        f"id int, code string, __s struct<{struct}>, lang string",
    )
    # one column per rule; each case reads its own rule's column
    got = df.select("id", "code", *[F.expr(R.rule_sql(r, "__s.")).alias(r.code) for r in R.RULES])
    assert {row["id"]: row[row["code"]] for row in got.collect()} == SQL_EXPECTED


def test_rule_boundaries_duckdb():
    flat = pa.Table.from_pylist(
        [{"id": i, "code": code, **row} for i, code, row, _ in CASES],
        pa.schema(
            [("id", pa.int64()), ("code", pa.string())]
            + [(k, pa.float64()) for k in NUMERIC]
            + [("pred_lang", pa.string()), ("lang", pa.string())]
        ),
    )
    con = duckdb.connect()
    con.register("flat", flat)
    pack = ", ".join(f"{k} := {k}" for k in NUMERIC + ["pred_lang"])
    con.execute(f"CREATE VIEW cases AS SELECT id, code, struct_pack({pack}) AS __s, lang FROM flat")
    got = {}
    for r in R.RULES:
        got.update(con.execute(
            f"SELECT id, {R.rule_sql(r, '__s.')} FROM cases WHERE code = '{r.code}'"
        ).fetchall())
    con.close()
    assert got == SQL_EXPECTED


# ---------------------------------------------------------------------------
# decide() against the oracle on hostile pages
# ---------------------------------------------------------------------------
_CLEAN = (
    "the quick brown fox jumps over the lazy dog and then walks along the "
    "river bank toward a small village market where the people sell bread "
    "and fish to their neighbours"
)
HOSTILE_PAGES = [
    (_CLEAN, None),  # no crawl label: L-1 has nothing to disagree with
    (None, "en"),
    ("", "en"),
    ("   \n  ", "en"),
    ("nul\x00inside wo\x00rd and the text of the page is here", "en"),
    # over the Q-2 bound and the langid / perplexity caps
    (" ".join(["the cat sat on the mat and looked at the bird in"] * 1500), "en"),
    ("İS İN THE " * 20, "en"),
]


def _pages_parquet(path, texts_langs):
    n = len(texts_langs)
    pd.DataFrame({
        "url": [f"https://host.example.com/doc/{i}" for i in range(n)],
        # microseconds: Spark rejects pandas' nanosecond default
        "warc_ts": pd.Series([pd.Timestamp("2025-01-01")] * n).astype("datetime64[us]"),
        "html": [b""] * n,
        "text": pd.Series([t for t, _ in texts_langs], dtype=object),
        "lang": pd.Series([lang for _, lang in texts_langs], dtype=object),
    }).to_parquet(path, index=False)
    return str(path)


def test_hostile_pages_decide_matches_oracle(spark, tmp_path):
    path = _pages_parquet(tmp_path / "pages.parquet", HOSTILE_PAGES)
    got = run_pipeline(spark, path, num_partitions=2).decided.select(
        "url", "fired_rules", "keep"
    ).toPandas()
    exp = oracle_decide(pd.read_parquet(path))
    m = got.merge(exp, on="url", suffixes=("_s", "_o"))
    assert len(m) == len(exp) == len(got) == len(HOSTILE_PAGES)
    assert [list(f) for f in m.fired_rules_s] == [list(f) for f in m.fired_rules_o]
    assert (m.keep_s == m.keep_o).all()


# ---------------------------------------------------------------------------
# One Q-1/2/3/6 semantics: the registry's doc_decisions vs the pipeline
# ---------------------------------------------------------------------------
# ASCII-space and str.split() tokenize each of these the same way
WORD_RULE_TEXTS = [
    None,
    "",
    "   ",
    "a bb",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    " ".join(["supercalifragilisticexpialidocious"] * 25),
    _CLEAN,
    " ".join(["the cat sat on the mat"] * 170),
]


def test_doc_decisions_matches_pipeline_word_rules(spark, tmp_path):
    n = len(WORD_RULE_TEXTS)
    pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": pd.Series(WORD_RULE_TEXTS, dtype=object),
    }).to_parquet(tmp_path / "documents.parquet", index=False)
    path = _pages_parquet(tmp_path / "pages.parquet", [(t, "en") for t in WORD_RULE_TEXTS])
    word_codes = {"Q-1", "Q-2", "Q-3", "Q-6"}
    pipe = {
        int(r.url.rsplit("/", 1)[1]): sorted(set(r.fired_rules) & word_codes)
        for r in run_pipeline(spark, path).decided.select("url", "fired_rules").collect()
    }
    spark_codes = {
        r.doc_id: (r.codes, r.keep) for r in q_doc_decisions(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    duck_codes = {d: (c, k) for d, c, k in con.execute(SQL_DOC_DECISIONS).fetchall()}
    con.close()
    exp = {d: (",".join(c), not c) for d, c in pipe.items()}
    assert spark_codes == exp
    assert duck_codes == exp
    # zero words fire the bounds and the stopword rule, not Q-3
    assert pipe[0] == pipe[1] == pipe[2] == ["Q-1", "Q-6"]

