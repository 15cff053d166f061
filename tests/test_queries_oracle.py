"""Driver-mimic differential gate (SURVEY.md §5.2): every queries()
entry runs on Spark AND its oracle SQL on DuckDB over the same parquet
tables; row counts, column names, and values must match exactly.

This mirrors the external driver's CORRECTNESS check, so failures show
up here first.  Runs at sf0.001 for speed (the driver uses sf0.01).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wtq.operators import text as X
from wtq.queries import ORACLE_SQL, QUERIES

import os

# default sf0.001 for fast CI; set WTQ_ORACLE_SF_DIR=/root/testdata/sf0.01
# to replicate the external driver's exact configuration
SF_DIR = os.environ.get("WTQ_ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif df[c].dtype == bool or str(df[c].dtype) == "boolean":
            df[c] = df[c].astype(bool)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    got = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
    exp = _normalize(duck.execute(ORACLE_SQL[name]).fetchdf())
    assert list(got.columns) == list(exp.columns), (list(got.columns), list(exp.columns))
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    if len(got):
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)


def test_all_queries_have_oracles():
    assert set(QUERIES) == set(ORACLE_SQL)


def test_driver_registry_stays_at_cap():
    # the external driver records at most 50 CORRECTNESS rows; going
    # over silently drops queries from the hard gate (round-2 lesson)
    assert len(QUERIES) == 50


# ---------------------------------------------------------------------------
# Hostile text: the word-level rules on inputs built to split the engines
# ---------------------------------------------------------------------------
# Every word-level rule shares one tokenizer (X.words / X.sql_words) and
# one lexicon test (X.n_in / X.sql_n_in).  These texts aim at the seams:
# NULL / empty / blank text, whitespace other than ASCII space inside
# words, stray spaces, and case-fold traps — U+0130 'İ' lowers to ASCII
# 'i' in DuckDB but to 'i' + U+0307 in Spark, so 'İS' / 'İN' / 'İL' /
# 'İM' would read as the stopwords 'is' / 'in' / 'il' / 'im' on one side
# only; Greek capitals and 'ſ' (long s) lower to non-ASCII on both.
HOSTILE_TEXTS = [
    None,
    "",
    "   ",
    "tab\tinside the\tword",
    "new\nline of the\nday",
    "nbsp\u00a0in the\u00a0word",
    " leading and the",
    "trailing is the ",
    "doubled  spaces  in  the  text",
    "The İS İN",
    "İL İM",
    "ΟΔΟΣ",
    "ſo",
]
HOSTILE_QUERIES = [
    "doc_decisions", "source_quality_gate", "lang_markers", "text_metrics",
]
# text_metrics.fp (md5 of lower(text)) is a known open gap on these
# inputs — İ, final sigma and word-less text; DEVNOTES "Engine-parity"
# rule 20 — so only its other columns are compared
HOSTILE_SKIP_COLS = {"text_metrics": ["fp"]}


@pytest.fixture(scope="module")
def hostile(tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile")
    n = len(HOSTILE_TEXTS)
    pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": pd.Series(HOSTILE_TEXTS, dtype=object),
        "lang": "en",
        "source": [f"src{i % 3}" for i in range(n)],
        "n_chars": [len(t or "") for t in HOSTILE_TEXTS],
    }).to_parquet(d / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    yield str(d), con
    con.close()


@pytest.mark.parametrize("name", HOSTILE_QUERIES)
def test_hostile_text_matches_oracle(name, spark, hostile):
    sf_dir, con = hostile
    skip = HOSTILE_SKIP_COLS.get(name, [])
    got = _normalize(QUERIES[name](spark, sf_dir).toPandas().drop(columns=skip))
    exp = _normalize(con.execute(ORACLE_SQL[name]).fetchdf().drop(columns=skip))
    assert len(got) == len(exp) > 0
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)


def test_hostile_text_words_match_sql_words(spark, hostile):
    sf_dir, con = hostile
    got = {
        r.doc_id: r.w
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", X.words(F.col("text")).alias("w"))
        .collect()
    }
    exp = dict(
        con.execute(f"SELECT doc_id, {X.sql_words('text')} FROM documents").fetchall()
    )
    assert got == exp
    assert got[0] is None and got[1] == got[2] == []
    assert got[5] == ["nbsp\u00a0in", "the\u00a0word"]
