"""The pipeline's batch score kernel (wtq.rules.batch.score_batch)
against the per-document reference cores, bit for bit: every double
compared through its int64 bit pattern, every int and string exactly,
and the NULL-scrubbed sentinel included.  No Spark needed."""

from __future__ import annotations

import random
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

import wtq.rules.batch as B
from wtq.pipeline import SCORE_SCHEMA
from wtq.rules import heuristics as H
from wtq.rules import langid as L
from wtq.rules import perplexity as P
from wtq.rules.langid import predict_lang
from wtq.rules.perplexity import char_perplexity
from wtq.rules.scrub import scrub_text

COLUMNS = [f.name for f in SCORE_SCHEMA.fields]
DOUBLES = {f.name for f in SCORE_SCHEMA.fields if isinstance(f.dataType, T.DoubleType)}


def reference(texts) -> pd.DataFrame:
    """The per-document assembly: scrub_text → predict_lang →
    char_perplexity → py_stats on the scrubbed text."""
    rows = []
    for t in texts:
        sr = scrub_text(t)
        lang, margin = predict_lang(sr.text)
        st = H.py_stats(sr.text)
        rows.append(
            [
                sr.text if (sr.n_edits or t is None) else None,
                sr.n_email, sr.n_phone, sr.n_ip, sr.n_profanity,
                lang, margin, char_perplexity(sr.text),
            ]
            + [st[f] for f in H.STAT_FIELDS]
        )
    return pd.DataFrame(rows, columns=COLUMNS)


def mismatches(got: pd.DataFrame, exp: pd.DataFrame) -> dict[str, list[int]]:
    """Row positions that differ, per column."""
    assert list(got.columns) == COLUMNS and len(got) == len(exp)
    bad = {}
    for c in COLUMNS:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if c in DOUBLES:
            assert g.dtype == np.float64, c
            diff = g.view(np.int64) != e.astype(np.float64).view(np.int64)
        else:
            diff = np.array([a != b for a, b in zip(g.tolist(), e.tolist())], bool)
        if diff.any():
            bad[c] = np.flatnonzero(diff).tolist()[:5]
    return bad


def assert_matches_reference(texts) -> None:
    texts = list(texts)
    bad = mismatches(B.score_batch(pd.Series(texts, dtype=object)), reference(texts))
    assert not bad, (bad, [texts[i] for v in bad.values() for i in v][:3])


@pytest.fixture(scope="module")
def corpus(sf01_pages_pdf):
    texts = sf01_pages_pdf["text"].tolist()
    return texts, reference(texts)


@pytest.mark.parametrize("size", [1, 7, 1404, None])
def test_sweep_sf01_bitwise_equal_per_document(corpus, size):
    texts, exp = corpus
    size = size or len(texts)
    for lo in range(0, len(texts), size):
        got = B.score_batch(pd.Series(texts[lo : lo + size]))
        want = exp.iloc[lo : lo + size].reset_index(drop=True)
        bad = mismatches(got, want)
        assert not bad, (size, lo, bad)


def _generated_docs(n: int = 300) -> list[str]:
    """Documents of words the sf0.1 corpus lacks: lone surrogates, NUL,
    combining marks, long CJK runs, astral and Latin letters."""
    rng = random.Random(13)
    pools = [
        [chr(c) for c in range(0xD800, 0xE000, 97)],
        ["\x00", "a\x00", "\x00b"],
        [chr(c) for c in range(0x300, 0x370, 5)],
        [chr(c) for c in range(0x4E00, 0x9FFF, 211)],
        [chr(c) for c in range(0x1F300, 0x1F400, 17)] + [chr(0x10FFFF)],
        list("abcdefghijklmnopqrstuvwxyzéßſİ"),
    ]

    def word():
        if rng.random() < 0.05:  # a long CJK run is one word
            return "".join(rng.choice(pools[3]) for _ in range(rng.randint(400, 3000)))
        return "".join(
            rng.choice(rng.choice(pools)) for _ in range(rng.randint(1, 12))
        )

    return [" ".join(word() for _ in range(rng.randint(1, 120))) for _ in range(n)]


def test_cold_sweep_matches_warm_and_reference(corpus):
    """A worker that has seen none of the words: every memo cleared, the
    sf0.1 texts plus generated words scored cold, then warm.  Both
    passes equal the per-document reference bit for bit, and the
    kernel's miss path leaves the reference's own word memo empty."""
    texts, exp = corpus
    extra = _generated_docs()
    B._FEATURES.clear()
    P._WORD_LL_MEMO.clear()
    L._WORD_SCORES_MEMO.clear()
    cold = B.score_batch(pd.Series(texts + extra))
    assert not P._WORD_LL_MEMO
    warm = B.score_batch(pd.Series(texts + extra))
    want = pd.concat([exp, reference(extra)], ignore_index=True)
    assert not mismatches(cold, want)
    assert not mismatches(warm, want)


def test_empty_and_all_none_batches():
    got = B.score_batch(pd.Series([], dtype=object))
    assert list(got.columns) == COLUMNS and len(got) == 0
    assert_matches_reference([None, None, None])
    got = B.score_batch(pd.Series([None, None]))
    assert got["scrubbed"].tolist() == ["", ""]  # NULL input ships its ''
    assert got["pred_lang"].tolist() == ["und", "und"]


ADVERSARIAL = [
    None,
    "",
    "   ",
    "\n\n\n",
    "\xa0\u2009\u3000\x85\x1c\x1d\x1e\x1f\u2028",
    "ΟΔΟΣ ΟΔΟΣ",
    "ΟΔΟΣ\xa0ΟΔΟΣ\u3000οδος ΣΑΣ Σ",
    "İSTANBUL İstanbul istanbul",
    "baſtard ſ ſ ſ",
    "e\u0301 e\u0301 \u0301 \u0345\u0345",
    "的一是不了人我在有他这中大来上 the of",
    "国 的 是 the cat",
    "7 42 13 " * 150,
    " ".join(["the cat sat on the mat"] * 80),  # > 400 words, ties
    " ".join(["le chat"] * 150),  # > 200 alpha words
    "lorem ipsum dolor sit amet",
    "LOREM\xa0IPSUM and LOREM İPSUM and lorem\nipsum",
    "xlorem ipsumy",
    "a\x00b a\x00c a\x00b a\x00c a\x00b",
    "a\ud800 a\udc00 a\ud800",
    "- one\n- two\n* three\n•four\nplain...\n{x}\n\n- one",
    "para one\n\npara two\n\npara one\n\n",
    "mail bob@example.com or (212) 555-1234 or 10.0.0.1, damn",
    "# $ % & * + < = > @ ^ _ | ~ #hash a+b",
]


def test_adversarial_cases():
    assert_matches_reference(ADVERSARIAL)
    for t in ADVERSARIAL:  # and each alone: batch-level state must not leak
        assert_matches_reference([t])


def test_tie_heavy_cases():
    """Short words from a small vocabulary: many n-grams tie for the top
    count, and the kernel's subgram early exit and char tie-break must
    land on the plain definitions' values."""
    rng = random.Random(7)
    vocab = ["a", "bb", "ccc", "dd", "e", "fff", "gg"]
    cases = [
        "",
        "one",
        "x y",
        "a a a a a a",
        "spam ham spam ham spam ham spam ham spam ham",
        ("p q r s t u v w " * 4).strip(),  # repeated 8-word block
    ] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 60)))
        for _ in range(200)
    ]
    assert_matches_reference(cases)


_TOKENS = [
    "the", "of", "and", "le", "la", "der", "die", "el", "y", "data", "query",
    "Lorem", "ipsum", "LOREM", "İPSUM", "lorem ipsum", "ΟΔΟΣ", "οδος", "Σ", "ς",
    "İ", "ı", "ſ", "baſtard", "e\u0301", "\u0301", "的一是不了人我在", "国",
    "42", "7", "2024", "3.14", "#", "$%&", "a@b.co", "(212) 555-1234",
    "10.0.0.1", "damn", "Hell", "...", "{", "}", "x{y}", "- ", "* ", "•",
    "Привет", "καλημέρα", "a\x00b", "a\x00c", "ǅ", "ﬀ",
]
_SEPS = [
    " ", "  ", "\n", "\n\n", "\t", "\xa0", "\u2009", "\u3000", "\x85",
    "\x1c", "\x1d", "\x1e", "\x1f", "\r\n", "\u2028",
]


def test_adversarial_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    joined = st.lists(
        st.tuples(st.sampled_from(_TOKENS), st.sampled_from(_SEPS)), max_size=60
    ).map(lambda ts: "".join(a + b for a, b in ts))
    # a short block repeated past both caps: tie-heavy repeated n-grams
    repeated = st.tuples(
        st.lists(st.sampled_from(_TOKENS), min_size=1, max_size=6),
        st.sampled_from(_SEPS),
        st.integers(30, 140),
    ).map(lambda b: (b[1].join(b[0]) + b[1]) * b[2])
    doc = st.one_of(
        st.none(),
        st.sampled_from(["", " ", "\n\n", "\xa0\u3000\x85"]),
        joined,
        repeated,
        st.text(max_size=80),
        st.text(alphabet="ab Σς\u0301\n\xa0İſ", max_size=40),
        # a small alphabet of varied word lengths maximizes n-gram
        # collisions and ties; "a b" splits into two words
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "d", "ee", "a b"]), max_size=40
        ).map(" ".join),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(doc, max_size=10))
    def check(texts):
        assert_matches_reference(texts)

    check()


def test_lower_never_creates_or_removes_whitespace():
    """Pins the premise of the kernel's single split: lowering each
    distinct word equals lowering the text, then splitting.  Every
    whitespace code point lowers to whitespace only, and every other
    one to a non-empty string with no whitespace in it."""
    bad = []
    for cp in range(sys.maxunicode + 1):
        c = chr(cp)
        low = c.lower()
        if c.isspace():
            if not low.isspace():
                bad.append(cp)
        elif not low or any(x.isspace() for x in low):
            bad.append(cp)
    assert not bad, [hex(cp) for cp in bad[:10]]
    # context-dependent lowering (final sigma) across Unicode spaces
    alphabet = list("ΣσςİıIiſSsAb'.:") + [
        "\u0301", "\u0345", "\u0307", "\xad", "\u200b", "ẞ", "\u2126",
        "\u212a", " ", "\xa0", "\x85", "\x1c", "\x1f", "\u3000", "\n", "\t",
    ]
    rng = random.Random(11)
    for _ in range(20000):
        t = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20)))
        assert t.lower().split() == [w.lower() for w in t.split()], repr(t)


def test_feature_memo_clears_at_bound(monkeypatch):
    """The per-worker feature table clears wholesale when a batch would
    push it past its bound (like langid's _WORD_SCORES_MEMO), and
    scores are the same before and after a clear."""
    table = B._FeatureTable()
    monkeypatch.setattr(B, "_FEATURES", table)
    monkeypatch.setattr(table, "MAX_WORDS", 64)
    a = [" ".join(f"alpha{i} the" for i in range(30))]  # 31 distinct words
    b = [" ".join(f"beta{i} of" for i in range(30))]
    first = B.score_batch(pd.Series(a))
    assert table.n == 31 and "alpha0" in table.rows
    B.score_batch(pd.Series(b))  # 31 + 31 ≤ 64: no clear
    assert table.n == 62
    again = B.score_batch(pd.Series(a))  # all hits
    assert table.n == 62
    c = [" ".join(f"gamma{i}" for i in range(10))]
    B.score_batch(pd.Series(c))  # 62 + 10 > 64: cleared, then filled
    assert table.n == 10 and "alpha0" not in table.rows
    after = B.score_batch(pd.Series(a))
    assert "beta0" not in table.rows
    assert not mismatches(first, reference(a))
    assert not mismatches(again, first) and not mismatches(after, first)
