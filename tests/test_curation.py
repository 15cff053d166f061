"""Semantics tests for the corpus-curation operators with PLANTED
cases — independent of the cross-engine differential (which proves
Spark == DuckDB but not that either is right).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wtq.operators import curation as C
from wtq.queries import BENCH_MOD


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _decontaminate_split(docs):
    """The registry demo's split: docs with doc_id % BENCH_MOD == 0
    are the benchmark, the rest are the corpus."""
    in_bench = F.col("doc_id") % BENCH_MOD == 0
    return C.decontaminate(
        docs.filter(~in_bench), benchmark=C.benchmark_grams(docs.filter(in_bench))
    )


def _dedup_split(docs):
    """The registry demo's split: even doc_ids are the existing
    corpus, odd doc_ids the new crawl."""
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select(F.md5("text"))
    return C.incremental_corpus_dedup(
        docs.filter(F.col("doc_id") % 2 == 1), corpus_fingerprints=corpus
    )


WORDS13 = " ".join(f"w{i}" for i in range(13))


class TestDecontaminate:
    def test_planted_contamination_detected(self, spark):
        rows = [
            # benchmark doc (BENCH_MOD | doc_id): ALL its 13-grams are bench grams
            (0, WORDS13 + " tail tail", "s"),
            # contaminated: contains the bench gram mid-document
            (1, "lead " + WORDS13 + " more", "s"),
            # clean: 13+ words but no overlap
            (2, " ".join(f"x{i}" for i in range(20)), "s"),
            # short: < 13 words, can never be flagged
            (3, "a b c", "s"),
        ]
        out = {
            r["doc_id"]: r["n_hits"]
            for r in _decontaminate_split(_docs(spark, rows)).collect()
        }
        assert out == {1: 1}

    def test_benchmark_docs_never_flagged(self, spark):
        # two benchmark docs sharing a gram must not flag each other
        rows = [(0, WORDS13, "s"), (7, WORDS13 + " t", "s")]
        assert _decontaminate_split(_docs(spark, rows)).count() == 0

    def test_multiple_distinct_hits_counted(self, spark):
        g2 = " ".join(f"y{i}" for i in range(13))
        rows = [
            (0, WORDS13, "s"),
            (7, g2, "s"),
            (1, WORDS13 + " glue " + g2, "s"),
        ]
        [(doc, hits)] = [
            (r["doc_id"], r["n_hits"])
            for r in _decontaminate_split(_docs(spark, rows)).collect()
        ]
        assert (doc, hits) == (1, 2)


class TestExplicitSideInputs:
    """Production shape: string ids + benchmark / corpus side inputs
    built from data other than the corpus itself."""

    def test_decontaminate_with_explicit_benchmark(self, spark):
        docs = spark.createDataFrame(
            [
                ("https://a/1", "lead " + WORDS13 + " more"),
                ("https://a/2", " ".join(f"z{i}" for i in range(20))),
            ],
            "url string, text string",
        )
        bench = C.benchmark_grams(
            spark.createDataFrame([(WORDS13 + " suffix",)], "text string")
        )
        out = C.decontaminate(docs, "url", "text", benchmark=bench).collect()
        assert [(r["url"], r["n_hits"]) for r in out] == [("https://a/1", 1)]

    def test_decontaminate_rejects_multicolumn_benchmark(self, spark):
        # a multi-column benchmark frame would either fail with an
        # opaque arity error or silently misuse a reordered column —
        # reject it loudly instead
        import pytest

        docs = spark.createDataFrame(
            [("https://a/1", WORDS13)], "url string, text string"
        )
        bad = spark.createDataFrame([("g1", "extra")], "g string, extra string")
        with pytest.raises(ValueError, match="1-column"):
            C.decontaminate(docs, "url", "text", benchmark=bad)

    def test_incremental_dedup_with_explicit_corpus(self, spark):
        new = spark.createDataFrame(
            [("u1", "known text"), ("u2", "fresh text"), ("u3", "fresh text")],
            "url string, text string",
        )
        corpus = spark.createDataFrame([("known text",)], "t string").select(
            C.F.md5("t")
        )
        out = C.incremental_corpus_dedup(
            new, "url", "text", corpus_fingerprints=corpus
        ).collect()
        assert sorted(r["url"] for r in out) == ["u2"]


class TestIncrementalCorpusDedup:
    def test_known_fingerprints_dropped_and_batch_deduped(self, spark):
        rows = [
            (0, "already in the corpus", "s"),   # corpus (even)
            (1, "already in the corpus", "s"),   # new, known → dropped
            (3, "novel text one", "s"),          # new, novel → kept
            (5, "novel text one", "s"),          # dup within batch → folded
            (7, "novel text two", "s"),          # new, novel → kept
        ]
        out = _dedup_split(_docs(spark, rows)).collect()
        assert sorted(r["doc_id"] for r in out) == [3, 7]

    def test_only_new_batch_emitted(self, spark):
        rows = [(2 * i, f"text {i}", "s") for i in range(5)]  # corpus only
        assert _dedup_split(_docs(spark, rows)).count() == 0


class TestTokenBudgetSample:
    def test_budget_respected_and_prefix_property(self, spark, monkeypatch):
        rows = [
            (i, " ".join(["tok"] * 40), f"h{i % 2}") for i in range(20)
        ]
        monkeypatch.setattr(C, "TOKEN_BUDGET", 200)
        out = C.token_budget_sample(_docs(spark, rows)).collect()
        by_host: dict[str, list] = {}
        for r in out:
            by_host.setdefault(r["source"], []).append(r)
        assert set(by_host) == {"h0", "h1"}
        for host, kept in by_host.items():
            # budget: every kept row's running total within budget
            assert all(r["cum_tokens"] <= 200 for r in kept)
            # 40 tokens each → exactly 5 docs fit per host
            assert len(kept) == 5
            # prefix property: cum_tokens are consecutive multiples of 40
            assert sorted(r["cum_tokens"] for r in kept) == [40, 80, 120, 160, 200]

    def test_deterministic_across_runs(self, spark, monkeypatch):
        rows = [(i, " ".join(["w"] * (i + 1)), "h") for i in range(30)]
        monkeypatch.setattr(C, "TOKEN_BUDGET", 50)
        a = sorted(r["doc_id"] for r in C.token_budget_sample(_docs(spark, rows)).collect())
        b = sorted(r["doc_id"] for r in C.token_budget_sample(
            _docs(spark, rows).repartition(7)).collect())
        assert a == b and a  # non-empty and partition-count-invariant


class TestStripBoilerplate:
    def test_hot_lines_stripped_order_preserved(self, spark):
        banner = "subscribe to our newsletter today"
        rows = [
            # 4 docs (> BOILERPLATE_DF_CAP=3) carry the banner at differing positions
            (0, banner + "\nunique zero content here", "s"),
            (1, "unique one content here\n" + banner, "s"),
            (2, banner + "\nunique two content here\nmore two", "s"),
            (3, "unique three a\n" + banner + "\nunique three b", "s"),
            # a line shared by only 2 docs stays (df 2 <= cap 3)
            (4, "shared pair line\nunique four", "s"),
            (5, "shared pair line\nunique five", "s"),
            # a doc that is ONLY boilerplate → empty rebuild
            (6, banner, "s"),
        ]
        out = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in C.strip_boilerplate_lines(_docs(spark, rows)).collect()
        }
        assert out[0] == ("unique zero content here", 1)
        assert out[1] == ("unique one content here", 1)
        assert out[2] == ("unique two content here\nmore two", 1)
        # order preserved around the stripped middle line
        assert out[3] == ("unique three a\nunique three b", 1)
        assert out[4] == ("shared pair line\nunique four", 0)
        assert out[5] == ("shared pair line\nunique five", 0)
        assert out[6] == ("", 1)

    def test_empty_lines_preserved_and_clean_docs_roundtrip(self, spark):
        # paragraph breaks (empty lines) are structure, never
        # boilerplate: a corpus with no hot lines round-trips
        # byte-identically, including blank lines and trailing newline
        rows = [
            (0, "para one\n\npara two\n", "s"),
            (1, "solo line", "s"),
            (2, "a\n\n\nb", "s"),
        ]
        out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
               for r in C.strip_boilerplate_lines(_docs(spark, rows)).collect()}
        assert out == {
            0: ("para one\n\npara two\n", 0),
            1: ("solo line", 0),
            2: ("a\n\n\nb", 0),
        }

    def test_line_sep_is_literal_not_regex(self, spark, monkeypatch):
        # '.' as a separator must split on periods, not on every char
        rows = [(i, "common seg.unique %d" % i, "s") for i in range(5)]
        monkeypatch.setattr(C, "LINE_SEP", ".")
        monkeypatch.setattr(C, "BOILERPLATE_DF_CAP", 3)
        out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
               for r in C.strip_boilerplate_lines(_docs(spark, rows)).collect()}
        assert out[0] == ("unique 0", 1)  # 'common seg' (df 5 > 3) stripped

    def test_within_doc_repeats_count_once_for_df(self, spark, monkeypatch):
        # a line repeated INSIDE one doc has doc-frequency 1, not 3
        rows = [(0, "echo\necho\necho\nbody", "s"), (1, "other text", "s")]
        monkeypatch.setattr(C, "BOILERPLATE_DF_CAP", 1)
        out = {r["doc_id"]: r["n_removed"]
               for r in C.strip_boilerplate_lines(_docs(spark, rows)).collect()}
        assert out == {0: 0, 1: 0}

    def test_every_input_doc_gets_a_row(self, spark):
        rows = [(i, f"text {i}", "s") for i in range(7)] + [(7, "", "s")]
        res = C.strip_boilerplate_lines(_docs(spark, rows)).collect()
        assert sorted(r["doc_id"] for r in res) == list(range(8))
        assert [r["clean_text"] for r in res if r["doc_id"] == 7] == [""]


class TestSourceQualityGate:
    def test_stopword_free_host_dropped(self, spark):
        rows = (
            # spam host: ≥ GATE_MIN_DOCS docs, zero stopwords
            [(i, "buy buy buy cheap cheap", "spam") for i in range(3)]
            # normal host: all-stopword docs → frac 1.0, kept
            + [(10 + i, "the and of the", "good") for i in range(3)]
            # tiny host: stopword-free but only 1 doc → kept (no evidence)
            + [(20, "zzz zzz zzz", "tiny")]
        )
        out = {r["source"]: r["gate"] for r in
               C.source_quality_gate(_docs(spark, rows)).collect()}
        assert out == {"spam": "drop", "good": "keep", "tiny": "keep"}

    def test_verdict_table_is_host_sized(self, spark):
        rows = [(i, "the of and", f"h{i % 4}") for i in range(40)]
        assert C.source_quality_gate(_docs(spark, rows)).count() == 4
