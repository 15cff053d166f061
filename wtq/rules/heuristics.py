"""Gopher/C4-style heuristic quality rules: the per-document stats and
the two evaluators of the rule table (wtq/rules/registry.py:RULES).

Spark side: ``fired_rules_expr`` — ONE SQL expression, rendered from
the table, that evaluates every rule per record (JVM whole-stage
codegen).  This is the analog of the reference's CASE-ladder tagging
(SURVEY.md §2.7 U3 note: evaluate every rule per record in one scan
instead of 13 unioned scans, semantically equal to
proccess_data.sql:505-737 + the :734-736 rollup).  The stats it reads
come from the pipeline's single Arrow score pass (wtq/pipeline.py) —
the text is already in Python for the regex scrub, so computing the
stats there is far cheaper than re-evaluating interpreted higher-order
expressions per output column (measured in round 1: 176 → >10k
docs/sec).  That pass runs the batch kernel (wtq/rules/batch.py), which
reproduces ``py_stats`` below for a whole Arrow batch at once.

Oracle side: the differential oracle (oracle/oracle.py) calls the
per-document ``py_stats`` — the reference the batch kernel is tested
against bit for bit — and ``py_fired_rules``, which evaluates the same
table in Python, independently of the Spark plan.  The contract for
every stat is documented once here, and ``py_stats`` computes each one
as written: a plain reference, not a second fast path (speed belongs
in the batch kernel, which the reference checks).

Definitions (on the SCRUBBED text):
  words      = non-empty substrings after splitting on whitespace
               (Python ``str.split()`` semantics, incl. Unicode spaces)
  lines      = non-empty substrings after splitting on "\n"
  mean_word_len   = Σ len(word) / n_words          (0.0 if no words)
  symbol_ratio    = count(chars ∈ SYMBOLS) / max(n_words, 1)
  stopword_frac   = count(lower(word) ∈ STOPWORDS) / max(n_words, 1)
  bullet_frac     = count(line startswith bullet) / max(n_lines, 1)
  ellipsis_frac   = count(line endswith "...") / max(n_lines, 1)
  rep_line_frac   = Σ len(line)·(occurrences-1) over distinct lines
                    / Σ len(line)                (0.0 if no lines)
  top_word_frac   = max word frequency / n_words  (0.0 if no words)
  brace_line_frac = count(line contains "{" or "}") / max(n_lines, 1)
  has_lorem       = 1.0 iff lower(text) contains "lorem ipsum"

Gopher repetition family (Rae et al. 2021, Table A1; char-weighted
"excess occurrence" form, matching rep_line_frac's convention —
paragraphs split on "\n\n", word n-grams over `words`, gram chars =
Σ len(word) over the gram, total chars = Σ len(word) over all words):
  dup_para_frac     = Σ parachars·(occurrences-1) over distinct
                      paragraphs / Σ parachars     (0.0 if no paras)
  top_{2,3,4}gram_frac = occurrences(most frequent n-gram) · gramchars
                      / total word chars           (0.0 if < n words
                      or the top gram occurs only once — once is not
                      repetition)
  dup_{5..10}gram_frac = Σ gramchars·(occurrences-1) over distinct
                      duplicated n-grams / total word chars
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

from wtq.rules import registry as R
from wtq.rules.lexicon import STOPWORDS

# Every py_stats key, in emission order.  The score schema and the batch
# kernel's columns (wtq/rules/batch.py) derive from this one list — a
# stat added to py_stats only needs an entry here to be readable by a
# rule in registry.RULES.
STAT_FIELDS: list[str] = [
    "n_words", "n_lines", "mean_word_len", "symbol_ratio",
    "stopword_frac", "bullet_frac", "ellipsis_frac", "rep_line_frac",
    "top_word_frac", "brace_line_frac", "has_lorem", "dup_para_frac",
    "top_2gram_frac", "top_3gram_frac", "top_4gram_frac",
    "dup_5gram_frac", "dup_6gram_frac", "dup_7gram_frac",
    "dup_8gram_frac", "dup_9gram_frac", "dup_10gram_frac",
]


def fired_rules_expr(ref: str) -> Column:
    """array<string> of fired rule codes, sorted — the err_all analog
    (proccess_data.sql:814-841) built in ONE pass per record: one SQL
    expression over the stats at `ref` (e.g. ``'__s.'``) and the input
    ``lang`` column, rendered from registry.RULES."""
    cases = ", ".join(R.rule_sql(r, ref) for r in R.RULES)
    return F.expr(f"array_sort(filter(array({cases}), x -> x IS NOT NULL))")


# ---------------------------------------------------------------------------
# Pure-Python mirror (oracle / differential side)
# ---------------------------------------------------------------------------

def py_words(text: str) -> list[str]:
    return [w for w in (text or "").split() if w]


def py_lines(text: str) -> list[str]:
    return [l for l in (text or "").split("\n") if l != ""]


def py_rep_line_frac(text: str) -> float:
    lines = py_lines(text)
    if not lines:
        return 0.0
    total = sum(len(l) for l in lines)
    if total == 0:
        return 0.0
    c = Counter(lines)
    dup = sum(len(l) * (n - 1) for l, n in c.items() if n > 1)
    return dup / total


def py_top_word_frac(text: str) -> float:
    words = py_words(text)
    if not words:
        return 0.0
    c = Counter(words)
    return max(c.values()) / len(words)


def py_dup_para_frac(text: str) -> float:
    paras = [p for p in (text or "").split("\n\n") if p != ""]
    if not paras:
        return 0.0
    total = sum(len(p) for p in paras)
    if total == 0:
        return 0.0
    c = Counter(paras)
    dup = sum(len(p) * (n - 1) for p, n in c.items() if n > 1)
    return dup / total


def py_top_ngram_frac(words: list[str], n: int) -> float:
    """Chars covered by the single most frequent word n-gram / total
    word chars (Gopher top-n-gram character fraction).  A gram
    occurring once is not repetition: 0.0 unless the top count ≥ 2 —
    otherwise every short document's unique top 4-gram exceeds the
    0.16 threshold arithmetically (a 21-word clean sentence measures
    0.20)."""
    total = sum(len(w) for w in words)
    if len(words) < n or total == 0:
        return 0.0
    c = Counter(tuple(words[i : i + n]) for i in range(len(words) - n + 1))
    # among equally frequent grams take the longest in chars — the
    # value-determining quantity, so the answer does not depend on how
    # a gram is represented (the batch kernel counts interned ids)
    cnt, chars = max((k, sum(len(w) for w in g)) for g, k in c.items())
    if cnt < 2:
        return 0.0
    return cnt * chars / total


def py_dup_ngram_frac(words: list[str], n: int) -> float:
    """Excess chars of duplicated word n-grams / total word chars
    (Gopher duplicate-n-gram character fraction, excess-occurrence
    form: each repeat beyond the first counts its gram's chars)."""
    total = sum(len(w) for w in words)
    if len(words) < n or total == 0:
        return 0.0
    c = Counter(tuple(words[i : i + n]) for i in range(len(words) - n + 1))
    dup = sum(sum(len(w) for w in g) * (k - 1) for g, k in c.items() if k > 1)
    return dup / total


def py_stats(text: str) -> dict[str, float]:
    """Every STAT_FIELDS value of one document, each computed straight
    from its definition above — the plain reference the batch kernel
    (wtq/rules/batch.py) is diffed against bit for bit."""
    text = text or ""
    words = py_words(text)
    lines = py_lines(text)
    n_words = len(words)
    nw = max(n_words, 1)
    nl = max(len(lines), 1)
    return {
        "n_words": n_words,
        "n_lines": len(lines),
        "mean_word_len": sum(len(w) for w in words) / n_words if n_words else 0.0,
        "symbol_ratio": sum(text.count(c) for c in R.SYMBOLS) / nw,
        "stopword_frac": sum(w.lower() in STOPWORDS for w in words) / nw,
        "bullet_frac": sum(l.startswith(R.BULLET_PREFIXES) for l in lines) / nl,
        "ellipsis_frac": sum(l.endswith("...") for l in lines) / nl,
        "rep_line_frac": py_rep_line_frac(text),
        "top_word_frac": py_top_word_frac(text),
        "brace_line_frac": sum("{" in l or "}" in l for l in lines) / nl,
        "has_lorem": 1.0 if "lorem ipsum" in text.lower() else 0.0,
        "dup_para_frac": py_dup_para_frac(text),
        **{f"top_{n}gram_frac": py_top_ngram_frac(words, n) for n in (2, 3, 4)},
        **{f"dup_{n}gram_frac": py_dup_ngram_frac(words, n) for n in range(5, 11)},
    }


def py_fired_rules(row: Mapping[str, object]) -> list[str]:
    """Sorted codes of the rules in registry.RULES that fire on `row`
    (every stat, score field and input column a rule reads → value)."""
    return sorted(r.code for r in R.RULES if R.fires(r, row))
