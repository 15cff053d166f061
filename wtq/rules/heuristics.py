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
every stat is documented once here.

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

import numpy as np
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


def py_rep_line_frac(text: str, _lines: "list[str] | None" = None) -> float:
    lines = _lines if _lines is not None else py_lines(text)
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
    # tie-break on gram char length — the value-determining quantity —
    # so the answer is independent of gram representation (the
    # cascaded fast path in _py_repetition_stats counts interned ids)
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


def _rep_stats_core(
    L: int, ids64: "np.ndarray", wchars: "np.ndarray", total: int
) -> dict[str, float]:
    """All nine Gopher n-gram stats in one cascaded pass over
    pre-interned word ids — value-equal to calling py_top_ngram_frac /
    py_dup_ngram_frac per n (property-tested), but hot-path-shaped
    (this is the pipeline's Arrow-pass inner loop):

      * each level's grams are built INCREMENTALLY: an n-gram key is
        (intern id of its (n−1)-gram prefix) · W + (last word id) —
        one vectorized multiply-add + np.unique per level (round-6:
        the per-level Python listcomp + Counter became numpy int64
        arrays; keys stay < L·W ≤ L², machine ints, and np.unique's
        inverse indices ARE the next level's interning — relabeling
        preserves the gram equivalence classes and char data, which is
        all the counts depend on);
      * gram char lengths accumulate along the same chain (kch indexed
        by the unique-key array);
      * the subgram implication (a repeated n-gram contains a repeated
        (n−1)-gram) exits the cascade at the first repetition-free
        order, so clean documents cost ONE level.

    All arithmetic is integer until the final division, so the emitted
    doubles are bit-identical to the dict/Counter form this replaces.
    """
    out = {f"top_{n}gram_frac": 0.0 for n in (2, 3, 4)}
    out.update({f"dup_{n}gram_frac": 0.0 for n in range(5, 11)})
    if total == 0 or L < 2:
        return out
    W = wchars.shape[0]
    # level state: cur[p] = intern id of the (n-1)-gram at position p;
    # pch[gid] = its char length.  Level 1 = the words themselves.
    cur, pch = ids64, wchars
    for n in range(2, 11):
        if L < n:
            break
        # key of the n-gram at p: prefix gram id · W + last word id
        keys = cur[: L - n + 1] * W + ids64[n - 1 :]
        uniq, inv, cnt = np.unique(keys, return_inverse=True, return_counts=True)
        kch = pch[uniq // W] + wchars[uniq % W]
        if n <= 4:
            mx = int(cnt.max())
            if mx < 2:
                break  # no repeated n-gram ⇒ none at any higher order
            # tie-break on chars (value-determining, representation-
            # independent — matches py_top_ngram_frac)
            chars = int(kch[cnt == mx].max())
            out[f"top_{n}gram_frac"] = mx * chars / total
        else:
            m = cnt > 1
            dup = int(((cnt[m] - 1) * kch[m]).sum())
            if dup == 0:
                break
            out[f"dup_{n}gram_frac"] = dup / total
        if n < 10 and L >= n + 1:
            # the inverse indices intern this level's grams for the next
            cur, pch = inv.astype(np.int64, copy=False), kch
    return out


def _intern_words(words: list[str]):
    """One interning pass shared by the mean/top-word/stopword stats
    and the repetition cascade: (ids64, wchars, counts) — word ids in
    document order, per-unique-word char lengths, per-unique-word
    occurrence counts."""
    idx: dict[str, int] = {}
    setd = idx.setdefault
    ids = [setd(w, len(idx)) for w in words]
    U = len(idx)
    ids64 = np.asarray(ids, dtype=np.int64)
    wchars = np.empty(U, dtype=np.int64)
    for w, i in idx.items():
        wchars[i] = len(w)
    counts = np.bincount(ids64, minlength=U)
    return idx, ids64, wchars, counts


def _py_repetition_stats(words: list[str]) -> dict[str, float]:
    """Public/test entry: intern then run the shared cascade core."""
    total = sum(len(w) for w in words)
    if total == 0 or len(words) < 2:
        out = {f"top_{n}gram_frac": 0.0 for n in (2, 3, 4)}
        out.update({f"dup_{n}gram_frac": 0.0 for n in range(5, 11)})
        return out
    _, ids64, wchars, _ = _intern_words(words)
    return _rep_stats_core(len(words), ids64, wchars, total)


def py_stats(text: str) -> dict[str, float]:
    text = text or ""
    words = py_words(text)
    lines = py_lines(text)
    n_words = len(words)
    n_lines = len(lines)
    nw = max(n_words, 1)
    nl = max(n_lines, 1)
    if n_words:
        # shared interning (round-6): mean/top-word/stopword and the
        # repetition cascade all read one pass.  Integer sums → the
        # same divisions → bit-identical to the per-stat loops.
        idx, ids64, wchars, counts = _intern_words(words)
        total_chars = int(counts @ wchars)
        n_stop = 0
        for w, i in idx.items():
            if w.lower() in STOPWORDS:
                n_stop += int(counts[i])
        top_word = int(counts.max())
        rep = _rep_stats_core(n_words, ids64, wchars, total_chars)
    else:
        total_chars = n_stop = top_word = 0
        rep = _py_repetition_stats(words)
    # one fused pass over the (short) line list for the three per-line
    # counters (round-6; counts identical to the three genexprs)
    n_bullet = n_ellipsis = n_brace = 0
    for l in lines:
        if l.startswith(R.BULLET_PREFIXES):
            n_bullet += 1
        if l.endswith("..."):
            n_ellipsis += 1
        if "{" in l or "}" in l:
            n_brace += 1
    return {
        "n_words": n_words,
        "n_lines": n_lines,
        "mean_word_len": (total_chars / n_words) if n_words else 0.0,
        # str.count per symbol char (C speed) == the per-char scan for
        # single-char needles
        "symbol_ratio": sum(text.count(c) for c in R.SYMBOLS) / nw,
        "stopword_frac": n_stop / nw,
        "bullet_frac": n_bullet / nl,
        "ellipsis_frac": n_ellipsis / nl,
        "rep_line_frac": py_rep_line_frac(text, _lines=lines),
        "top_word_frac": (top_word / n_words) if words else 0.0,
        "brace_line_frac": n_brace / nl,
        "has_lorem": 1.0 if "lorem ipsum" in text.lower() else 0.0,
        "dup_para_frac": py_dup_para_frac(text),
        **rep,
    }


def py_fired_rules(row: Mapping[str, object]) -> list[str]:
    """Sorted codes of the rules in registry.RULES that fire on `row`
    (every stat, score field and input column a rule reads → value)."""
    return sorted(r.code for r in R.RULES if R.fires(r, row))
