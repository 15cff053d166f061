"""Deterministic character-bigram language identification.

Replaces the reference's tag-derived record classification
(water.lua:224-241 routes records by tag predicates; here the "tag" is
the byte content of the text).  fastText is not available in this
container, so the model is a fastText-style char-n-gram linear scorer
whose profiles are derived at import time from the embedded wordlists
(wtq.rules.lexicon.LANG_WORDS) — deterministic, no downloads
(SURVEY.md §7 hard-part 5).

``predict_lang`` is the per-document reference: the oracle calls it,
and the pipeline's batch kernel (wtq/rules/batch.py) reproduces it
bit for bit from the same per-word scores (``_word_scores``).
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

from wtq.rules.lexicon import LANG_WORDS

# CJK Unified Ideographs (the zh gate)
CJK_FIRST, CJK_LAST = 0x4E00, 0x9FFF
_CJK_RE = re.compile(f"[{chr(CJK_FIRST)}-{chr(CJK_LAST)}]")

_LANGS = sorted(LANG_WORDS)  # deterministic order: de, en, es, fr, zh

# Whole-word training coverage — every Latin-script word the bigram
# profiles were trained on.  The coverage gate below reads this, not
# the bigram vocabulary: bigram coverage does NOT separate unseen
# Latin languages from trained ones (measured: Italian text covers
# 0.74-0.84 of profile bigrams, the same band as genuine es/fr text)
# because Romance languages share their character pairs; whole-WORD
# membership separates cleanly (trained-language text: ~0.5 of tokens
# are function words from its list; Italian/Portuguese/Dutch: 0.03-0.14,
# only cross-language homographs like 'de', 'en', 'con').
_LATIN_LEXICON: frozenset = frozenset(
    w for lang in _LANGS if lang != "zh" for w in LANG_WORDS[lang]
)

# Minimum fraction of scored words that must come from the training
# lexicon for a Latin-script prediction to count.  Below it the doc is
# mostly words the model never saw whole — an unseen LANGUAGE (not
# just unseen vocabulary: trained-language text keeps its function-
# word backbone, which IS the lexicon), and the char-bigram likelihood
# then just picks the nearest trained neighbor with high margin
# (measured: Italian → 'es' at median margin 0.25, MORE confident than
# genuine French text at median 0.17 — the margin gate cannot catch
# this, round-5 eval in test_heldout_eval.py).  0.25 at document scale
# (40-200 words): unseen it/pt/nl false-fire ≤ 0.7%, trained-language
# abstention 0.0% (doc scale) / ≤ 1% (15-35-word snippets).
LEX_HIT_MIN = 0.25

# The other gates and caps of predict_lang (also read by the batch
# kernel, wtq/rules/batch.py): text whose CJK share exceeds
# CJK_SHARE_MIN is zh with margin ZH_MARGIN; at most SAMPLE_WORDS
# alpha words are scored; a sample under LATIN_SHARE_MIN Latin
# letters abstains.
CJK_SHARE_MIN = 0.30
ZH_MARGIN = 10.0
SAMPLE_WORDS = 200
LATIN_SHARE_MIN = 0.5


def _bigrams(s: str):
    s = f" {s} "
    for i in range(len(s) - 1):
        yield s[i : i + 2]


@lru_cache(maxsize=1)
def _profiles() -> dict[str, dict[str, float]]:
    """Per-lang log P(bigram) with add-one smoothing over the observed
    bigram vocabulary union."""
    counts: dict[str, dict[str, int]] = {}
    vocab: set[str] = set()
    for lang in _LANGS:
        c: dict[str, int] = {}
        for w in LANG_WORDS[lang]:
            for bg in _bigrams(w):
                c[bg] = c.get(bg, 0) + 1
        counts[lang] = c
        vocab.update(c)
    v = len(vocab) + 1
    profiles: dict[str, dict[str, float]] = {}
    for lang in _LANGS:
        total = sum(counts[lang].values()) + v
        base = -math.log(total)  # unseen bigram → log(1/total)
        prof = {bg: math.log(n + 1) - math.log(total) for bg, n in counts[lang].items()}
        prof["__base__"] = base
        profiles[lang] = prof
    return profiles


def _cjk_fraction(s: str) -> float:
    if not s:
        return 0.0
    # compiled char-class scan (C speed) == the per-char range test;
    # on the non-CJK common case this is one pass with zero matches
    n = len(_CJK_RE.findall(s))
    return n / len(s)


# plain-dict memo (round-6: ~2× cheaper per hit than lru_cache — no
# recency bookkeeping; cleared wholesale at the bound, like dedup's
# _HASH_MEMO, so executor memory stays flat on adversarial vocab)
_WORD_SCORES_MEMO: dict = {}
_WORD_SCORES_MAX = 1 << 18


def _word_scores(w: str) -> tuple[tuple[float, ...], int]:
    """Per-word log-likelihood under each language profile (+ bigram
    count).  Word-level memoization: function words repeat constantly
    in natural text, so the hit rate is high and deterministic."""
    memo = _WORD_SCORES_MEMO
    hit = memo.get(w)
    if hit is not None:
        return hit
    if len(memo) > _WORD_SCORES_MAX:
        memo.clear()
    profiles = _profiles()
    scores = []
    n = 0
    for lang in _LANGS:
        prof = profiles[lang]
        base = prof["__base__"]
        s = 0.0
        n = 0
        for bg in _bigrams(w):
            s += prof.get(bg, base)
            n += 1
        scores.append(s)
    out = (tuple(scores), n)
    memo[w] = out
    return out


# any char outside the Latin blocks (>= U+0250) — one compiled-regex
# scan replaces the per-char ord() loop (round-6: the Python loop was
# ~10× the cost of the C scan on the same sample)
NON_LATIN_FIRST = 0x0250
_NON_LATIN_RE = re.compile(f"[{chr(NON_LATIN_FIRST)}-\U0010ffff]")


def _latin_fraction(words) -> float:
    """Fraction of LETTERS in the Latin blocks (Basic..Extended-B,
    < U+0250 — covers every accented char the supported languages
    use) across the given alpha-only words.  Computed over the SAME
    capped word sample the scorer consumes — a fixed raw-char window
    was bypassable by a long digit/punctuation/markup preamble before
    non-Latin prose (found in round-4 self-review, regression-pinned),
    while the alpha-word sample cannot contain a letterless prefix by
    construction."""
    joined = "".join(words)
    letters = len(joined)
    if not letters:
        return 1.0
    latin = letters - len(_NON_LATIN_RE.findall(joined))
    return latin / letters


def predict_lang(text: str) -> tuple[str, float]:
    """Return (lang, margin). margin = mean-per-bigram log-likelihood
    gap between best and second-best language; 0.0 when undecidable.

    Script-aware abstention: this model's label set is Latin-script
    languages + zh, so text whose letters are predominantly in any
    OTHER script (Cyrillic, Greek, Arabic, Hangul, kana, ...) returns
    ('und', 0.0) — the L-1 rule then abstains (margin < MARGIN_MIN)
    instead of firing on a confidently WRONG label.  Without this, a
    fully-unseen script degenerates to the per-language smoothing
    baselines, which differ by a CONSTANT — measured: Russian, Greek,
    Arabic, and Korean all predicted 'zh' at margin 0.118 > MARGIN_MIN
    (round-4 fix; pinned in test_heldout_eval.py)."""
    if not text:
        return "und", 0.0
    if _cjk_fraction(text) > CJK_SHARE_MIN:
        return "zh", ZH_MARGIN
    # Score lowercase words only (strip digits/symbols deterministically).
    # cap per-doc work at 200 scored words (cf. st_subdivide cost
    # bound, SURVEY.md §4); islice stops the filter at the cap instead
    # of filtering the whole document first (round-6, value-identical)
    from itertools import islice

    lwords = text.lower().split()
    sample = list(islice((w for w in lwords if w.isalpha()), SAMPLE_WORDS))
    if not sample:
        return "und", 0.0
    if _latin_fraction(sample) < LATIN_SHARE_MIN:
        return "und", 0.0
    # Unseen-LANGUAGE abstention (Latin scripts): see LEX_HIT_MIN.
    # Computed over the same capped sample the scorer consumes, like
    # the script gate (round-4 preamble-bypass lesson).
    if sum(1 for w in sample if w in _LATIN_LEXICON) < LEX_HIT_MIN * len(sample):
        return "und", 0.0
    # column-wise sequential sums: sum() adds left-to-right, so each
    # language's total is the identical float chain the per-word
    # accumulation loop produced (round-6 hot-path shape)
    scored = [_word_scores(w) for w in sample]
    totals = [sum(col) for col in zip(*(ws for ws, _ in scored))]
    nbg = sum(n for _, n in scored)
    if nbg == 0:
        return "und", 0.0
    ranked = sorted(zip(totals, _LANGS), key=lambda kv: (-kv[0], kv[1]))
    margin = (ranked[0][0] - ranked[1][0]) / nbg
    return ranked[0][1], margin


# Confidence gate for the L-1 rule: below this margin the prediction is
# treated as unreliable and the rule does not fire.
MARGIN_MIN = 0.05
