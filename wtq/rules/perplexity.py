"""KenLM-style character-trigram perplexity scorer.

A deterministic stand-in for a KenLM model (not installable here): a
char-trigram LM with add-one smoothing, trained at import time on a
corpus synthesized from the embedded wordlists — self-contained, no
network (SURVEY.md §7 hard-part 5).  High perplexity ⇒ gibberish ⇒
rule P-1.

``char_perplexity`` is the per-document reference: the oracle calls
it, and the pipeline's batch kernel (wtq/rules/batch.py) reproduces it
bit for bit, computing ``_word_ll`` for all of a batch's new words at
once from the same model and the same per-trigram expression.
"""

from __future__ import annotations

import math
from functools import lru_cache

from wtq.rules.lexicon import CONTENT_WORDS, LANG_WORDS


@lru_cache(maxsize=1)
def _model() -> tuple[dict[str, int], dict[str, int], int]:
    """(trigram counts, bigram context counts, vocab size)."""
    corpus_words: list[str] = list(CONTENT_WORDS)
    for lang in ("en", "fr", "es", "de"):
        corpus_words.extend(LANG_WORDS[lang])
    corpus = " ".join(corpus_words)
    tri: dict[str, int] = {}
    bi: dict[str, int] = {}
    pad = "  " + corpus
    for i in range(len(pad) - 2):
        ctx = pad[i : i + 2]
        tg = pad[i : i + 3]
        tri[tg] = tri.get(tg, 0) + 1
        bi[ctx] = bi.get(ctx, 0) + 1
    vocab = len(set(corpus)) + 1
    return tri, bi, vocab


# plain-dict memo (round-6: ~2× cheaper per hit than lru_cache — no
# recency bookkeeping; cleared wholesale at the bound so executor
# memory stays flat on adversarial vocab)
_WORD_LL_MEMO: dict = {}
_WORD_LL_MAX = 1 << 18


def _word_ll(w: str) -> tuple[float, int]:
    """(sum log-prob, n trigrams) for one space-padded word.  Word-level
    memoization: natural text repeats words constantly, so the hit rate
    is high and deterministic (same trick as langid._word_scores)."""
    memo = _WORD_LL_MEMO
    hit = memo.get(w)
    if hit is not None:
        return hit
    if len(memo) > _WORD_LL_MAX:
        memo.clear()
    tri, bi, vocab = _model()
    s = "  " + w + " "
    ll = 0.0
    n = 0
    for i in range(len(s) - 2):
        num = tri.get(s[i : i + 3], 0) + 1
        den = bi.get(s[i : i + 2], 0) + vocab
        ll += math.log(num / den)
        n += 1
    out = (ll, n)
    memo[w] = out
    return out


# per-document word cap (see char_perplexity)
MAX_WORDS = 400


def char_perplexity(text: str) -> float:
    """Per-char perplexity under the trigram LM, computed word-by-word
    (each word scored in a space-padded context, totals pooled); 0.0
    for empty text.  Work is capped at MAX_WORDS per document to keep
    Arrow batches balanced (cost-bounding analog of st_subdivide,
    SURVEY.md §4)."""
    if not text:
        return 0.0
    words = text.lower().split()
    if not words:
        return 0.0
    # column-wise sequential sums over the capped word list — sum()
    # adds left-to-right, the identical float chain of the per-word
    # accumulation loop (round-6 hot-path shape)
    lls, ns = zip(*map(_word_ll, words[:MAX_WORDS]))
    n = sum(ns)
    if n == 0:
        return 0.0
    return math.exp(-sum(lls) / n)
