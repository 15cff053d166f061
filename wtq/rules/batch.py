"""Column-at-a-time score kernel: one Arrow batch in, one frame out.

``score_batch`` computes, for a whole batch of documents, exactly the
values the per-document cores produce one document at a time —
``scrub_text`` → ``predict_lang`` → ``char_perplexity`` → ``py_stats``
on the scrubbed text — but does the per-word work once per DISTINCT
word of the batch instead of once per word occurrence.  The
per-document cores stay the reference: the pandas oracle
(oracle/oracle.py) calls them directly, so the pipeline-vs-oracle
differential is a batch-vs-per-document check (tests/test_score_batch.py
sweeps it bit for bit).  Only ``scrub_text`` is shared: it is the
single scrub implementation the byte-identity contract requires.

Shape of the kernel:

* each scrubbed text is split once; the batch's words are interned
  once (a dict, see ``_intern``) and every per-word feature is gathered from
  a per-worker feature table (``_FEATURES``) keyed by word;
* per-document counts are segment sums over the doc-major word
  positions; the Gopher n-gram cascade runs one hash-interning pass per
  order over the whole batch, keyed by doc-qualified gram ids, with
  the early exit as a mask of the documents that still repeat;
* lines and paragraphs are interned the same way.

Bit-identity rules (DEVNOTES, "Batch kernels and bit-identity"):

* every count stays an integer until its one final division; int64 /
  int64 true division equals Python's int / int below 2**53;
* the float sums (langid totals, perplexity log-likelihoods) keep
  Python ``sum()``'s left-to-right order: ``np.add.accumulate`` along
  a zero-padded documents × cap array — ``np.add.reduce`` / ``reduceat``
  sum pairwise and differ in the last bits;
* ``math.exp`` stays per document (``np.exp`` is not libm);
* lowering each distinct word equals lowering the text and splitting
  it, because ``str.lower()`` never creates or removes whitespace
  (pinned exhaustively in tests/test_score_batch.py).
"""

from __future__ import annotations

import math
from functools import lru_cache
from itertools import chain, count, product, repeat

import numpy as np
import pandas as pd

from wtq.rules import langid as L
from wtq.rules import perplexity as P
from wtq.rules import registry as R
from wtq.rules.heuristics import STAT_FIELDS
from wtq.rules.lexicon import STOPWORDS
from wtq.rules.scrub import scrub_text

# documents scored at a time: the kernel's transient arrays take about
# 30 kB per document, so a 10k-record Arrow batch is scored in chunks
_CHUNK = 1024

_NL = len(L._LANGS)
_UND = len(L._LANGS)  # pred_lang code for "und"
_ZH = L._LANGS.index("zh")
_LANG_NAMES = np.array(L._LANGS + ["und"], dtype=object)
_IS_SYMBOL = np.zeros(0x110000, bool)  # indexed by code point
_IS_SYMBOL[[ord(c) for c in R.SYMBOLS]] = True


def _code_points(words: list[str]):
    """The code points of all `words` in one array, and the end offset
    of each word in it (len() counts code points)."""
    cp = np.frombuffer("".join(words).encode("utf-32-le", "surrogatepass"), np.uint32)
    return cp, np.cumsum(np.fromiter(map(len, words), np.int64, len(words)))


def _per_word(mask: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Count of True in `mask` per word (words are non-empty)."""
    return np.diff(np.cumsum(mask, dtype=np.int64)[ends - 1], prepend=0)


class _FeatureTable:
    """Per-word features, one row per distinct word this worker has
    seen, in flat numpy columns grown in amortized chunks (a miss
    appends rows; it never rebuilds the table).  A new word's row is
    filled at once, perplexity columns included (one vectorized
    ``_word_lls`` call per miss batch).  Only the langid columns are
    filled lazily, for words inside langid's sample that reach its
    scoring (per-word scoring is Python-level and few words need it);
    -1 in ``nbg`` marks "not computed".  Cleared wholesale at the
    bound, like langid's _WORD_SCORES_MEMO."""

    MAX_WORDS = 1 << 18

    def __init__(self) -> None:
        self.rows: dict[str, int] = {}
        self.n = 0
        self._alloc(0)

    def _alloc(self, cap: int) -> None:
        self.wlen = np.zeros(cap, np.int64)  # len(word)
        self.nsym = np.zeros(cap, np.int64)  # symbol chars in word
        self.ncjk = np.zeros(cap, np.int64)  # CJK chars in word
        self.lower = np.empty(cap, object)  # lower(word), lowered once
        self.stop = np.zeros(cap, bool)  # lower(word) ∈ STOPWORDS
        self.lorem = np.zeros(cap, bool)  # "lorem" ⊂ lower(word)
        self.alpha = np.zeros(cap, bool)  # lower(word).isalpha()
        self.llen = np.zeros(cap, np.int64)  # len(lower(word))
        self.nonlat = np.zeros(cap, np.int64)  # chars ≥ U+0250 in lower(word)
        self.lex = np.zeros(cap, bool)  # lower(word) ∈ _LATIN_LEXICON
        self.scores = np.zeros((cap, _NL))  # langid per-language log-lik
        self.nbg = np.full(cap, -1, np.int64)  # langid bigram count
        self.ll = np.zeros(cap)  # perplexity log-lik
        self.ntri = np.zeros(cap, np.int64)  # perplexity trigram count

    def _grow(self, need: int) -> None:
        old = {k: v for k, v in vars(self).items() if isinstance(v, np.ndarray)}
        self._alloc(max(need, 2 * len(self.wlen), 4096))
        for k, v in old.items():
            getattr(self, k)[: self.n] = v[: self.n]

    def clear(self) -> None:
        self.rows.clear()
        self.n = 0

    def lookup(self, words: np.ndarray) -> np.ndarray:
        """Row of each (distinct) word, adding the missing ones."""
        rows = np.fromiter(
            map(self.rows.get, words, repeat(-1)), np.int64, len(words)
        )
        miss = np.flatnonzero(rows < 0)
        if not miss.size:
            return rows
        if self.n + miss.size > self.MAX_WORDS:
            self.clear()
            rows[:] = -1
            miss = np.arange(len(words))
        new = words[miss].tolist()
        lower = list(map(str.lower, new))
        lo, hi = self.n, self.n + len(new)
        if hi > len(self.wlen):
            self._grow(hi)
        cp, ends = _code_points(new)
        self.wlen[lo:hi] = np.diff(ends, prepend=0)
        self.nsym[lo:hi] = _per_word(_IS_SYMBOL[cp], ends)
        self.ncjk[lo:hi] = _per_word((cp >= L.CJK_FIRST) & (cp <= L.CJK_LAST), ends)
        self.lower[lo:hi] = lower
        cp, ends = _code_points(lower)
        self.llen[lo:hi] = np.diff(ends, prepend=0)
        self.nonlat[lo:hi] = _per_word(cp >= L.NON_LATIN_FIRST, ends)
        n = len(new)
        self.stop[lo:hi] = np.fromiter(map(STOPWORDS.__contains__, lower), bool, n)
        self.lorem[lo:hi] = ["lorem" in w for w in lower]
        self.alpha[lo:hi] = np.fromiter(map(str.isalpha, lower), bool, n)
        self.lex[lo:hi] = np.fromiter(map(L._LATIN_LEXICON.__contains__, lower), bool, n)
        self.nbg[lo:hi] = -1
        self.ll[lo:hi], self.ntri[lo:hi] = _word_lls(lower)
        rows[miss] = np.arange(lo, hi)
        self.rows.update(zip(new, range(lo, hi)))
        self.n = hi
        return rows

    def fill_langid(self, rows: np.ndarray) -> None:
        """Compute the langid columns of `rows` where they are still
        missing."""
        todo = np.flatnonzero(self.nbg[rows] < 0)
        if todo.size:
            out = [L._word_scores(w) for w in self.lower[rows[todo]].tolist()]
            self.scores[rows[todo]] = [s for s, _ in out]
            self.nbg[rows[todo]] = [n for _, n in out]


_FEATURES = _FeatureTable()


@lru_cache(maxsize=1)
def _ppl_table():
    """perplexity._word_ll's log-probability term of every trigram, as
    a dense table over the model's alphabet: (code point -> alphabet
    index, flat terms indexed (a·A + b)·A + c, A).  Index 0 stands for
    every code point outside the alphabet, as the empty string, so the
    terms come from the reference's own expressions: a trigram or
    context holding it is never a model key."""
    tri, bi, vocab = P._model()
    chars = [""] + sorted({c for t in tri for c in t})
    index = np.zeros(0x110000, np.min_scalar_type(len(chars)))
    index[[ord(c) for c in chars[1:]]] = np.arange(1, len(chars))
    term = [
        math.log((tri.get(a + b + c, 0) + 1) / (bi.get(a + b, 0) + vocab))
        for a, b, c in product(chars, repeat=3)
    ]
    return index, np.array(term), len(chars)


def _word_lls(words: list[str]):
    """perplexity._word_ll of every word at once, bit for bit: (ll,
    ntri).  The words are laid out space-padded ("  " + w + " ") in one
    array of alphabet indices; each word's trigram terms are then
    contiguous, and the words of one trigram count are summed left to
    right as one 2-D gather."""
    index, term, A = _ppl_table()
    cp, ends = _code_points(words)
    n = np.diff(ends, prepend=0)
    pad = np.full(len(cp) + 3 * len(words), index[ord(" ")], np.intp)
    pad[np.arange(len(cp)) + np.repeat(3 * np.arange(len(words)) + 2, n)] = index[cp]
    # a trigram starts at every padded position but a word's last two
    starts = np.ones(len(pad) - 2, bool)
    pend = ends + 3 * np.arange(1, len(words) + 1)
    starts[pend[:-1] - 1] = starts[pend[:-1] - 2] = False
    terms = term[((pad[:-2] * A + pad[1:-1]) * A + pad[2:])[starts]]
    ntri = n + 1
    first = np.cumsum(ntri) - ntri  # each word's first term
    ll = np.empty(len(words))
    order = np.argsort(ntri, kind="stable")
    for grp in np.split(order, np.flatnonzero(np.diff(ntri[order])) + 1):
        cols = first[grp, None] + np.arange(ntri[grp[0]])
        ll[grp] = np.add.accumulate(terms[cols], axis=1)[:, -1]
    return ll, ntri


def _intern(parts: list[list[str]]):
    """Flatten per-document piece lists: (pieces per doc, doc of each
    piece, piece codes, distinct pieces in first-appearance order).
    Interning goes through a dict, i.e. Python string equality:
    ``pd.factorize`` hashes all-string arrays as C strings and merges
    pieces that differ only after an embedded NUL or in a lone
    surrogate."""
    counts = np.fromiter(map(len, parts), np.int64, len(parts))
    flat = list(chain.from_iterable(parts))
    index = dict(zip(dict.fromkeys(flat), count()))
    codes = np.fromiter(map(index.__getitem__, flat), np.int64, len(flat))
    uniq = np.fromiter(index, object, len(index))
    return counts, np.repeat(np.arange(len(parts)), counts), codes, uniq


def _count(doc: np.ndarray, n_docs: int, weights=None) -> np.ndarray:
    """Per-document integer sum (exact: integer totals < 2**53)."""
    out = np.bincount(doc, weights=weights, minlength=n_docs)
    return out.astype(np.int64, copy=False)


def _seq_sum(doc, rank, vals, n_docs, cap) -> np.ndarray:
    """Per-document left-to-right float sums — Python ``sum()`` order —
    of `vals` placed at (doc, rank), rank < cap.  Zero padding leaves a
    sum unchanged (no term is -0.0)."""
    pad = np.zeros((n_docs, cap) + vals.shape[1:])
    pad[doc, rank] = vals
    return np.add.accumulate(pad, axis=1)[:, -1]


def _dup_excess(doc, codes, plen, n_docs):
    """Σ len(piece)·(occurrences − 1) over each document's distinct
    non-empty pieces — the excess-occurrence numerator of rep_line_frac
    and dup_para_frac — and Σ len(piece), both integers."""
    m = plen[codes] > 0
    doc, codes = doc[m], codes[m]
    total = _count(doc, n_docs, plen[codes])
    if not len(codes):
        return np.zeros(n_docs, np.int64), total
    ids, keys = pd.factorize(doc * len(plen) + codes)
    cnt = np.bincount(ids)
    kdoc, kcode = np.divmod(keys, len(plen))
    dup = _count(kdoc, n_docs, plen[kcode] * (cnt - 1))
    return dup, total


def _frac(num, den) -> np.ndarray:
    """num / den where den > 0, else 0.0 (int64 / int64 true division)."""
    out = np.zeros(len(num))
    ok = den > 0
    out[ok] = num[ok] / den[ok]
    return out


def _lines_where(texts, parts, maybe, is_hit) -> np.ndarray:
    """Per-document count of lines with `is_hit`, scanning only the
    documents where `maybe(text)` holds (a necessary condition)."""
    return np.array(
        [sum(map(is_hit, ls)) if maybe(t) else 0 for t, ls in zip(texts, parts)],
        np.int64,
    )


def _line_stats(texts: list[str], out: dict) -> None:
    n_docs = len(texts)
    parts = [t.split("\n") for t in texts]
    _, doc, codes, uniq = _intern(parts)
    plen = np.fromiter(map(len, uniq.tolist()), np.int64, len(uniq))
    n_lines = _count(doc[plen[codes] > 0], n_docs)
    nl = np.maximum(n_lines, 1)
    out["n_lines"] = n_lines
    bullets = R.BULLET_PREFIXES
    n_bullet = _lines_where(
        texts, parts, lambda t: any(b in t for b in bullets),
        lambda l: l.startswith(bullets),
    )
    n_ellipsis = _lines_where(
        texts, parts, lambda t: "..." in t, lambda l: l.endswith("...")
    )
    n_brace = _lines_where(
        texts, parts, lambda t: "{" in t or "}" in t, lambda l: "{" in l or "}" in l
    )
    out["bullet_frac"] = n_bullet / nl
    out["ellipsis_frac"] = n_ellipsis / nl
    out["brace_line_frac"] = n_brace / nl
    out["rep_line_frac"] = _frac(*_dup_excess(doc, codes, plen, n_docs))
    # a text without "\n\n" is one paragraph: nothing repeats
    multi = np.array([i for i, t in enumerate(texts) if "\n\n" in t], np.int64)
    dup_para = np.zeros(n_docs)
    if multi.size:
        _, pdoc, pcodes, puniq = _intern([texts[i].split("\n\n") for i in multi])
        plen = np.fromiter(map(len, puniq.tolist()), np.int64, len(puniq))
        dup_para[multi] = _frac(*_dup_excess(pdoc, pcodes, plen, len(multi)))
    out["dup_para_frac"] = dup_para


def _repetition(doc, codes, wlen, n_words, total, out: dict) -> np.ndarray:
    """The Gopher n-gram family for every document at once; returns the
    top single-word count per document, equal to heuristics'
    py_top_ngram_frac / py_dup_ngram_frac per n.  Each order is built
    from the one below, batch-wide: the level-n gram at position p is
    keyed (doc-qualified id of its (n−1)-gram at p) · U + (word code at
    p+n−1), so grams never merge across documents, and per-level
    interning is one ``pd.factorize`` over the batch."""
    n_docs, U = len(n_words), len(wlen)
    for n in (2, 3, 4):
        out[f"top_{n}gram_frac"] = np.zeros(n_docs)
    for n in range(5, 11):
        out[f"dup_{n}gram_frac"] = np.zeros(n_docs)
    if not len(codes):
        return np.zeros(n_docs, np.int64)
    # level 1: doc-qualified word ids (first-appearance order)
    cur, keys = pd.factorize(doc * U + codes)
    cur = cur.astype(np.int64, copy=False)
    cnt = np.bincount(cur)
    gdoc, kcode = np.divmod(keys, U)
    top_word = np.zeros(n_docs, np.int64)
    np.maximum.at(top_word, gdoc, cnt)
    pch = wlen[kcode]
    # an n-gram can repeat only where the (n−1)-grams at p and p+1 both
    # repeat, so each level keys just those positions; every other
    # n-gram occurs once and adds nothing to any stat.  A document thus
    # leaves the cascade at its first repetition-free order.
    end = np.cumsum(n_words)[doc]  # one past the last word of p's doc
    P = np.arange(len(codes))
    rep = np.zeros(len(codes) + 1, bool)
    rep[P] = cnt[cur] >= 2
    for n in range(2, 11):
        P = P[rep[P] & rep[P + 1] & (P + n - 1 < end[P])]
        if not P.size:
            break
        ids, keys = pd.factorize(cur[P] * U + codes[P + n - 1])
        cnt = np.bincount(ids)
        prev, last = np.divmod(keys, U)
        kch = pch[prev] + wlen[last]
        gdoc = gdoc[prev]
        if n <= 4:
            mx = np.zeros(n_docs, np.int64)
            np.maximum.at(mx, gdoc, cnt)
            # tie-break on chars, as heuristics.py_top_ngram_frac
            at_mx = cnt == mx[gdoc]
            chars = np.zeros(n_docs, np.int64)
            np.maximum.at(chars, gdoc[at_mx], kch[at_mx])
            hit = mx >= 2
            out[f"top_{n}gram_frac"][hit] = mx[hit] * chars[hit] / total[hit]
        else:
            m = cnt > 1
            dup = _count(gdoc[m], n_docs, (cnt[m] - 1) * kch[m])
            hit = dup > 0
            out[f"dup_{n}gram_frac"][hit] = dup[hit] / total[hit]
        rep[:] = False
        rep[P] = cnt[ids] >= 2
        cur[P] = ids
        pch = kch
    return top_word


def _langid(texts, doc, codes, feats, rows, starts, out) -> None:
    """predict_lang over the batch: the same gates in the same order —
    empty text, CJK share, empty alpha sample, Latin-letter share,
    lexicon hits, no bigrams — then the ranked per-language totals."""
    n_docs = len(texts)
    alpha = feats.alpha[rows][codes]
    acs = np.cumsum(alpha)
    rank = acs - 1 - np.concatenate(([0], acs))[starts][doc]
    in_s = alpha & (rank < L.SAMPLE_WORDS)
    sdoc, scode, srank = doc[in_s], codes[in_s], rank[in_s]
    n_sample = _count(sdoc, n_docs)
    letters = _count(sdoc, n_docs, feats.llen[rows][scode])
    latin = letters - _count(sdoc, n_docs, feats.nonlat[rows][scode])
    hits = _count(sdoc, n_docs, feats.lex[rows][scode])
    # the CJK gate precedes every other outcome for non-empty text;
    # CJK characters are never whitespace, so the text's count is the
    # sum over its words
    n_chars = np.fromiter(map(len, texts), np.int64, n_docs)
    zh = _frac(_count(doc, n_docs, feats.ncjk[rows][codes]), n_chars) > L.CJK_SHARE_MIN
    cand = (
        ~zh
        & (n_sample > 0)
        & (_frac(latin, letters) >= L.LATIN_SHARE_MIN)
        & ~(hits < L.LEX_HIT_MIN * n_sample)
    )
    needed = np.zeros(len(rows), bool)
    needed[scode[cand[sdoc]]] = True
    feats.fill_langid(rows[needed])
    nbg = _count(sdoc, n_docs, feats.nbg[rows][scode])
    cand &= nbg > 0
    keep = cand[sdoc]
    totals = _seq_sum(
        sdoc[keep], srank[keep], feats.scores[rows][scode[keep]], n_docs, L.SAMPLE_WORDS
    )
    # rank by (-total, language name): _LANGS is sorted, and a stable
    # sort keeps equal totals in name order
    order = np.argsort(-totals, axis=1, kind="stable")
    r = np.arange(n_docs)
    best, second = totals[r, order[:, 0]], totals[r, order[:, 1]]
    lang = np.where(zh, _ZH, _UND)
    margin = np.where(zh, L.ZH_MARGIN, 0.0)
    lang[cand] = order[cand, 0]
    margin[cand] = (best[cand] - second[cand]) / nbg[cand]
    out["pred_lang"] = _LANG_NAMES[lang]
    out["lang_margin"] = margin


def _perplexity(doc, codes, feats, rows, starts, n_docs, out) -> None:
    pos = np.arange(len(codes)) - starts[doc]
    m = pos < P.MAX_WORDS
    pdoc, pcode = doc[m], codes[m]
    n = _count(pdoc, n_docs, feats.ntri[rows][pcode])
    lls = _seq_sum(pdoc, pos[m], feats.ll[rows][pcode], n_docs, P.MAX_WORDS)
    ok = n > 0
    x = np.zeros(n_docs)
    x[ok] = -lls[ok] / n[ok]
    out["ppl"] = np.array([math.exp(v) if k else 0.0 for v, k in zip(x.tolist(), ok)])


def score_batch(texts: pd.Series) -> pd.DataFrame:
    """The score columns of every document in `texts` (None allowed):
    scrubbed (NULL when scrubbing changed nothing — the pipeline
    coalesces it back from the input), the four scrub-edit counts,
    pred_lang, lang_margin, ppl, then ``STAT_FIELDS``."""
    raw = list(texts)
    if len(raw) <= _CHUNK:
        return _score(raw)
    return pd.concat(
        [_score(raw[i : i + _CHUNK]) for i in range(0, len(raw), _CHUNK)],
        ignore_index=True,
    )


def _score(raw: list) -> pd.DataFrame:
    n_docs = len(raw)
    srs = [scrub_text(t) for t in raw]
    s = [r.text for r in srs]
    out: dict = {
        "scrubbed": np.array(
            [r.text if (r.n_edits or t is None) else None for r, t in zip(srs, raw)],
            dtype=object,
        )
    }
    for f in ("n_email", "n_phone", "n_ip", "n_profanity"):
        out[f] = np.fromiter((getattr(r, f) for r in srs), np.int64, n_docs)

    n_words, doc, codes, uniq = _intern([t.split() for t in s])
    feats = _FEATURES
    rows = feats.lookup(uniq)
    starts = np.cumsum(n_words) - n_words
    _langid(s, doc, codes, feats, rows, starts, out)
    _perplexity(doc, codes, feats, rows, starts, n_docs, out)

    wlen = feats.wlen[rows]
    total = _count(doc, n_docs, wlen[codes])
    nw = np.maximum(n_words, 1)
    stats: dict = {"n_words": n_words}
    _line_stats(s, stats)
    top_word = _repetition(doc, codes, wlen, n_words, total, stats)
    stats["mean_word_len"] = _frac(total, n_words)
    stats["symbol_ratio"] = _count(doc, n_docs, feats.nsym[rows][codes]) / nw
    stats["stopword_frac"] = _count(doc, n_docs, feats.stop[rows][codes]) / nw
    stats["top_word_frac"] = _frac(top_word, n_words)
    # "lorem ipsum" ⊂ lower(text) needs a word whose lowercase holds "lorem"
    lorem = np.flatnonzero(_count(doc, n_docs, feats.lorem[rows][codes]))
    has_lorem = np.zeros(n_docs)
    has_lorem[[i for i in lorem.tolist() if "lorem ipsum" in s[i].lower()]] = 1.0
    stats["has_lorem"] = has_lorem
    out.update((f, stats[f]) for f in STAT_FIELDS)
    return pd.DataFrame(out)
