"""Deterministic synthetic ``pages`` generator.

Produces the pipeline's primary input table, exactly the
``input_hint`` shape::

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Scale is tied to the driver-provided testdata: the row skeleton
(doc_id, lang, length seed) comes from ``<sf_dir>/documents.parquet``,
so sf0.001/0.01/0.1 produce proportionally sized pages tables without
any external data.  Every page's content is a pure function of
(doc_id, replica) — independent of generation order and platform.

Planted features (FIXTURES.md §1): too-short/too-long docs, symbol
spam, stopword-free docs, repeated boilerplate lines, PII (emails,
phones, IPs), profanity, wrong-language docs, re-crawled duplicate
urls, near-duplicates, gibberish, bullet/ellipsis spam, repeated-word
spam, over-long words, code braces, lorem-ipsum filler — one
feature class per ``key % N_CLASSES``, plus a
Zipf-skewed host pool so a few hot hosts own most urls
(salted-repartition skew test, SURVEY.md §7 hard-part 3).
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import pandas as pd

from wtq.rules.lexicon import CONTENT_WORDS, LANG_WORDS, PROFANITY_WORDS

N_HOSTS = 50
BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

_FEATURE_CLASSES = [
    "normal", "too_short", "too_long", "symbol_spam", "no_stopwords",
    "boilerplate", "email", "phone", "ip", "profanity", "wrong_lang",
    "recrawl_dup", "near_dup", "gibberish", "bullets", "ellipsis",
    "top_word_spam", "code_spam", "lorem_ipsum",
]
N_CLASSES = len(_FEATURE_CLASSES)

BOILERPLATE_LINE = "Subscribe to our newsletter today for more updates"


def _rng(key: int) -> random.Random:
    return random.Random((key * 2654435761 + 42) % (2**63))


def _host(rng: random.Random) -> str:
    # Zipf-ish: P(host i) ∝ 1/(i+1); host0 ≈ 22% of all urls.
    weights = [1.0 / (i + 1) for i in range(N_HOSTS)]
    return f"host{rng.choices(range(N_HOSTS), weights=weights)[0]}.example.com"


def _normal_words(rng: random.Random, lang: str, n: int) -> list[str]:
    if lang == "zh":
        # runs of CJK chars, space-separated every ~8 chars
        chars = LANG_WORDS["zh"]
        return ["".join(rng.choices(chars, k=rng.randint(4, 10))) for _ in range(n)]
    lang_words = LANG_WORDS.get(lang, LANG_WORDS["en"])
    out = []
    for _ in range(n):
        if rng.random() < 0.45:
            out.append(rng.choice(lang_words))
        else:
            out.append(rng.choice(CONTENT_WORDS))
    return out


def _to_lines(rng: random.Random, words: list[str]) -> str:
    lines, i = [], 0
    while i < len(words):
        k = rng.randint(8, 15)
        lines.append(" ".join(words[i : i + k]))
        i += k
    return "\n".join(lines)


def _gen_text(key: int, lang: str) -> tuple[str, str]:
    """Return (feature_class, text) for a page key."""
    rng = _rng(key)
    feat = _FEATURE_CLASSES[key % N_CLASSES]
    n = rng.randint(40, 200)

    if feat == "too_short":
        return feat, " ".join(_normal_words(rng, lang, 5))
    if feat == "too_long":
        return feat, _to_lines(rng, _normal_words(rng, lang, 1500))
    if feat == "symbol_spam":
        words = _normal_words(rng, lang, n)
        syms = "#$%&*@^|~"
        spam = [w + rng.choice(syms) if i % 2 == 0 else w for i, w in enumerate(words)]
        return feat, _to_lines(rng, spam)
    if feat == "no_stopwords":
        words = [rng.choice(CONTENT_WORDS) for _ in range(n)]
        return feat, _to_lines(rng, words)
    if feat == "boilerplate":
        words = _normal_words(rng, lang, n)
        body = _to_lines(rng, words)
        reps = max(3, (len(body) // len(BOILERPLATE_LINE)) + 1)
        return feat, "\n".join([BOILERPLATE_LINE] * reps + [body])
    if feat == "email":
        words = _normal_words(rng, lang, n)
        for _ in range(rng.randint(1, 3)):
            user = rng.choice(CONTENT_WORDS)
            words.insert(rng.randrange(len(words)), f"{user}{rng.randint(1,99)}@example{rng.randint(1,9)}.com")
        return feat, _to_lines(rng, words)
    if feat == "phone":
        words = _normal_words(rng, lang, n)
        for _ in range(rng.randint(1, 2)):
            words.insert(rng.randrange(len(words)), f"({rng.randint(200,999)}) {rng.randint(200,999)}-{rng.randint(1000,9999)}")
        return feat, _to_lines(rng, words)
    if feat == "ip":
        words = _normal_words(rng, lang, n)
        words.insert(rng.randrange(len(words)), ".".join(str(rng.randint(1, 254)) for _ in range(4)))
        return feat, _to_lines(rng, words)
    if feat == "profanity":
        words = _normal_words(rng, lang, n)
        for _ in range(rng.randint(1, 3)):
            words.insert(rng.randrange(len(words)), rng.choice(PROFANITY_WORDS))
        return feat, _to_lines(rng, words)
    if feat == "wrong_lang":
        others = [l for l in ("en", "fr", "es", "de") if l != lang] or ["fr"]
        other = rng.choice(others)
        return feat, _to_lines(rng, _normal_words(rng, other, n))
    if feat == "near_dup":
        # body is normal text; generate_pages_pdf plants a TRUE
        # near-duplicate companion page (same text, one word mutated)
        # at a sibling url — both rows are in the table, so near-dup
        # detectors have real recall targets (round-1 verdict: the old
        # "partner" text never existed in the table)
        return feat, _to_lines(rng, _normal_words(rng, lang, n))
    if feat == "gibberish":
        cons = "bcdfghjklmnpqrstvwxz"
        words = ["".join(rng.choices(cons, k=rng.randint(5, 12))) for _ in range(n)]
        return feat, _to_lines(rng, words)
    if feat == "bullets":
        words = _normal_words(rng, lang, n)
        body = _to_lines(rng, words)
        return feat, "\n".join("- " + l for l in body.split("\n"))
    if feat == "ellipsis":
        words = _normal_words(rng, lang, n)
        body = _to_lines(rng, words)
        return feat, "\n".join(l + "..." for l in body.split("\n"))
    if feat == "top_word_spam":
        words = _normal_words(rng, lang, n)
        spam_word = rng.choice(CONTENT_WORDS)
        k = int(len(words) * 0.6)
        for _ in range(k):
            words.insert(rng.randrange(len(words)), spam_word)
        return feat, _to_lines(rng, words)
    if feat == "code_spam":
        # javascript/markup spill: a third of lines carry curly braces
        words = _normal_words(rng, lang, n)
        body = _to_lines(rng, words).split("\n")
        out = []
        for i, l in enumerate(body):
            if i % 3 == 0:
                out.append("function f" + str(i) + "() { return " + l.split(" ")[0] + "; }")
            else:
                out.append(l)
        return feat, "\n".join(out)
    if feat == "lorem_ipsum":
        words = _normal_words(rng, lang, n)
        # single list element so _to_lines can't split the phrase
        # across a line break
        words.insert(rng.randrange(len(words)), "Lorem ipsum dolor sit amet")
        return feat, _to_lines(rng, words)
    # normal + recrawl_dup body
    return feat, _to_lines(rng, _normal_words(rng, lang, n))


def generate_pages_pdf(sf_dir: str, replicate: int = 1) -> pd.DataFrame:
    """Build the pages table as pandas (deterministic)."""
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "lang"])
    rows = []
    for doc_id, lang in zip(docs["doc_id"].tolist(), docs["lang"].tolist()):
        for r in range(replicate):
            key = int(doc_id) * replicate + r
            rng = _rng(key + 10_000_019)
            host = _host(rng)
            url = f"https://{host}/doc/{key}"
            feat, text = _gen_text(key, lang)
            ts = BASE_TS + timedelta(seconds=key * 7 % 31_536_000)
            html = b"<html><body>" + text.encode("utf-8") + b"</body></html>"
            rows.append((url, ts, html, text, lang))
            if feat == "recrawl_dup":
                # earlier crawl of the same url with stale content
                stale = text + "\nstale footer line"
                rows.append(
                    (url, ts - timedelta(days=1), b"<html><body>" + stale.encode("utf-8") + b"</body></html>", stale, lang)
                )
            if feat == "boilerplate" and key % 3 == 0:
                # companion page with REPEATED PARAGRAPHS (\n\n-separated)
                # so the Gopher dup-paragraph rule (Q-13) has true
                # positives in the corpus — added as an extra row (not a
                # 20th feature class) so every existing key keeps its
                # class under key % N_CLASSES
                para = _to_lines(rng, _normal_words(rng, lang, 30))
                ptext = "\n\n".join([para, _to_lines(rng, _normal_words(rng, lang, 25)), para])
                rows.append(
                    (url + "-paras", ts + timedelta(hours=2), b"<html><body>" + ptext.encode("utf-8") + b"</body></html>", ptext, lang)
                )
            if feat == "near_dup":
                # companion page at a sibling url: same body, ONE word
                # mutated — a true near-duplicate pair inside the table
                words = text.split(" ")
                if words:
                    words[len(words) // 2] = "mutated"
                dup = " ".join(words)
                rows.append(
                    (url + "-dup", ts + timedelta(hours=1), b"<html><body>" + dup.encode("utf-8") + b"</body></html>", dup, lang)
                )
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    # microsecond precision: Spark's parquet reader rejects TIMESTAMP(NANOS)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize(None).astype("datetime64[us]")
    return pdf


GEN_VERSION = 4  # bump to invalidate /tmp caches when generation changes


def ensure_pages(sf_dir: str, replicate: int = 1, cache_root: str = "/tmp/wtq_pages") -> str:
    """Write (once) and return the parquet path for the pages table
    derived from sf_dir.  In production this is an Iceberg table; here
    parquet stands in (the Iceberg runtime jars are not on the
    classpath)."""
    tag = (
        os.path.basename(os.path.normpath(sf_dir))
        + (f"_x{replicate}" if replicate > 1 else "")
        + f"_v{GEN_VERSION}"
    )
    out = os.path.join(cache_root, tag, "pages.parquet")
    if not os.path.exists(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = out + ".tmp"
        # bounded row groups: Spark parallelizes scans at row-group
        # granularity — a single giant row group makes the file
        # unsplittable and serializes the whole scan into one task
        generate_pages_pdf(sf_dir, replicate).to_parquet(tmp, index=False, row_group_size=8192)
        os.replace(tmp, out)
    return out
