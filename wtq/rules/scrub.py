"""Compiled-regex PII/toxicity scrubber.

Analog of the reference's tag-cleaning blocklist
(``delete_keys`` + ``make_clean_tags_func``, water.lua:84-221): remove
matching content from every record, drop nothing here — dropping is
the rule battery's job.

Byte-identity contract (SURVEY.md §7 hard-part 1): the pure-Python
core below is the ONLY scrub implementation; the Spark pipeline's
batch kernel (wtq/rules/batch.py) calls it once per document and the
oracle calls it directly, so scrubbed bytes agree by construction.
Python ``re`` is used on both sides — never JVM ``regexp_replace`` —
because Java and Python regex semantics differ at the margins (POSIX
``\\y`` vs ``\\b`` note, SURVEY.md §2.2 P9).
"""

from __future__ import annotations

import re
from typing import NamedTuple

from wtq.rules.lexicon import PROFANITY_WORDS

EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
PHONE_RE = re.compile(
    r"(?<!\d)(?:\+?\d{1,2}[ \-.])?(?:\(\d{3}\)[ \-.]?|\d{3}[ \-.])\d{3}[ \-.]\d{4}(?!\d)"
)
IPV4_RE = re.compile(r"(?<!\d)(?:\d{1,3}\.){3}\d{1,3}(?!\d)")
PROFANITY_RE = re.compile(
    r"(?i)\b(?:" + "|".join(re.escape(w) for w in PROFANITY_WORDS) + r")\b"
)

EMAIL_TOKEN = "[EMAIL]"
PHONE_TOKEN = "[PHONE]"
IP_TOKEN = "[IP]"
PROFANITY_TOKEN = "[CENSORED]"

# Necessary-substring pre-checks: each pattern cannot match without
# its anchor class, and `in` / a 1-char regex scan is ~10× cheaper
# than running the full pattern over a clean document (the common
# case).  EMAIL/PHONE/IP patterns are case-insensitive-free, so the
# '@' / digit pre-checks are exactly equivalent to subn() finding
# nothing.  The profanity pattern is (?i): Python re's FULL case
# folding lets non-ASCII characters match ASCII letters (ſ→s, K→k,
# İ→i), so a lower()-substring test is NOT sound on non-ASCII text —
# the fast path is therefore gated on text.isascii(), where (?i) over
# the ASCII lexicon reduces exactly to lowercase substring presence;
# non-ASCII text always runs the full pattern.  The byte-identity
# contract is unaffected either way (the oracle shares this very
# function).
_HAS_DIGIT = re.compile(r"\d")
_PROFANITY_LOWER = tuple(w.lower() for w in PROFANITY_WORDS)


class ScrubResult(NamedTuple):
    text: str
    n_email: int
    n_phone: int
    n_ip: int
    n_profanity: int

    @property
    def n_edits(self) -> int:
        return self.n_email + self.n_phone + self.n_ip + self.n_profanity


def scrub_text(text: str) -> ScrubResult:
    """Scrub one document. Order matters and is part of the contract:
    email → phone → ip → profanity (emails may contain digits that
    would otherwise confuse the phone pattern)."""
    if text is None:
        return ScrubResult("", 0, 0, 0, 0)
    out, n_email, n_phone, n_ip, n_prof = text, 0, 0, 0, 0
    if "@" in out:  # EMAIL_RE requires a literal '@'
        out, n_email = EMAIL_RE.subn(EMAIL_TOKEN, out)
    if _HAS_DIGIT.search(out):  # PHONE_RE and IPV4_RE both require digits
        out, n_phone = PHONE_RE.subn(PHONE_TOKEN, out)
        out, n_ip = IPV4_RE.subn(IP_TOKEN, out)
    if not out.isascii():
        # Unicode case folding can match ASCII lexicon words through
        # non-ASCII characters — no cheap sound pre-check exists here
        out, n_prof = PROFANITY_RE.subn(PROFANITY_TOKEN, out)
    else:
        lower = out.lower()
        if any(w in lower for w in _PROFANITY_LOWER):  # ASCII: presence ⊇ (?i)\b match
            out, n_prof = PROFANITY_RE.subn(PROFANITY_TOKEN, out)
    return ScrubResult(out, n_email, n_phone, n_ip, n_prof)
