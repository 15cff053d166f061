"""Text-analysis operators: marker-word language ID, token counts +
quality score + fingerprint, and the word tokenizer and lexicon test
every word-level operator shares.

These are SQL-expressible (differential-testable against the DuckDB
oracle) siblings of the pipeline's Arrow-UDF scorers; pytest also
cross-checks them against the pure-Python implementations.

Determinism: identical regex dialect subset (no \\b, no lookaround —
Java and RE2 agree on the patterns used), integer-ratio arithmetic and
explicit rounding on every emitted double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wtq.rules.lexicon import LANG_WORDS, STOPWORDS

# Word chars runs OR single non-word non-space char — a BPE-ish
# pre-tokenizer regex (identical semantics in Java regex and RE2).
BPE_TOKEN_RE = "[a-zA-Z0-9]+|[^a-zA-Z0-9 ]"

_MARKER_LANGS = ("en", "fr", "es", "de")

# The stopword lexicon as one sorted literal: Spark's isin list and the
# oracle's list_contains array are both spelled from it.
STOP_WORDS = sorted(STOPWORDS)


# ---------------------------------------------------------------------------
# Words and lexicon membership — the ONE definition per engine
# ---------------------------------------------------------------------------
# A word is a non-empty run between ASCII spaces (tabs, newlines and
# NBSP stay inside words); NULL text gives a NULL word array.  A word
# is in a lexicon when its lower() is.  Callers that want NULL text to
# read as the empty document coalesce before calling.

def words(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda w: w != "")


def n_in(words: Column, lexicon: list[str]) -> Column:
    """Number of `words` whose lower() is in `lexicon` (sorted list).
    isin → codegen InSet hash lookup (round-6; value-identical to the
    interpreted array_contains scan, ~4× faster per word)."""
    return F.size(F.filter(words, lambda w: F.lower(w).isin(*lexicon)))


def sql_words(text: str) -> str:
    return f"list_filter(string_split({text}, ' '), x -> x <> '')"


def sql_n_in(words: str, lexicon: list[str]) -> str:
    """DuckDB twin of `n_in`.  DuckDB lowers U+0130 (İ) to ASCII 'i'
    where Spark (Java) gives 'i' + U+0307, so 'İS' would count as 'is'
    here only; spelling İ out as Java's lowercase first makes the two
    lower()s agree on every word a latin lexicon can match."""
    lst = ", ".join(f"'{w}'" for w in lexicon)
    return (
        f"len(list_filter({words}, x -> list_contains([{lst}], "
        "lower(replace(x, 'İ', 'i' || chr(775))))))"
    )


def word_stats(t: Column) -> dict[str, Column]:
    """Per-document word statistics of text column `t`: the inputs of
    text_metrics' quality score and of the registry's scalar rules."""
    w = words(t)
    n = F.size(w)
    nw = F.greatest(n, F.lit(1)).cast("double")
    return {
        "n_words": n,
        "mean_word_len": F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)).cast("double") / nw,
        "stopword_frac": n_in(w, STOP_WORDS).cast("double") / nw,
        "symbol_frac": (F.length(t) - F.length(F.regexp_replace(t, "[#$%&*+<=>@^_|~]", ""))).cast("double") / nw,
    }


def lang_markers(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language ID: count per-language function words,
    argmax with fixed tie-break order (en,fr,es,de)."""
    w = words(F.col(text_col))
    counts = {lang: n_in(w, sorted(set(LANG_WORDS[lang]))) for lang in _MARKER_LANGS}
    best = F.greatest(*[counts[lang] for lang in _MARKER_LANGS])
    pred = F.when(counts["en"] == best, "en")
    for lang in _MARKER_LANGS[1:]:
        pred = pred.when(counts[lang] == best, lang)
    return df.select(
        F.col(id_col),
        *[counts[lang].alias(f"c_{lang}") for lang in _MARKER_LANGS],
        pred.otherwise("und").alias("pred_lang"),
    )


def text_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counts + composite quality score + content fingerprint in
    ONE scan/projection — the columns a curation run actually wants
    side by side per document.  The score is a linear mix in [0,1]-ish
    (pure arithmetic — bit-reproducible in any engine); the fingerprint
    is md5 of the lowercase whitespace-normalized text."""
    t = F.col(text_col)
    s = word_stats(t)
    score = (
        s["stopword_frac"] * 0.5
        + (F.lit(1.0) - F.least(s["symbol_frac"], F.lit(1.0))) * 0.3
        + (F.lit(1.0) - F.least(F.abs(s["mean_word_len"] - 5.0) / 5.0, F.lit(1.0))) * 0.2
    )
    norm = F.array_join(words(F.lower(t)), " ")
    return df.select(
        F.col(id_col),
        s["n_words"].alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), 0)).alias("bpe_tokens"),
        F.round(score, 6).alias("quality_score"),
        F.md5(F.encode(norm, "UTF-8")).alias("fp"),
    )


# ---------------------------------------------------------------------------
# Oracle SQL builders (DuckDB)
# ---------------------------------------------------------------------------

def _sql_stats(text_col: str) -> dict[str, str]:
    w = sql_words(text_col)
    return {
        "n_words": f"len({w})",
        "mean_word_len": f"CAST(list_sum(list_transform({w}, x -> length(x))) AS DOUBLE) / greatest(len({w}), 1)",
        "stopword_frac": f"CAST({sql_n_in(w, STOP_WORDS)} AS DOUBLE) / greatest(len({w}), 1)",
        "symbol_frac": f"CAST(length({text_col}) - length(regexp_replace({text_col}, '[#$%&*+<=>@^_|~]', '', 'g')) AS DOUBLE) / greatest(len({w}), 1)",
    }


def sql_lang_markers(table: str, id_col: str, text_col: str) -> str:
    w = sql_words(text_col)
    counts = {lang: sql_n_in(w, sorted(set(LANG_WORDS[lang]))) for lang in _MARKER_LANGS}
    best = "greatest(" + ", ".join(f"c_{l}" for l in _MARKER_LANGS) + ")"
    case = "CASE " + " ".join(
        f"WHEN c_{l} = {best} THEN '{l}'" for l in _MARKER_LANGS
    ) + " ELSE 'und' END"
    inner_cols = ", ".join(f"CAST({counts[l]} AS INT) AS c_{l}" for l in _MARKER_LANGS)
    return f"""
    SELECT {id_col}, {', '.join('c_' + l for l in _MARKER_LANGS)}, {case} AS pred_lang
    FROM (SELECT {id_col}, {inner_cols} FROM {table})
    """


def sql_text_metrics(table: str, id_col: str, text_col: str) -> str:
    s = _sql_stats(text_col)
    # coalesce(list_sum(...), 0) — DuckDB list_sum of empty list is NULL
    mean = f"coalesce({s['mean_word_len']}, 0.0)"
    score = (
        f"{s['stopword_frac']} * 0.5"
        f" + (1.0 - least({s['symbol_frac']}, 1.0)) * 0.3"
        f" + (1.0 - least(abs({mean} - 5.0) / 5.0, 1.0)) * 0.2"
    )
    w_norm = sql_words(f"lower({text_col})")
    return f"""
    SELECT {id_col},
           CAST({s['n_words']} AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all({text_col}, '{BPE_TOKEN_RE}')) AS INT) AS bpe_tokens,
           round({score}, 6) AS quality_score,
           md5(array_to_string({w_norm}, ' ')) AS fp
    FROM {table}
    """


# ---------------------------------------------------------------------------
# HTML → text extraction (round 5)
# ---------------------------------------------------------------------------
# The input hint's pages table carries an `html` binary column; the
# reference's ingest strips tag payloads before validation
# (water.lua:84-221 cleans tags per record).  This is the in-engine
# analog: a pure regexp_replace chain — whole-stage-codegen JVM
# expressions, zero Python — with a DuckDB mirror.  Pattern dialect is
# the Java∩RE2 subset (inline (?is) flags, lazy quantifiers, char
# classes; NO backreferences — RE2 lacks them, hence separate
# script/style patterns instead of <(script|style)>.*?</\1>).
#
# Entity decode order: named entities first, ampersand LAST, so
# double-encoded text ('&amp;lt;') decodes one level per pass exactly
# like a standards-following single-pass decoder.

_HTML_SCRIPT_RE = "(?is)<script[^>]*>.*?</script>"
_HTML_STYLE_RE = "(?is)<style[^>]*>.*?</style>"
_HTML_COMMENT_RE = "(?s)<!--.*?-->"
_HTML_TAG_RE = "<[^>]+>"
_HTML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                  ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def html_to_text(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Extract visible text from an HTML payload: drop script/style
    blocks and comments, count + strip the remaining tags, decode the
    common entities, collapse whitespace.  Returns
    (id_col, text, n_tags).  A narrow projection — survives any scale
    by construction (no shuffle, no UDF)."""
    s = F.col(html_col).cast("string")
    s = F.regexp_replace(s, _HTML_SCRIPT_RE, " ")
    s = F.regexp_replace(s, _HTML_STYLE_RE, " ")
    s = F.regexp_replace(s, _HTML_COMMENT_RE, " ")
    n_tags = F.size(F.regexp_extract_all(s, F.lit(_HTML_TAG_RE), 0))
    s = F.regexp_replace(s, _HTML_TAG_RE, " ")
    for ent, ch in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.trim(F.regexp_replace(s, "\\s+", " "))
    return df.select(F.col(id_col), s.alias("text"), n_tags.alias("n_tags"))


def sql_html_to_text(table: str, id_col: str, html_col: str) -> str:
    s = html_col
    # dotall/case flags ride INSIDE the patterns ((?is)/(?s)) so both
    # engines read them identically; only 'g' goes in the flag slot
    for pat in (_HTML_SCRIPT_RE, _HTML_STYLE_RE, _HTML_COMMENT_RE):
        s = f"regexp_replace({s}, '{pat}', ' ', 'g')"
    n_tags = f"len(regexp_extract_all({s}, '{_HTML_TAG_RE}'))"
    s = f"regexp_replace({s}, '{_HTML_TAG_RE}', ' ', 'g')"
    for ent, ch in _HTML_ENTITIES:
        lit = ch.replace("'", "''")
        s = f"replace({s}, '{ent.replace(chr(39), chr(39) * 2)}', '{lit}')"
    s = f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"
    return f"""
    SELECT {id_col}, {s} AS text, CAST({n_tags} AS INT) AS n_tags FROM {table}
    """
