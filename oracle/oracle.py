"""Pure-pandas/Python reference implementation (golden-label oracle).

Independent of Spark: re-crawl dedup + heuristics are re-derived here
with plain Python/pandas (a different code path from the pipeline's
DataFrame expressions), and every score comes from the per-document
reference cores (scrub_text, predict_lang, char_perplexity, py_stats)
while the pipeline computes them with the batch kernel
(wtq/rules/batch.py).  Only scrub_text is shared by both sides — the
one scrub implementation, required for byte-identical scrubbed text
(SURVEY.md §5.2, §7 hard-part 1).
"""

from __future__ import annotations

import hashlib

import pandas as pd

from wtq.rules import heuristics as H
from wtq.rules.langid import predict_lang
from wtq.rules.perplexity import char_perplexity
from wtq.rules.scrub import scrub_text


def oracle_decide(pages: pd.DataFrame) -> pd.DataFrame:
    """One row per url: keep, fired_rules (sorted list), scrubbed text,
    text_sha256, scrub-edit counts."""
    # drop_duplicates keeps WHOLE rows; GroupBy.first() would take the
    # first non-null value per column and could stitch values from
    # different crawl rows if any column were null — diverging from the
    # pipeline's row-wise window top-1
    dedup = pages.sort_values(
        ["url", "warc_ts", "text"], ascending=[True, False, True]
    ).drop_duplicates("url", keep="first")
    rows = []
    for r in dedup.itertuples(index=False):
        sr = scrub_text(r.text)
        lang_pred, margin = predict_lang(sr.text)
        ppl = char_perplexity(sr.text)
        stats = H.py_stats(sr.text)
        fired = H.py_fired_rules({
            **stats, "pred_lang": lang_pred, "lang_margin": margin,
            "lang": r.lang, "ppl": ppl, "n_profanity": sr.n_profanity,
        })
        rows.append(
            {
                "url": r.url,
                "keep": len(fired) == 0,
                "fired_rules": fired,
                "text": sr.text,
                "text_sha256": hashlib.sha256(sr.text.encode("utf-8")).hexdigest(),
                "n_scrub_edits": sr.n_edits,
                "pred_lang": lang_pred,
                "n_words": stats["n_words"],
            }
        )
    return pd.DataFrame(rows)
