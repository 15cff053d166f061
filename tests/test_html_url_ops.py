"""Planted edge cases for the html→text operator
(wtq/operators/text.py) — the cases the in-query demo's synthesized
wrapper doesn't isolate."""

from __future__ import annotations

from wtq.operators.text import html_to_text


def _run_html(spark, html: str) -> tuple[str, int]:
    df = spark.createDataFrame([(0, html)], "doc_id long, html string")
    r = html_to_text(df, "doc_id", "html").collect()[0]
    return r.text, r.n_tags


def test_html_script_with_embedded_angle_brackets(spark):
    # a '<' inside script code must not terminate the script strip
    text, n = _run_html(spark, "<p>keep</p><script>if (a<b) { x(); }</script><p>also</p>")
    assert text == "keep also"
    assert n == 4  # <p> </p> <p> </p>


def test_html_entity_decode_is_single_pass(spark):
    # double-encoded text decodes ONE level: '&amp;lt;' → '&lt;', not '<'
    text, _ = _run_html(spark, "<b>&amp;lt;tag&amp;gt;</b> &amp; &lt;x&gt;")
    assert text == "&lt;tag&gt; & <x>"


def test_html_unclosed_tag_survives_as_text(spark):
    # malformed trailing '<br' (no '>') is not a tag — kept as text,
    # never swallowed silently
    text, n = _run_html(spark, "<p>alpha</p> tail <br")
    assert text == "alpha tail <br"
    assert n == 2


def test_html_style_comment_and_whitespace_collapse(spark):
    text, n = _run_html(
        spark,
        "<style>p { margin: 0 }</style><!-- note -->\n\n  <div>  a\n b  </div>",
    )
    assert text == "a b"
    assert n == 2
