"""Rule-level unit tests (SURVEY.md §5.1): pure-Python stat functions
and the scrub core on crafted strings — no Spark needed."""

from __future__ import annotations

from wtq.rules import heuristics as H
from wtq.rules import registry as R
from wtq.rules.langid import MARGIN_MIN, predict_lang
from wtq.rules.perplexity import char_perplexity
from wtq.rules.scrub import scrub_text


# the Gopher repetition family's codes (Rae et al. 2021 Table A1)
REPETITION_CODES = {f"Q-{i}" for i in range(13, 23)}
# what the pipeline's score pass emits besides py_stats, and the input
# column a rule may read
SCORE_FIELDS = {"pred_lang", "lang_margin", "ppl", "n_profanity", "lang"}


def _row(stats, lang_mismatch=False, ppl=0.0, profanity_hits=0):
    """py_fired_rules' input: the stats plus the score fields."""
    return {
        **stats, "pred_lang": "de" if lang_mismatch else "en", "lang": "en",
        "lang_margin": MARGIN_MIN, "ppl": ppl, "n_profanity": profanity_hits,
    }


def test_registry_codes_unique():
    codes = [r.code for r in R.RULES]
    assert len(codes) == len(set(codes))


def test_py_stats_basics():
    s = H.py_stats("the cat sat on the mat")
    assert s["n_words"] == 6
    assert abs(s["mean_word_len"] - (3 + 3 + 3 + 2 + 3 + 3) / 6) < 1e-12
    assert s["stopword_frac"] == 3 / 6  # 'the' ×2 + 'on'


def test_rep_line_frac():
    text = "aaaa\nbbbb\naaaa"
    # 'aaaa' occurs twice → 4 duplicate chars of 12 total
    assert abs(H.py_rep_line_frac(text) - 4 / 12) < 1e-12
    assert H.py_rep_line_frac("x\ny\nz") == 0.0
    assert H.py_rep_line_frac("") == 0.0


def test_top_word_frac():
    assert H.py_top_word_frac("a a a b") == 3 / 4
    assert H.py_top_word_frac("") == 0.0


def test_dup_para_frac():
    text = "para one\n\npara two\n\npara one"
    # 'para one' (8 chars) twice → 8 excess of 24 total para chars
    assert abs(H.py_dup_para_frac(text) - 8 / 24) < 1e-12
    assert H.py_dup_para_frac("a\n\nb\n\nc") == 0.0
    assert H.py_dup_para_frac("") == 0.0
    # single-paragraph text (no \n\n) can never fire
    assert H.py_dup_para_frac("just one paragraph") == 0.0


def test_top_ngram_frac():
    words = "a b a b x".split()
    # 2-grams: (a,b)×2 (b,a)×1 (b,x)×1 → top = (a,b): 2 occ × 2 chars / 5 total
    assert abs(H.py_top_ngram_frac(words, 2) - 2 * 2 / 5) < 1e-12
    # fewer words than n → 0
    assert H.py_top_ngram_frac(["a"], 2) == 0.0
    assert H.py_top_ngram_frac([], 3) == 0.0


def test_dup_ngram_frac():
    # 'a b c d e' ×3 glued: the 5-gram (a,b,c,d,e) occurs 3 times
    words = "a b c d e a b c d e a b c d e".split()
    f = H.py_dup_ngram_frac(words, 5)
    # every 5-gram window that repeats contributes; at minimum the
    # (a..e) gram's 2 excess occurrences × 5 chars over 15 total chars
    assert f >= 2 * 5 / 15
    # unique text → 0
    assert H.py_dup_ngram_frac(list("abcdefghij"), 5) == 0.0


def test_repetition_rules_fire():
    # dominant 2-gram: 'buy now' repeated 30× (60 words, passes Q-1)
    stats = H.py_stats(" ".join(["buy now"] * 30))
    fired = H.py_fired_rules(_row(stats))
    assert {"Q-14", "Q-15", "Q-16", "Q-17", "Q-18", "Q-19", "Q-20", "Q-21", "Q-22"} <= set(fired)
    # duplicated paragraphs
    para = "some unique paragraph text here"
    stats = H.py_stats((para + "\n\n") * 3 + "tail")
    fired = H.py_fired_rules(_row(stats))
    assert "Q-13" in fired
    # clean prose fires none of the repetition family
    clean = "the quick brown fox jumps over the lazy dog and then " \
            "walks along the river bank toward a small village market"
    stats = H.py_stats(clean)
    fired = H.py_fired_rules(_row(stats))
    assert not set(fired) & REPETITION_CODES


def test_cascaded_repetition_stats_equal_reference_forms_hypothesis():
    """The batch kernel's cascaded n-gram stats (subgram early exit,
    char tie-break) equal the plain per-n definitions on arbitrary word
    sequences from a small alphabet, which maximizes collisions and
    ties over varied word lengths."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from wtq.rules.batch import score_batch

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.sampled_from(["a", "bb", "ccc", "d", "ee", "a b"]), max_size=40))
    def check(tokens):
        # "a b" injects a token that SPLITS into two words, covering
        # multi-word interactions of the text round-trip too
        text = " ".join(tokens)
        got = score_batch(pd.Series([text], dtype=object)).iloc[0]
        words = H.py_words(scrub_text(text).text)
        for n in (2, 3, 4):
            assert got[f"top_{n}gram_frac"] == H.py_top_ngram_frac(words, n)
        for n in range(5, 11):
            assert got[f"dup_{n}gram_frac"] == H.py_dup_ngram_frac(words, n)

    check()


def test_repetition_rules_in_registry():
    codes = {r.code for r in R.RULES}
    assert REPETITION_CODES <= codes
    # every rule reads only what the score pass emits
    for r in R.RULES:
        read = {r.stat, *[x for x in (r.guard or ())[::2] if isinstance(x, str)]}
        assert read <= set(H.STAT_FIELDS) | SCORE_FIELDS, r


def test_fired_rules_thresholds():
    stats = H.py_stats("word " * 5)  # 5 words < MIN_WORDS
    fired = H.py_fired_rules(_row(stats))
    assert "Q-1" in fired
    stats = H.py_stats(" ".join(["ok"] * 30))
    fired = H.py_fired_rules(_row(stats, lang_mismatch=True, ppl=R.PPL_MAX + 1, profanity_hits=2))
    assert {"L-1", "P-1", "T-1"} <= set(fired)


def test_scrub_pii():
    r = scrub_text("mail me at bob.smith+x@exa-mple.co or (212) 555-1234 or 10.0.0.1 damn it")
    assert "[EMAIL]" in r.text and "[PHONE]" in r.text and "[IP]" in r.text and "[CENSORED]" in r.text
    assert (r.n_email, r.n_phone, r.n_ip, r.n_profanity) == (1, 1, 1, 1)
    assert "@" not in r.text


def test_scrub_precheck_equals_raw_regex_form():
    """The fast-path pre-checks must be invisible: scrub_text ==
    running the four subn() calls unconditionally, INCLUDING on
    adversarial Unicode where (?i) full case folding matches ASCII
    lexicon words through non-ASCII characters (the review-caught
    evasion: lower()-substring pre-checks are unsound off-ASCII)."""
    import wtq.rules.scrub as S

    def raw(t):
        out, a = S.EMAIL_RE.subn(S.EMAIL_TOKEN, t)
        out, b = S.PHONE_RE.subn(S.PHONE_TOKEN, out)
        out, c = S.IPV4_RE.subn(S.IP_TOKEN, out)
        out, d = S.PROFANITY_RE.subn(S.PROFANITY_TOKEN, out)
        return S.ScrubResult(out, a, b, c, d)

    cases = [
        "", "no pii at all", "a@b.co", "(212) 555-1234", "10.0.0.1", "damn",
        "mixed a@b.co 10.0.0.1 (212) 555-1234 damn",
        # Unicode case-folding evasions (must still be censored)
        "baſtard", "İDİOT", "ſ damn ſ", "ÉMAIL notanemail",
        # non-ASCII text with no profanity (regex path, no match)
        "texte français sans gros mots é ü ñ",
    ]
    for t in cases:
        assert scrub_text(t) == raw(t), t


def test_scrub_idempotent(pages_pdf):
    """scrub(scrub(x)) == scrub(x) byte-for-byte (SURVEY.md §5.4)."""
    for t in pages_pdf["text"].head(100):
        once = scrub_text(t).text
        twice = scrub_text(once).text
        assert once.encode() == twice.encode()


def test_scrub_no_pii_left(pages_pdf):
    import re
    for t in pages_pdf["text"]:
        out = scrub_text(t).text
        assert not re.search(r"@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", out)


def test_langid_on_clean_samples():
    assert predict_lang("the cat and the dog were in the house with one of them")[0] == "en"
    assert predict_lang("le chat et le chien sont dans la maison avec les autres")[0] == "fr"
    assert predict_lang("der hund und die katze sind in dem haus mit einer von")[0] == "de"
    assert predict_lang("的一是不了人我在有他这中大来上")[0] == "zh"
    assert predict_lang("")[0] == "und"


def test_perplexity_separates_gibberish():
    clean = char_perplexity("the data table query row scan filter join merge sort")
    gib = char_perplexity("xqzwv kjhgfd pqzxw vbnmk qwzxc plmkj")
    assert clean < R.PPL_MAX < gib


def test_ppm_roundtrip_and_resize():
    """Real codec contract: encode → decode is byte-lossless (incl. a
    header comment), block-mean resize halves dimensions exactly."""
    import numpy as np

    from wtq.operators.multimodal import (
        block_mean_resize,
        decode_ppm,
        encode_ppm,
        synth_image,
    )

    img = synth_image(123)
    blob = encode_ppm(img)
    assert np.array_equal(decode_ppm(blob), img)
    # decoder must skip header comments like a real PPM reader
    commented = blob.replace(b"P6\n", b"P6\n# a comment\n", 1)
    assert np.array_equal(decode_ppm(commented), img)
    small = block_mean_resize(img)
    assert small.shape == (8, 8, 3)
    assert small[0, 0, 0] == img[:2, :2, 0].astype(float).mean()
    import pytest

    with pytest.raises(ValueError):
        decode_ppm(b"P3\n1 1\n255\n0 0 0")  # ASCII PPM rejected


def test_wav_roundtrip():
    """Real RIFF codec contract: encode → decode is lossless, unknown
    chunks are skipped, malformed input rejected."""
    import struct

    import numpy as np
    import pytest

    from wtq.operators.multimodal import decode_wav, encode_wav, synth_audio

    s = synth_audio(77)
    blob = encode_wav(s)
    out, rate = decode_wav(blob)
    assert rate == 8000 and np.array_equal(out, s)
    # insert an unknown LIST chunk between fmt and data — decoder must skip it
    fmt_end = blob.index(b"data")
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = blob[:fmt_end] + extra + blob[fmt_end:]
    out2, _ = decode_wav(patched)
    assert np.array_equal(out2, s)
    with pytest.raises(ValueError):
        decode_wav(b"RIFXxxxxWAVE")


def test_video_stream_frame_walk():
    import numpy as np

    from wtq.operators.multimodal import (
        encode_video,
        iter_video_frames,
        synth_video,
    )

    frames = synth_video(5)
    blob = encode_video(frames)
    out = list(iter_video_frames(blob))
    assert len(out) == len(frames)
    for a, b in zip(out, frames):
        assert np.array_equal(a, b)


def test_signature_batches_edge_inputs():
    """Sentinel contracts for degenerate docs: empty/short texts get
    the sentinel minhash signature and a NULL simhash (out-of-band —
    a real all-votes-≤0 document can legitimately hash to 0, so 0 is
    NOT the sentinel), None is tolerated, and both batches are
    deterministic."""
    from wtq.operators.dedup import MINHASH_P, N_PERM, _sig_batch, _simhash_batch

    texts = ["", "one two", None, "one two three four five", "  ", "one two three"]
    sigs = _sig_batch(texts)
    sims = _simhash_batch(texts)
    assert sigs[0] == [MINHASH_P] * N_PERM and sims[0] is None
    assert sigs[1] == [MINHASH_P] * N_PERM and sims[1] is None  # < k words
    assert sigs[2] == [MINHASH_P] * N_PERM and sims[2] is None  # None
    assert sigs[3] != [MINHASH_P] * N_PERM and sims[3] is not None
    assert sigs == _sig_batch(texts) and sims == _simhash_batch(texts)
    # one-shingle doc: signature defined, non-null
    assert sims[5] is not None and max(sigs[5]) < MINHASH_P
