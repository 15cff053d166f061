"""Spec-level validation of the baseline JPEG codec (round 5).

No reference codec exists in this container, so conformance is pinned
against ITU T.81 itself, the same way the PNG codec was pinned:

* known-answer bitstreams built BY HAND in the test (not by the
  encoder) whose decoded output is computable in closed form from the
  spec's IDCT definition — a DC-only block, and a single-AC block
  checked against an independent double-sum IDCT implemented here;
* round-trip properties through the encoder covering the full marker/
  entropy surface: gray + RGB, 4:4:4 + 4:2:0, restart markers, byte
  stuffing, non-multiple-of-8 (and of-16) dimensions;
* the quarantine error contract for unsupported processes and
  malformed streams.

These tests are pure numpy — no Spark session.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from wtq.operators.jpeg import (
    ZIGZAG,
    _flat_huff_table,
    decode_jpeg,
    encode_jpeg,
    quant_table,
)


def _idct_spec(coef: np.ndarray) -> np.ndarray:
    """T.81 A.3.3 IDCT, transcribed literally (double sum) —
    deliberately independent of the codec's matrix fast path."""
    out = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu
                        * cv
                        * coef[u, v]
                        * np.cos((2 * y + 1) * u * np.pi / 16)
                        * np.cos((2 * x + 1) * v * np.pi / 16)
                    )
            out[y, x] = s / 4
    return out


def _handmade_gray_jpeg(zz_coeffs: list, q00_table: np.ndarray) -> bytes:
    """Build a minimal 8×8 grayscale baseline JPEG by hand: one quant
    table, flat Huffman tables, one block whose zigzag coefficients
    are `zz_coeffs` (list of 64 ints).  Entropy bits are assembled
    here, independent of the encoder."""
    from wtq.operators.jpeg import _BitWriter, _block_symbols

    zz = np.array(zz_coeffs, dtype=np.int64)
    dcs, acs, _ = _block_symbols(zz, 0)
    dc_codes, dc_bits, dc_vals = _flat_huff_table([s for s, _, _ in dcs])
    ac_codes, ac_bits, ac_vals = _flat_huff_table([s for s, _, _ in acs])

    out = bytearray(b"\xff\xd8")
    zzr = [q00_table[r, c] for r, c in ZIGZAG]
    dqt = bytes([0]) + bytes(int(v) for v in zzr)
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        payload = bytes([(tc << 4) | 0]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    bw = _BitWriter()
    for group, codes in ((dcs, dc_codes), (acs, ac_codes)):
        for s, ev, eb in group:
            code, ln = codes[s]
            bw.write(code, ln)
            if eb:
                bw.write(ev, eb)
    bw.flush()
    out += bytes(bw.out) + b"\xff\xd9"
    return bytes(out)


def test_dc_only_block_is_flat_at_the_closed_form_value():
    """T.81: a block with only F(0,0) = d decodes to the flat raster
    round(d·Q00/8) + 128 (orthonormal DCT of a constant).  Verified on
    a hand-built bitstream for several DC values, positive and
    negative magnitude categories included."""
    q = quant_table(90)
    for d in (0, 1, -1, 5, -17, 40):
        blob = _handmade_gray_jpeg([d] + [0] * 63, q)
        img = decode_jpeg(blob)
        expected = int(np.clip(round(d * int(q[0, 0]) / 8) + 128, 0, 255))
        assert img.shape == (8, 8)
        assert (img == expected).all(), (d, expected, img[0, :4])


def test_single_ac_coefficient_matches_spec_idct():
    """A block with one AC coefficient decodes to that (u,v) cosine
    basis pattern — checked against the spec's double-sum IDCT
    implemented independently above."""
    q = quant_table(90)
    for zz_idx in (1, 2, 9, 20, 63):
        zz = [0] * 64
        zz[zz_idx] = 3
        blob = _handmade_gray_jpeg(zz, q)
        img = decode_jpeg(blob).astype(np.float64)
        coef = np.zeros((8, 8))
        r, c = ZIGZAG[zz_idx]
        coef[r, c] = 3 * int(q[r, c])
        expected = np.clip(np.round(_idct_spec(coef) + 128), 0, 255)
        assert np.abs(img - expected).max() <= 1, (zz_idx, img[0], expected[0])


def _synth_rgb(seed: int, h: int, w: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    # smooth-ish content (random low-frequency mixture) — JPEG's
    # operating regime; pure noise would only test quantization error
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w, 3))
    for ch in range(3):
        for _ in range(4):
            fy, fx = rng.uniform(0, 0.3, 2)
            ph = rng.uniform(0, 6.28)
            img[..., ch] += rng.uniform(20, 60) * np.sin(fy * yy + fx * xx + ph)
    return np.clip(img + 128, 0, 255).astype(np.uint8)


@pytest.mark.parametrize("h,w", [(8, 8), (16, 16), (17, 13), (24, 31)])
def test_rgb_roundtrip_within_quantization_error(h, w):
    img = _synth_rgb(h * 100 + w, h, w)
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert out.shape == img.shape and out.dtype == np.uint8
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 4.0 and err.max() <= 40, (err.mean(), err.max())


def test_gray_roundtrip_and_flat_image_near_exact():
    img = _synth_rgb(7, 16, 16)[..., 0]
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 4.0
    flat = np.full((16, 16), 77, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(flat, quality=90))
    assert np.abs(out.astype(int) - 77).max() <= 1


def test_420_subsampling_roundtrip_exercises_upsampling():
    img = _synth_rgb(42, 17, 19)  # odd dims: chroma pad + crop paths
    blob = encode_jpeg(img, quality=95, subsample=True)
    # SOF declares 2x2 sampling for component 1
    sof_at = blob.find(b"\xff\xc0")
    assert blob[sof_at + 11] == 0x22
    out = decode_jpeg(blob)
    assert out.shape == img.shape
    # chroma is block-averaged then replicated: looser bound than 4:4:4
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 10.0, err.mean()
    # luma channel (Y ≈ mean) stays tight: compare via grayscale proxy
    ygt = img.astype(float) @ np.array([0.299, 0.587, 0.114])
    yout = out.astype(float) @ np.array([0.299, 0.587, 0.114])
    assert np.abs(ygt - yout).mean() < 4.0


def test_restart_markers_roundtrip():
    img = _synth_rgb(5, 32, 32)
    blob = encode_jpeg(img, quality=95, restart_interval=2)
    assert b"\xff\xdd" in blob  # DRI present
    assert any(bytes([0xFF, 0xD0 + i]) in blob for i in range(8))
    out = decode_jpeg(blob)
    ref = decode_jpeg(encode_jpeg(img, quality=95))
    assert (out == ref).all()


def test_byte_stuffing_appears_and_decodes():
    """The entropy stream must byte-stuff 0xFF (T.81 F.1.2.3) and the
    decoder must strip the stuffed 0x00.  Two layers: the bit writer/
    reader mechanism directly, and an end-to-end image (seed probed to
    produce a stuffed byte; deterministic given the fixed generator)."""
    from wtq.operators.jpeg import _BitReader, _BitWriter

    bw = _BitWriter()
    bw.write(0xFF, 8)
    bw.write(0xA5, 8)
    bw.flush()
    assert bytes(bw.out) == b"\xff\x00\xa5"
    br = _BitReader(bytes(bw.out), 0)
    assert br.bits(8) == 0xFF and br.bits(8) == 0xA5

    img = _synth_rgb(6, 32, 32)
    blob = encode_jpeg(img, quality=95)
    body = blob[blob.find(b"\xff\xda") + 2 :]
    assert b"\xff\x00" in body, "probe seed no longer produces stuffing"
    decode_jpeg(blob)  # must not raise


def test_error_contract_for_unsupported_and_malformed():
    img = _synth_rgb(1, 8, 8)
    blob = bytearray(encode_jpeg(img, quality=90))
    # progressive: flip SOF0 → SOF2
    prog = blob.replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError, match="unsupported JPEG process"):
        decode_jpeg(bytes(prog))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xe0")  # truncated after APP0 marker
    with pytest.raises(ValueError):
        decode_jpeg(bytes(blob[: len(blob) // 2]))  # truncated entropy
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg at all")


def test_decode_image_dispatches_jpeg():
    from wtq.operators.multimodal import decode_image

    img = _synth_rgb(9, 16, 16)
    out = decode_image(encode_jpeg(img, quality=95))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 4.0


def test_zigzag_is_the_t81_natural_order():
    """ZIGZAG[i] is the (row, col) of the i-th coefficient in the
    entropy stream: T.81 Figure A.6, as libjpeg's jpeg_natural_order
    lists it (row · 8 + col)."""
    natural = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    assert [r * 8 + c for r, c in ZIGZAG] == natural


def test_non_interleaved_scans_are_rejected():
    """A frame whose components arrive in separate scans (a gray scan,
    then a chroma scan) is unsupported: decoding only the first scan
    would return a gray raster for a color image, so it must raise."""
    blob = encode_jpeg(_synth_rgb(3, 8, 8)[..., 0], quality=90)
    sof_at = blob.find(b"\xff\xc0")
    sof_len = struct.unpack(">H", blob[sof_at + 2 : sof_at + 4])[0]
    sof = blob[sof_at + 4 : sof_at + 2 + sof_len]
    # the frame declares Y, Cb, Cr, all on quant table 0
    sof3 = sof[:5] + bytes([3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
    blob = (
        blob[:sof_at]
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof3)) + sof3
        + blob[sof_at + 2 + sof_len :]
    )
    # the encoder's scan carries Y alone; append a Cb + Cr scan
    chroma = bytes([2, 2, 0x00, 3, 0x00, 0, 63, 0])
    blob = (
        blob[:-2]
        + b"\xff\xda" + struct.pack(">H", 2 + len(chroma)) + chroma
        + b"\x00" * 4 + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="non-interleaved"):
        decode_jpeg(blob)
