"""Baseline JPEG (ITU T.81 sequential DCT, JFIF) encode/decode in pure
numpy + stdlib — closes the last multimodal codec seam (rounds 1-4
raised ``NotImplementedError`` for ``\\xff\\xd8`` blobs).

No reference codec exists in this container, so conformance is pinned
the way the PNG codec's was — against the SPEC rather than another
implementation:

* known-answer tests decode hand-built bitstreams whose output is
  computable in closed form from T.81's IDCT definition (a DC-only
  block is a flat raster at ``round(DC·Q00/8) + 128``; a single-AC
  block is the (u,v) cosine basis pattern, recomputed in the test from
  the spec's double-sum formula, independent of the codec's
  matrix-form fast path);
* the encoder emits everything the decoder must parse — canonical
  Huffman tables via DHT, quant tables via DQT, optional 4:2:0
  subsampling, optional restart markers, natural byte stuffing — so
  the round-trip property test (decode(encode(x)) within quantization
  error of x) exercises the full marker/entropy surface;
* decoder error behavior is the quarantine contract: malformed or
  unsupported (progressive, arithmetic, 12-bit, non-interleaved) input
  raises ``ValueError``, never returns a wrong raster silently.

Scale shape: the entropy decode is inherently sequential PER IMAGE
(bit-serial Huffman), so throughput comes from Arrow-batch parallelism
across images (mapInPandas over the binary column — the same shape as
the PNG path), not from vectorizing inside one image.  The per-block
pixel math (dequant → IDCT → clamp) IS vectorized (one 8×8 matrix
triple product per block).  A production deployment swaps this pure-
Python reference for libjpeg-turbo through the same one-argument
``decode_image`` seam; the value here is a validated, dependency-free
contract for what that decode must produce.

Reference parallels: the reference pipeline treats rasters as opaque
payloads produced by external tools (SURVEY.md §2.10); this module is
the in-engine analog so the 100 TB pipeline's decode → feature path is
testable end to end.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Shared constants
# ---------------------------------------------------------------------------

# zigzag scan order: ZIGZAG[i] = (row, col) of the i-th coefficient
def _zigzag_order() -> list:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else rc[1]),
    )
    return order


ZIGZAG = _zigzag_order()
_ZZ_ROWS = np.array([r for r, _ in ZIGZAG])
_ZZ_COLS = np.array([c for _, c in ZIGZAG])

# Orthonormal 8-point DCT-II matrix: block_dct = D @ B @ D.T
_D = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _D[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def quant_table(quality: int = 75) -> np.ndarray:
    """Simple monotone quant table Q[u,v] = 1 + (u+v+1)·s with s from
    quality (1..100).  Any table is spec-legal — it travels in DQT, so
    the decoder never assumes it; the classic Annex-K example tables
    are just one choice and are not required for conformance."""
    s = max(1, (100 - quality) // 4)
    u = np.arange(8)
    q = 1 + (u[:, None] + u[None, :] + 1) * s
    return np.minimum(q, 255).astype(np.int64)


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _magnitude_category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length() if v < 0 else 0


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                    self.out.append(0x00)
                self._acc = 0
                self._n = 0

    def flush(self) -> None:
        if self._n:
            # pad with 1-bits (spec convention)
            self._acc = (self._acc << (8 - self._n)) | ((1 << (8 - self._n)) - 1)
            self.out.append(self._acc)
            if self._acc == 0xFF:
                self.out.append(0x00)
            self._acc = 0
            self._n = 0


def _flat_huff_table(symbols: list) -> tuple[dict, list, list]:
    """Canonical FLAT Huffman table: every symbol gets length L =
    ceil(log2(n+1)) — suboptimal compression but a fully spec-legal
    canonical code (counts[L] = n ≤ 2^L - 1 keeps the all-ones code of
    the maximum length unused, as T.81 C.2 requires).  Returns
    (symbol → (code, length), BITS[1..16], HUFFVAL)."""
    syms = sorted(set(symbols))
    n = len(syms)
    L = max(1, (n + 1 - 1).bit_length())  # 2^L ≥ n+1
    codes = {s: (i, L) for i, s in enumerate(syms)}
    bits = [0] * 16
    bits[L - 1] = n
    return codes, bits, syms


def _block_symbols(zz: np.ndarray, prev_dc: int) -> tuple[list, list, int]:
    """(dc_syms, ac_syms, new_prev_dc) where each entry is
    (symbol, extra_value, extra_bits)."""
    diff = int(zz[0]) - prev_dc
    cat = _magnitude_category(diff)
    extra = diff if diff >= 0 else diff + (1 << cat) - 1
    dc = [(cat, extra, cat)]
    ac = []
    run = 0
    last_nz = 0
    for i in range(1, 64):
        if zz[i] != 0:
            last_nz = i
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ac.append((0xF0, 0, 0))  # ZRL
            run -= 16
        c = _magnitude_category(v)
        ev = v if v >= 0 else v + (1 << c) - 1
        ac.append(((run << 4) | c, ev, c))
        run = 0
    if last_nz < 63:
        ac.append((0x00, 0, 0))  # EOB
    return dc, ac, int(zz[0])


def _component_blocks(plane: np.ndarray, q: np.ndarray) -> list:
    """Pad plane to 8-multiples (edge replication), DCT+quantize each
    8×8 block, return zigzag vectors in raster block order."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.empty((ph, pw))
    padded[:h, :w] = plane
    padded[h:, :w] = plane[h - 1 : h, :]
    padded[:, w:] = padded[:, w - 1 : w]
    out = []
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            block = padded[by : by + 8, bx : bx + 8] - 128.0
            coef = _D @ block @ _D.T
            qz = np.round(coef / q).astype(np.int64)
            out.append(qz[_ZZ_ROWS, _ZZ_COLS])
    return out


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB → baseline JFIF bytes.

    ``subsample=True`` uses 4:2:0 chroma (exercises the decoder's
    upsampling path); ``restart_interval`` > 0 emits DRI + RSTn
    markers every that many MCUs (exercises the decoder's restart
    resync).  Huffman tables are flat canonical codes built from the
    image's own symbol set (see _flat_huff_table)."""
    assert arr.dtype == np.uint8
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    ql = quant_table(quality)
    qc = quant_table(max(1, quality - 10))

    if gray:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        ycc = _rgb_to_ycbcr(arr)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsample:
            ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
            def pad2(p):
                pp = np.empty((ph, pw))
                pp[:h, :w] = p
                pp[h:, :w] = p[h - 1 : h, :]
                pp[:, w:] = pp[:, w - 1 : w]
                return pp
            cb = pad2(cb).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = pad2(cr).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
        qsel = [0, 1, 1]

    # MCU geometry
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # blocks per component, in raster block order
    comp_blocks = []
    comp_bw = []  # blocks per row, per component
    for plane, (sh, sv), qi in zip(planes, samp, qsel):
        q = ql if qi == 0 else qc
        blocks = _component_blocks(plane, q)
        bw = -(-plane.shape[1] // 8)
        bh = -(-plane.shape[0] // 8)
        # extend to MCU-aligned grid (replicate last block row/col)
        need_w, need_h = mcux * sh, mcuy * sv
        grid = [[blocks[min(r, bh - 1) * bw + min(c, bw - 1)] for c in range(need_w)] for r in range(need_h)]
        comp_blocks.append(grid)
        comp_bw.append(need_w)

    # MCU-ordered (component, block) stream
    stream = []  # (comp_index, zigzag)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (sh, sv) in enumerate(samp):
                for r in range(sv):
                    for c in range(sh):
                        stream.append((ci, comp_blocks[ci][my * sv + r][mx * sh + c]))

    # two passes: collect symbols → build tables → emit
    n_comp = len(planes)
    dc_tbl_of = [0 if ci == 0 else 1 for ci in range(n_comp)]
    dc_syms: dict = {0: [], 1: []}
    ac_syms: dict = {0: [], 1: []}
    prev_dc = [0] * n_comp
    mcu_size = sum(sh * sv for sh, sv in samp)
    per_block = []
    for bi, (ci, zz) in enumerate(stream):
        if restart_interval and bi % (restart_interval * mcu_size) == 0 and bi:
            prev_dc = [0] * n_comp
        dcs, acs, prev_dc[ci] = _block_symbols(zz, prev_dc[ci])
        t = dc_tbl_of[ci]
        dc_syms[t] += [s for s, _, _ in dcs]
        ac_syms[t] += [s for s, _, _ in acs]
        per_block.append((ci, dcs, acs))
    tables = {}
    for t in (0, 1):
        if dc_syms[t]:
            tables[("dc", t)] = _flat_huff_table(dc_syms[t])
        if ac_syms[t]:
            tables[("ac", t)] = _flat_huff_table(ac_syms[t])

    bw_ = _BitWriter()
    out = bytearray(b"\xff\xd8")  # SOI
    # APP0 / JFIF
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    # DQT (two tables, 8-bit precision)
    for tid, q in ((0, ql), (1, qc))[: 1 if gray else 2]:
        payload = bytes([tid]) + bytes(int(q[_ZZ_ROWS[i], _ZZ_COLS[i]]) for i in range(64))
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(payload)) + payload
    # SOF0
    sof = struct.pack(">BHHB", 8, h, w, n_comp)
    for ci in range(n_comp):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qsel[ci]])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT
    for (kind, tid), (codes, bits, vals) in sorted(tables.items()):
        tc = 0 if kind == "dc" else 1
        payload = bytes([(tc << 4) | tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    # DRI
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([n_comp])
    for ci in range(n_comp):
        t = dc_tbl_of[ci]
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # entropy-coded data
    rst = 0
    for bi, (ci, dcs, acs) in enumerate(per_block):
        if restart_interval and bi % (restart_interval * mcu_size) == 0 and bi:
            bw_.flush()
            out += bytes(bw_.out)
            bw_ = _BitWriter()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
        t = dc_tbl_of[ci]
        codes_dc = tables[("dc", t)][0]
        codes_ac = tables[("ac", t)][0]
        for s, ev, eb in dcs:
            code, ln = codes_dc[s]
            bw_.write(code, ln)
            if eb:
                bw_.write(ev, eb)
        for s, ev, eb in acs:
            code, ln = codes_ac[s]
            bw_.write(code, ln)
            if eb:
                bw_.write(ev, eb)
    bw_.flush()
    out += bytes(bw_.out)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at any
    marker (0xFF followed by non-zero) and reports it."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                # marker reached: synthesize 1-padding is illegal here —
                # a well-formed stream never reads past block end
                raise ValueError("entropy read ran into a marker")
        else:
            self.pos += 1
        # _fill only runs when the accumulator is empty (bit() guards
        # on _n == 0), so replace rather than append — appending would
        # grow the int without bound over a long scan
        self._acc = b
        self._n = 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int:
        """Drop pad bits, expect and consume a marker; return it.
        A 1-padded final byte can itself be 0xFF, which the encoder
        byte-stuffs — skip any 0xFF00 pairs before the marker."""
        self._acc = 0
        self._n = 0
        while (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and self.data[self.pos + 1] == 0x00
        ):
            self.pos += 2
        if self.pos + 1 >= len(self.data) or self.data[self.pos] != 0xFF:
            raise ValueError("expected marker in entropy stream")
        m = self.data[self.pos + 1]
        self.pos += 2
        return m


def _build_huff(bits: list, vals: list) -> dict:
    """Canonical table → {(length, code): symbol} (T.81 C.2)."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg(blob: bytes) -> np.ndarray:
    """Baseline sequential JFIF → uint8 raster ((h, w) grayscale or
    (h, w, 3) RGB).  Supports: 8-bit precision, 1 or 3 components, any
    (h_i, v_i) sampling factors ≤ 2 (replication upsampling), multiple
    DQT/DHT segments, DRI/RSTn restarts, byte stuffing.  Raises
    ``ValueError`` for progressive (SOF2), arithmetic (SOF9+), 12-bit,
    non-interleaved (a scan without every frame component), or
    malformed input — the quarantine contract."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple, dict] = {}
    restart_interval = 0
    frame = None
    while True:
        if pos + 4 > len(blob):
            raise ValueError("truncated JPEG (no SOS)")
        if blob[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD8:
            continue
        seglen = struct.unpack(">H", blob[pos : pos + 2])[0]
        seg = blob[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                n = 64 * (2 if pq else 1)
                raw = seg[i : i + n]
                i += n
                vals = (
                    np.frombuffer(raw, dtype=">u2").astype(np.int64)
                    if pq
                    else np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                )
                q = np.zeros((8, 8), dtype=np.int64)
                q[_ZZ_ROWS, _ZZ_COLS] = vals
                qt[tq] = q
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                huff[("dc" if tc == 0 else "ac", th)] = _build_huff(bits, vals)
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline)
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3) or 0xC5 <= marker <= 0xCF and marker not in (0xC8,):
            raise ValueError(f"unsupported JPEG process (SOF{marker - 0xC0})")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            if ns != len(frame["comps"]):
                raise ValueError(
                    f"unsupported non-interleaved scan ({ns} of "
                    f"{len(frame['comps'])} frame components)"
                )
            scan = []
            for si in range(ns):
                cs, tt = seg[1 + 2 * si : 3 + 2 * si]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append({**comp, "td": tt >> 4, "ta": tt & 0xF})
            pos += seglen
            return _decode_scan(blob, pos, frame, scan, qt, huff, restart_interval)
        # else: APPn/COM/others skipped
        pos += seglen


def _decode_scan(data, pos, frame, scan, qt, huff, restart_interval):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in scan)
    vmax = max(c["v"] for c in scan)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8)) for c in scan
    ]
    br = _BitReader(data, pos)
    prev_dc = [0] * len(scan)
    n_mcu = mcux * mcuy
    for mi in range(n_mcu):
        if restart_interval and mi and mi % restart_interval == 0:
            m = br.align_to_marker()
            if not (0xD0 <= m <= 0xD7):
                raise ValueError(f"expected RST marker, got {m:02x}")
            br = _BitReader(data, br.pos)
            prev_dc = [0] * len(scan)
        my, mx = divmod(mi, mcux)
        for ci, c in enumerate(scan):
            q = qt.get(c["tq"])
            if q is None:
                raise ValueError("missing quant table")
            dc_tab = huff.get(("dc", c["td"]))
            ac_tab = huff.get(("ac", c["ta"]))
            if dc_tab is None or ac_tab is None:
                raise ValueError("missing Huffman table")
            for r in range(c["v"]):
                for cc in range(c["h"]):
                    zz = np.zeros(64, dtype=np.int64)
                    cat = _huff_decode(br, dc_tab)
                    prev_dc[ci] += _extend(br.bits(cat), cat) if cat else 0
                    zz[0] = prev_dc[ci]
                    k = 1
                    while k < 64:
                        rs = _huff_decode(br, ac_tab)
                        rrrr, ssss = rs >> 4, rs & 0xF
                        if ssss == 0:
                            if rrrr == 15:
                                k += 16  # ZRL
                                continue
                            break  # EOB
                        k += rrrr
                        if k > 63:
                            raise ValueError("AC run past block end")
                        zz[k] = _extend(br.bits(ssss), ssss)
                        k += 1
                    coef = np.zeros((8, 8))
                    coef[_ZZ_ROWS, _ZZ_COLS] = zz * q[_ZZ_ROWS, _ZZ_COLS]
                    block = _D.T @ coef @ _D + 128.0
                    by = (my * c["v"] + r) * 8
                    bx = (mx * c["h"] + cc) * 8
                    planes[ci][by : by + 8, bx : bx + 8] = block
    # upsample to full resolution and crop
    full = []
    for ci, c in enumerate(scan):
        p = planes[ci]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return np.clip(full[0].round(), 0, 255).astype(np.uint8)
    if len(full) == 3:
        return _ycbcr_to_rgb(full[0], full[1], full[2])
    raise ValueError(f"unsupported component count {len(full)}")
