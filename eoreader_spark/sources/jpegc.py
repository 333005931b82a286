"""REAL baseline JPEG (JFIF) codec — pure numpy, written from the public
ITU-T T.81 spec (no libjpeg in this container).

Reference analog: eoreader reads lossy-compressed rasters (JP2/COG) through
rasterio (/root/reference/eoreader/utils.py:137-299); this file gives the
engine a true DCT-based lossy container so the PSNR>=40dB decoded-pixel
invariant (BASELINE.json:15) is exercised by a real transform codec, not the
qjpg quantization stand-in.

Scope (all of baseline sequential DCT, 8-bit):
- FDCT/IDCT: orthonormal 8x8 DCT-II via matrix multiply (vectorized over all
  blocks of a plane at once).
- Quantization: Annex K luminance table scaled by the IJG quality formula;
  the table travels in DQT, so the decoder honors whatever the stream says.
- Entropy coding: canonical Annex K Huffman tables (DC/AC luminance),
  byte-stuffed (FF 00) scan data; tables travel in DHT segments.
- Any plane count: components are encoded NON-interleaved, one SOS scan per
  component (spec-legal baseline; a scan with Ns=1 needs no MCU assembly),
  so the same container carries 1-plane DEM tiles, 3-plane RGB, or a
  14-plane multispectral stack.  Sampling factors are all 1x1 (4:4:4).
- Markers: SOI, APP0 (JFIF 1.1), DQT, SOF0/SOF1/SOF2, DHT, DRI, SOS*,
  RSTn, EOI.  Restart intervals (round 5) are emitted on request and
  decoded in both sequential scan layouts: RSTm byte-aligns the stream and
  resets DC predictors every Ri MCUs, the real-encoder resync layout.
- Progressive DCT (SOF2, round 5): full spectral-selection + successive-
  approximation decode per T.81 Annex G — interleaved or single-component
  DC first/refinement scans, non-interleaved AC first/refinement scans
  with EOB-run codes — plus an encoder scan script that exercises all four
  scan types (encode_jfif(progressive=True)).  SOF1 (extended sequential,
  8-bit) decodes through the baseline path (identical scan format).
  Arithmetic coding, hierarchical and lossless SOFs are rejected loudly;
  restart intervals inside progressive scans are not supported (named
  NotImplementedError).

Encode and decode are both deterministic numpy, so distributed decode is
bit-for-bit reproducible across partitionings — the property every gate
query relies on.
"""

from __future__ import annotations

import struct

import numpy as np

from eoreader_spark.codecs import corrupt_guard

# ---------------------------------------------------------------- constants
# zigzag scan order: position k in the scan reads flat raster index ZIG[k]
ZIG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZIG = np.argsort(ZIG)

# Annex K Table K.1 luminance quantization table (raster order)
QTBL_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

# Annex K Tables K.3/K.5: standard DC/AC luminance Huffman specs
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    d = 0.5 * np.cos((2 * n + 1) * k * np.pi / 16.0)
    d[0] /= np.sqrt(2.0)
    return d


_D = _dct_matrix()


def _quality_table(quality: int) -> np.ndarray:
    """IJG quality scaling of the Annex K luminance table (public formula)."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (QTBL_LUM * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _huff_codes(DC_BITS, DC_VALS)
_AC_ENC = _huff_codes(AC_BITS, AC_VALS)


def _huff_decode_lut(bits: list[int], vals: list[int]) -> tuple[list[int], list[int]]:
    """(symbols, lengths) LUTs indexed by a 16-bit peek: every code is a
    prefix of the index, so one table lookup replaces bit-by-bit descent
    (baseline codes are <= 16 bits, so the table is exhaustive)."""
    sym_lut = [-1] * 65536
    len_lut = [0] * 65536
    for sym, (code, ln) in _huff_codes(bits, vals).items():
        base = code << (16 - ln)
        for i in range(base, base + (1 << (16 - ln))):
            sym_lut[i] = sym
            len_lut[i] = ln
    return sym_lut, len_lut


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, val: int, n: int) -> None:
        if n == 0:
            return
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.acc = 0
            self.nbits = 0


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (category, extra bits)."""
    cat = int(abs(v)).bit_length()
    extra = v if v >= 0 else v + (1 << cat) - 1
    return cat, extra


def _plane_coeffs(plane: np.ndarray, qtbl: np.ndarray) -> np.ndarray:
    """(h, w) uint8 -> (nblocks, 64) quantized zigzag coefficients."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane.astype(np.float64), ((0, ph - h), (0, pw - w)), mode="edge")
    blocks = padded.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3) - 128.0
    coeffs = np.einsum("ij,bxjk,lk->bxil", _D, blocks, _D, optimize=True)
    q = np.round(coeffs / qtbl).astype(np.int64)
    return q.reshape(-1, 64)[:, ZIG]


def _emit_block(bw: "_BitWriter", zz: np.ndarray, pred: int) -> int:
    """Huffman-emit one zigzag-quantized block; returns the new DC pred."""
    dc = int(zz[0])
    cat, extra = _magnitude(dc - pred)
    code, ln = _DC_ENC[cat]
    bw.write((code << cat) | extra, ln + cat)  # one fused emission
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            c0, l0 = _AC_ENC[0xF0]  # ZRL
            bw.write(c0, l0)
            run -= 16
        cat, extra = _magnitude(v)
        code, ln = _AC_ENC[(run << 4) | cat]
        bw.write((code << cat) | extra, ln + cat)
        run = 0
    if last < 63:
        code, ln = _AC_ENC[0x00]  # EOB
        bw.write(code, ln)
    return dc


# --------------------------------------------------- progressive (SOF2)


class _ScanBits:
    """MSB-first bit cursor over destuffed scan bytes.  Progressive scans
    interleave Huffman codes with raw refinement bits, so the stateless
    40-bit-peek pattern of the sequential decoders is wrapped in a
    stateful cursor here (correctness-grade speed is fine: progressive
    scans revisit coefficients, not pixels)."""

    __slots__ = ("buf", "pos", "limit")

    def __init__(self, data: bytes) -> None:
        self.buf = data + b"\x00\x00\x00\x00\x00"
        self.pos = 0
        self.limit = len(data) * 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        sh = self.pos & 7
        w = int.from_bytes(self.buf[self.pos >> 3 : (self.pos >> 3) + 5], "big")
        v = (w >> (40 - sh - n)) & ((1 << n) - 1)
        self.pos += n
        return v

    def huff(self, lut) -> int:
        if self.pos > self.limit:
            raise ValueError("scan data exhausted mid-block")
        sym_t, len_t = lut
        sh = self.pos & 7
        w = int.from_bytes(self.buf[self.pos >> 3 : (self.pos >> 3) + 3], "big")
        code = (w >> (8 - sh)) & 0xFFFF
        s = sym_t[code]
        if s < 0:
            raise ValueError("invalid Huffman code in scan")
        self.pos += len_t[code]
        return s


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: magnitude bits -> signed value."""
    return v + 1 - (1 << t) if (t and v >> (t - 1) == 0) else v


def _prog_dc_scan(bits, scan_comps, coefs, widths, Ah, Al, mcu_y, mcu_x):
    """One progressive DC scan — first (Ah==0: Huffman diffs at point
    transform Al) or refinement (one raw bit per block) — over the
    interleaved MCU walk.  For Ns==1 the caller passes the component's own
    block grid as (mcu_y, mcu_x) with hi=vi=1; ``widths`` keeps the PADDED
    row stride so subsampled components index correctly."""
    preds = {cid: 0 for cid, *_ in scan_comps}
    for mi in range(mcu_y * mcu_x):
        my, mx = divmod(mi, mcu_x)
        for cid, hi, vi, dc_lut in scan_comps:
            row = coefs[cid]
            stride = widths[cid]
            for by in range(vi):
                for bx in range(hi):
                    base = ((vi * my + by) * stride + (hi * mx + bx)) << 6
                    if Ah == 0:
                        cat = bits.huff(dc_lut)
                        diff = _extend(bits.read(cat), cat) if cat else 0
                        preds[cid] += diff
                        row[base] = preds[cid] << Al
                    elif bits.read(1):
                        row[base] |= 1 << Al


def _prog_ac_first(bits, row, base, ac_lut, Ss, Se, Al, eobrun):
    """Progressive AC first scan, one block (T.81 G.1.2.2): RRRRSSSS codes
    with EOBn run-length escapes.  Returns the updated EOB-run count."""
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        sym = bits.huff(ac_lut)
        r, s = sym >> 4, sym & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += bits.read(r)
            return eobrun
        k += r
        if k > Se:
            raise ValueError("AC run past band end")
        row[base + k] = _extend(bits.read(s), s) << Al
        k += 1
    return 0


def _prog_ac_refine(bits, row, base, ac_lut, Ss, Se, Al, eobrun):
    """Progressive AC refinement scan, one block (T.81 G.1.2.3): newly
    significant coefficients arrive as (run, 1) codes; correction bits for
    already-significant coefficients are interleaved in positional order."""
    p1, m1 = 1 << Al, -1 << Al
    k = Ss
    if eobrun == 0:
        while k <= Se:
            sym = bits.huff(ac_lut)
            r, s = sym >> 4, sym & 15
            sval = 0
            if s:
                if s != 1:
                    raise ValueError("bad refinement magnitude category")
                sval = p1 if bits.read(1) else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += bits.read(r)
                break
            while k <= Se:
                c = base + k
                if row[c] != 0:
                    if bits.read(1) and (row[c] & p1) == 0:
                        row[c] += p1 if row[c] >= 0 else m1
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if sval and k <= Se:
                row[base + k] = sval
            k += 1
    if eobrun > 0:
        while k <= Se:
            c = base + k
            if row[c] != 0:
                if bits.read(1) and (row[c] & p1) == 0:
                    row[c] += p1 if row[c] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _emit_ac_first_prog(bw: "_BitWriter", zz: np.ndarray, Ss: int, Se: int, Al: int) -> None:
    """Encode one block of a progressive AC first scan (point transform
    sign(v)*(|v|>>Al)); EOB runs capped at 1 (spec-legal EOB0 per block)."""
    t = np.sign(zz[Ss : Se + 1]) * (np.abs(zz[Ss : Se + 1]) >> Al)
    nz = np.nonzero(t)[0]
    if len(nz) == 0:
        code, ln = _AC_ENC[0x00]
        bw.write(code, ln)
        return
    run = 0
    last = int(nz[-1])
    for i in range(last + 1):
        v = int(t[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            c0, l0 = _AC_ENC[0xF0]
            bw.write(c0, l0)
            run -= 16
        cat, extra = _magnitude(v)
        code, ln = _AC_ENC[(run << 4) | cat]
        bw.write((code << cat) | extra, ln + cat)
        run = 0
    if last < Se - Ss:
        code, ln = _AC_ENC[0x00]
        bw.write(code, ln)


def _emit_ac_refine_prog(bw: "_BitWriter", zz: np.ndarray, Ss: int, Se: int, Al: int) -> None:
    """Encode one block of a progressive AC refinement scan.

    Mirrors _prog_ac_refine's walk EXACTLY: after each emitted symbol the
    decoder advances position-by-position, consuming one correction bit per
    already-significant coefficient and counting zero-history positions; a
    ZRL walk stops at the 16th zero-history position, so only correction
    bits lying BEFORE that point may follow a ZRL (flushing the rest early
    desyncs the stream — a straight 'flush all buffered bits' translation
    breaks when a significant coefficient sits past the 16th zero)."""
    absv = np.abs(zz[Ss : Se + 1]) >> Al
    n = Se - Ss + 1
    k = 0  # walk cursor, relative to Ss
    for i in range(n):
        if int(absv[i]) != 1:  # not newly significant
            continue
        # zero-history run length between the cursor and this coefficient
        r = sum(1 for j in range(k, i) if int(absv[j]) == 0)
        while r > 15:
            c0, l0 = _AC_ENC[0xF0]
            bw.write(c0, l0)
            # decoder walk: correction bits up to (not past) the 16th zero
            zeros = 0
            while k < i:
                a = int(absv[k])
                if a == 0:
                    zeros += 1
                    if zeros == 16:
                        k += 1
                        break
                elif a > 1:
                    bw.write(a & 1, 1)
                k += 1
            r -= 16
        code, ln = _AC_ENC[(r << 4) | 1]
        sign_bit = 1 if zz[Ss + i] > 0 else 0
        bw.write((code << 1) | sign_bit, ln + 1)
        for j in range(k, i):  # correction bits consumed en route
            a = int(absv[j])
            if a > 1:
                bw.write(a & 1, 1)
        k = i + 1
    # tail: remaining zero-history positions and/or pending correction bits
    tail_zeros = sum(1 for j in range(k, n) if int(absv[j]) == 0)
    tail_bits = [int(absv[j]) & 1 for j in range(k, n) if int(absv[j]) > 1]
    if tail_zeros or tail_bits:
        code, ln = _AC_ENC[0x00]
        bw.write(code, ln)
        for b in tail_bits:
            bw.write(b, 1)


def _encode_jfif_progressive(img: np.ndarray, quality: int) -> bytes:
    """(planes, h, w) uint8 -> progressive JFIF (SOF2), 4:4:4.

    Scan script (exercises all four progressive scan types):
      1. interleaved DC first  (Ss=0 Se=0 Ah=0 Al=1), component groups <=4
      2. interleaved DC refine (Ah=1 Al=0), raw bits
      3. per-component AC first  (Ss=1 Se=63 Ah=0 Al=1)
      4. per-component AC refine (Ss=1 Se=63 Ah=1 Al=0)
    The quantized coefficients are identical to a baseline encode at the
    same quality, so progressive and baseline decodes are bit-identical.
    """
    p, h, w = img.shape
    assert h < 65536 and w < 65536 and 1 <= p <= 255
    qtbl = _quality_table(quality)
    coeffs = [_plane_coeffs(img[c], qtbl) for c in range(p)]
    nb = coeffs[0].shape[0]

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes(
        int(v) for v in qtbl.reshape(-1)[ZIG]
    )
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * p, 8, h, w, p)  # SOF2
    for c in range(p):
        out += struct.pack(">BBB", c + 1, 0x11, 0)
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(DC_VALS), 0x00)
    out += bytes(DC_BITS) + bytes(DC_VALS)
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(AC_VALS), 0x10)
    out += bytes(AC_BITS) + bytes(AC_VALS)

    groups = [list(range(p))[i : i + 4] for i in range(0, p, 4)]

    def sos_header(comp_ids, Ss, Se, Ah, Al):
        seg = bytearray()
        seg += struct.pack(">HB", 6 + 2 * len(comp_ids), len(comp_ids))
        for c in comp_ids:
            seg += struct.pack(">BB", c + 1, 0x00)
        seg += struct.pack(">BBB", Ss, Se, (Ah << 4) | Al)
        return b"\xff\xda" + bytes(seg)

    for g in groups:  # 1. DC first, interleaved, point transform Al=1
        out += sos_header(g, 0, 0, 0, 1)
        bw = _BitWriter()
        preds = {c: 0 for c in g}
        for bi in range(nb):
            for c in g:
                dc = int(coeffs[c][bi, 0]) >> 1  # arithmetic shift (G.1.2.1)
                cat, extra = _magnitude(dc - preds[c])
                preds[c] = dc
                code, ln = _DC_ENC[cat]
                bw.write((code << cat) | extra, ln + cat)
        bw.flush()
        out += bw.buf
    for g in groups:  # 2. DC refine: one raw bit per block
        out += sos_header(g, 0, 0, 1, 0)
        bw = _BitWriter()
        for bi in range(nb):
            for c in g:
                bw.write(int(coeffs[c][bi, 0]) & 1, 1)
        bw.flush()
        out += bw.buf
    for c in range(p):  # 3. AC first
        out += sos_header([c], 1, 63, 0, 1)
        bw = _BitWriter()
        for bi in range(nb):
            _emit_ac_first_prog(bw, coeffs[c][bi], 1, 63, 1)
        bw.flush()
        out += bw.buf
    for c in range(p):  # 4. AC refine
        out += sos_header([c], 1, 63, 1, 0)
        bw = _BitWriter()
        for bi in range(nb):
            _emit_ac_refine_prog(bw, coeffs[c][bi], 1, 63, 0)
        bw.flush()
        out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def encode_jfif(
    img: np.ndarray, quality: int = 95, subsampling: str = "444",
    restart_interval: int = 0, progressive: bool = False,
) -> bytes:
    """(planes, h, w) uint8 -> baseline JFIF bytes.

    ``subsampling='444'`` (default): one NON-interleaved scan per plane,
    any plane count, all components full resolution.

    ``subsampling='420'`` (round 4; requires exactly 3 planes): the wire
    format of nearly every real camera JPEG — luma at 2x2 sampling, both
    chroma planes 2x2 box-downsampled, ONE interleaved scan in MCU order
    (16x16 MCUs: 4 luma + 1 + 1 chroma blocks, per-component DC
    predictors).  Planes are stored as-is (the engine's planar semantics);
    no color transform is applied on either side.

    ``restart_interval=Ri`` (round 5) emits a DRI segment plus RSTm markers
    every Ri MCUs: the bit stream is byte-aligned and the DC predictors
    reset at each marker, so a corrupted file stays decodable past the
    damage — the resync layout real camera/encoder pipelines write.

    Default quality 95 clears the PSNR>=40dB invariant with ~2 dB margin
    even on the worst-case synthetic pattern (the (x*y)%29 term is near
    white noise — the hardest content for a DCT codec; measured 42.4 dB at
    q95 vs 38.5 dB at q92).

    ``progressive=True`` (round 5) writes an SOF2 stream with the four-type
    scan script of _encode_jfif_progressive (4:4:4 only, no restarts); the
    decoded pixels are bit-identical to the baseline encode at the same
    quality."""
    if progressive:
        if subsampling != "444" or restart_interval:
            raise ValueError(
                "progressive encode supports 4:4:4 without restart intervals"
            )
        return _encode_jfif_progressive(img, quality)
    if subsampling == "420":
        return _encode_jfif_420(img, quality, restart_interval)
    if subsampling != "444":
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    p, h, w = img.shape
    assert h < 65536 and w < 65536 and 1 <= p <= 255
    qtbl = _quality_table(quality)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    # DQT (stored in zigzag order per spec)
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes(
        int(v) for v in qtbl.reshape(-1)[ZIG]
    )
    # SOF0: 8-bit precision, all components 1x1 sampling, quant table 0
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * p, 8, h, w, p)
    for c in range(p):
        out += struct.pack(">BBB", c + 1, 0x11, 0)
    # DHT: DC table 0 + AC table 0
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(DC_VALS), 0x00)
    out += bytes(DC_BITS) + bytes(DC_VALS)
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(AC_VALS), 0x10)
    out += bytes(AC_BITS) + bytes(AC_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    for c in range(p):  # one non-interleaved scan per component
        out += b"\xff\xda" + struct.pack(">HB", 8, 1) + struct.pack(">BB", c + 1, 0x00)
        out += struct.pack(">BBB", 0, 63, 0)  # Ss, Se, AhAl
        # in a non-interleaved scan the MCU is one block; restart markers
        # byte-align and reset the DC predictor every Ri blocks
        bw = _BitWriter()
        pred = 0
        nrst = 0
        for bi, zz in enumerate(_plane_coeffs(img[c], qtbl)):
            if restart_interval and bi and bi % restart_interval == 0:
                bw.flush()
                out += bw.buf + bytes([0xFF, 0xD0 + (nrst & 7)])
                nrst += 1
                bw = _BitWriter()
                pred = 0
            pred = _emit_block(bw, zz, pred)
        bw.flush()
        out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _box2(plane: np.ndarray) -> np.ndarray:
    """2x2 box-mean downsample (edge-replicated to even dims first)."""
    h, w = plane.shape
    if h % 2:
        plane = np.vstack([plane, plane[-1:]])
    if w % 2:
        plane = np.hstack([plane, plane[:, -1:]])
    p = plane.astype(np.int64)
    s = p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]
    return ((s + 2) // 4).astype(np.uint8)  # round half up


def _pad_to(plane: np.ndarray, hh: int, ww: int) -> np.ndarray:
    """Edge-replicate pad to (hh, ww) — the spec-recommended MCU fill."""
    h, w = plane.shape
    return np.pad(plane, ((0, hh - h), (0, ww - w)), mode="edge")


def _encode_jfif_420(img: np.ndarray, quality: int, restart_interval: int = 0) -> bytes:
    p, h, w = img.shape
    if p != 3:
        raise ValueError("4:2:0 requires exactly 3 planes")
    assert h < 65536 and w < 65536
    qtbl = _quality_table(quality)
    mcu_y, mcu_x = -(-h // 16), -(-w // 16)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes(
        int(v) for v in qtbl.reshape(-1)[ZIG]
    )
    # SOF0: comp 1 = 2x2 sampling, comps 2/3 = 1x1, all quant table 0
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 9, 8, h, w, 3)
    out += struct.pack(">BBB", 1, 0x22, 0)
    out += struct.pack(">BBB", 2, 0x11, 0)
    out += struct.pack(">BBB", 3, 0x11, 0)
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(DC_VALS), 0x00)
    out += bytes(DC_BITS) + bytes(DC_VALS)
    out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(AC_VALS), 0x10)
    out += bytes(AC_BITS) + bytes(AC_VALS)

    # per-component quantized blocks in BLOCK-RASTER order
    luma = _pad_to(img[0], mcu_y * 16, mcu_x * 16)
    cb = _pad_to(_box2(img[1]), mcu_y * 8, mcu_x * 8)
    cr = _pad_to(_box2(img[2]), mcu_y * 8, mcu_x * 8)
    zz_y = _plane_coeffs(luma, qtbl)       # (2*mcu_y * 2*mcu_x) blocks
    zz_cb = _plane_coeffs(cb, qtbl)
    zz_cr = _plane_coeffs(cr, qtbl)
    yw = 2 * mcu_x  # luma blocks per row

    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # interleaved scan: Ns=3, MCU order, per-component DC predictors
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * 3, 3)
    for cid in (1, 2, 3):
        out += struct.pack(">BB", cid, 0x00)
    out += struct.pack(">BBB", 0, 63, 0)
    bw = _BitWriter()
    preds = [0, 0, 0]
    nrst = 0
    nmcu = 0
    for my in range(mcu_y):
        for mx in range(mcu_x):
            if restart_interval and nmcu and nmcu % restart_interval == 0:
                bw.flush()
                out += bw.buf + bytes([0xFF, 0xD0 + (nrst & 7)])
                nrst += 1
                bw = _BitWriter()
                preds = [0, 0, 0]
            nmcu += 1
            for by in (0, 1):
                for bx in (0, 1):
                    blk = (2 * my + by) * yw + (2 * mx + bx)
                    preds[0] = _emit_block(bw, zz_y[blk], preds[0])
            preds[1] = _emit_block(bw, zz_cb[my * mcu_x + mx], preds[1])
            preds[2] = _emit_block(bw, zz_cr[my * mcu_x + mx], preds[2])
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _decode_scan(
    data: bytes,
    nblocks: int,
    dc_lut: tuple[list[int], list[int]],
    ac_lut: tuple[list[int], list[int]],
) -> np.ndarray:
    """Entropy-decode one single-component scan -> (nblocks, 64) zigzag.

    Table-driven: one 40-bit peek (5-byte slice -> int) serves both the
    Huffman code (one LUT hit resolves symbol + length) and its magnitude
    field — 5x the bit-by-bit reader this replaced (measured 394 -> 79 ms
    on a 3x256x128 image).  Production bulk decode would put libjpeg in
    the codec table; this pure-python path is the correctness-grade
    fallback."""
    buf = data + b"\x00\x00\x00\x00\x00"  # peek overrun guard past the last code
    dc_sym, dc_len = dc_lut
    ac_sym, ac_len = ac_lut
    out = np.zeros((nblocks, 64), dtype=np.int64)
    row = out.reshape(-1)
    pred = 0
    pos = 0
    limit = len(data) * 8
    from_bytes = int.from_bytes

    # one 40-bit peek serves both the <=16-bit code and its <=11-bit
    # magnitude field (7 + 16 + 11 <= 40), so each (symbol, extra) pair
    # costs a single 5-byte slice + int conversion
    for b in range(nblocks):
        if pos > limit:
            raise ValueError("scan data exhausted mid-block")
        base = b << 6
        sh = pos & 7
        w = from_bytes(buf[pos >> 3 : (pos >> 3) + 5], "big")
        code = (w >> (24 - sh)) & 0xFFFF
        cat = dc_sym[code]
        if cat < 0:
            raise ValueError("invalid Huffman code in scan")
        ln = dc_len[code]
        if cat:
            extra = (w >> (40 - sh - ln - cat)) & ((1 << cat) - 1)
            if extra >> (cat - 1) == 0:
                extra += 1 - (1 << cat)
            pred += extra
        pos += ln + cat
        row[base] = pred
        k = 1
        while k < 64:
            sh = pos & 7
            w = from_bytes(buf[pos >> 3 : (pos >> 3) + 5], "big")
            code = (w >> (24 - sh)) & 0xFFFF
            sym = ac_sym[code]
            if sym < 0:
                raise ValueError("invalid Huffman code in scan")
            ln = ac_len[code]
            pos += ln
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            k += sym >> 4
            cat = sym & 0x0F
            if k > 63:
                raise ValueError("AC run past end of block")
            extra = (w >> (40 - sh - ln - cat)) & ((1 << cat) - 1)
            if extra >> (cat - 1) == 0:
                extra += 1 - (1 << cat)
            row[base + k] = extra
            pos += cat
            k += 1
    return out


def _decode_scan_interleaved(
    data: bytes,
    mcu_y: int,
    mcu_x: int,
    scan_comps: list[tuple[int, int, int, tuple, tuple]],
    mcu_start: int = 0,
    mcu_count: int | None = None,
    outs: dict[int, np.ndarray] | None = None,
) -> dict[int, np.ndarray]:
    """Entropy-decode one INTERLEAVED scan (Ns > 1, MCU order).

    ``scan_comps``: (cid, hi, vi, dc_lut, ac_lut) per component in scan
    order.  Returns {cid: (vi*mcu_y * hi*mcu_x, 64) zigzag blocks in
    BLOCK-RASTER order}.  Same 40-bit-peek table-driven core as
    _decode_scan, with per-component DC predictors.

    ``mcu_start``/``mcu_count``/``outs`` serve restart intervals: each
    RSTm-delimited segment is a fresh byte-aligned bit stream with reset
    predictors covering MCUs [mcu_start, mcu_start + mcu_count)."""
    buf = data + b"\x00\x00\x00\x00\x00"
    limit = len(data) * 8
    from_bytes = int.from_bytes
    if outs is None:
        outs = {
            cid: np.zeros((vi * mcu_y * hi * mcu_x, 64), dtype=np.int64)
            for cid, hi, vi, _d, _a in scan_comps
        }
    if mcu_count is None:
        mcu_count = mcu_y * mcu_x - mcu_start
    preds = {cid: 0 for cid, *_ in scan_comps}
    pos = 0

    def one_block(row_out, base, dc_lut, ac_lut, pred):
        nonlocal pos
        if pos > limit:
            raise ValueError("scan data exhausted mid-block")
        dc_sym, dc_len = dc_lut
        ac_sym, ac_len = ac_lut
        sh = pos & 7
        w40 = from_bytes(buf[pos >> 3 : (pos >> 3) + 5], "big")
        code = (w40 >> (24 - sh)) & 0xFFFF
        cat = dc_sym[code]
        if cat < 0:
            raise ValueError("invalid Huffman code in scan")
        ln = dc_len[code]
        if cat:
            extra = (w40 >> (40 - sh - ln - cat)) & ((1 << cat) - 1)
            if extra >> (cat - 1) == 0:
                extra += 1 - (1 << cat)
            pred += extra
        pos += ln + cat
        row_out[base] = pred
        k = 1
        while k < 64:
            sh = pos & 7
            w40 = from_bytes(buf[pos >> 3 : (pos >> 3) + 5], "big")
            code = (w40 >> (24 - sh)) & 0xFFFF
            sym = ac_sym[code]
            if sym < 0:
                raise ValueError("invalid Huffman code in scan")
            ln = ac_len[code]
            pos += ln
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            k += sym >> 4
            cat = sym & 0x0F
            if k > 63:
                raise ValueError("AC run past end of block")
            extra = (w40 >> (40 - sh - ln - cat)) & ((1 << cat) - 1)
            if extra >> (cat - 1) == 0:
                extra += 1 - (1 << cat)
            row_out[base + k] = extra
            pos += cat
            k += 1
        return pred

    rows = {cid: outs[cid].reshape(-1) for cid in outs}
    for mi in range(mcu_start, mcu_start + mcu_count):
        my, mx = divmod(mi, mcu_x)
        for cid, hi, vi, dc_lut, ac_lut in scan_comps:
            bw_row = hi * mcu_x  # blocks per row for this component
            for by in range(vi):
                for bx in range(hi):
                    blk = (vi * my + by) * bw_row + (hi * mx + bx)
                    preds[cid] = one_block(
                        rows[cid], blk << 6, dc_lut, ac_lut, preds[cid]
                    )
    return outs


@corrupt_guard("jfif")
def decode_jfif(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> (planes, h, w) uint8.  Handles non-interleaved
    4:4:4 scans (any plane count) and the interleaved 4:2:0 (and general
    subsampled) layout of real camera files — chroma planes are
    nearest-neighbour upsampled back to (h, w)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, tuple[list[int], list[int]]] = {}
    huff_ac: dict[int, tuple[list[int], list[int]]] = {}
    h = w = 0
    ri = 0  # restart interval (DRI), MCUs between RSTm markers
    comps: list[tuple[int, int]] = []  # (component id, quant table id)
    planes: dict[int, np.ndarray] = {}
    progressive = False
    # progressive coefficient stores: cid -> flat (nblocks*64,) zigzag
    # int64 accumulated across scans, padded to the MCU grid; pgrids keeps
    # the component's own (unpadded) block grid for non-interleaved scans
    pcoefs: dict[int, np.ndarray] = {}
    pwidths: dict[int, int] = {}
    pheights: dict[int, int] = {}
    pgrids: dict[int, tuple[int, int]] = {}

    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables not supported")
                t = np.frombuffer(seg[off + 1 : off + 65], dtype=np.uint8).astype(np.int64)
                qtables[tq] = t[_UNZIG].reshape(8, 8)
                off += 65
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (identical scan
            # format at 8-bit) / SOF2 progressive
            prec, h, w, nf = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit sample precision not supported")
            progressive = marker == 0xC2
            comps = []
            for c in range(nf):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, tq, samp >> 4, samp & 0x0F))
            if progressive:
                hmax = max(c[2] for c in comps)
                vmax = max(c[3] for c in comps)
                mcu_y = -(-h // (8 * vmax))
                mcu_x = -(-w // (8 * hmax))
                for cid, _tq, hi, vi in comps:
                    nby, nbx = vi * mcu_y, hi * mcu_x
                    pcoefs[cid] = np.zeros(nby * nbx * 64, dtype=np.int64)
                    pwidths[cid], pheights[cid] = nbx, nby
                    pgrids[cid] = (
                        -(-(h * vi) // (8 * vmax)),
                        -(-(w * hi) // (8 * hmax)),
                    )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "only baseline/extended sequential (SOF0/SOF1) and "
                "progressive (SOF2) Huffman DCT supported"
            )
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = list(seg[off + 1 : off + 17])
                nv = sum(bits)
                vals = list(seg[off + 17 : off + 17 + nv])
                lut = _huff_decode_lut(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = lut
                off += 17 + nv
        elif marker == 0xDD:  # DRI
            (ri,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_hdr = [(seg[1 + 2 * i], seg[2 + 2 * i]) for i in range(ns)]
            # entropy data: up to the next marker (skipping stuffed FF 00
            # and fill bytes FF FF); RSTm markers split it into segments,
            # each a fresh byte-aligned stream with reset DC predictors
            start = pos + 2 + seglen
            cursor = start
            segments: list[bytes] = []
            chunks = []
            while cursor < len(data):
                b = data[cursor]
                if b == 0xFF:
                    nxt = data[cursor + 1]
                    if nxt == 0x00:
                        chunks.append(data[start:cursor + 1])  # keep the FF
                        cursor += 2
                        start = cursor
                        continue
                    if nxt == 0xFF:  # fill byte
                        chunks.append(data[start:cursor])
                        cursor += 1
                        start = cursor
                        continue
                    if 0xD0 <= nxt <= 0xD7:  # restart marker
                        chunks.append(data[start:cursor])
                        segments.append(b"".join(chunks))
                        chunks = []
                        cursor += 2
                        start = cursor
                        continue
                    chunks.append(data[start:cursor])
                    break
                cursor += 1
            segments.append(b"".join(chunks))
            scan = segments[0]
            if len(segments) > 1 and not ri:
                raise ValueError("RST markers in scan but no DRI segment")
            byid = {c[0]: c for c in comps}
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)

            if progressive:
                if ri or len(segments) > 1:
                    raise NotImplementedError(
                        "restart intervals in progressive scans not supported"
                    )
                Ss, Se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                Ah, Al = ahal >> 4, ahal & 15
                if not ((Ss == 0 and Se == 0) or (1 <= Ss <= Se <= 63)):
                    raise ValueError(f"bad progressive spectral band {Ss}..{Se}")
                bits = _ScanBits(scan)
                if Ss == 0:  # DC scan (interleaved or single-component)
                    if ns == 1:
                        cid, tda = scan_hdr[0]
                        sc = [(cid, 1, 1, huff_dc.get(tda >> 4))]
                        my, mx = pgrids[cid]
                    else:
                        sc = [
                            (cid, byid[cid][2], byid[cid][3], huff_dc.get(tda >> 4))
                            for cid, tda in scan_hdr
                        ]
                        my = -(-h // (8 * vmax))
                        mx = -(-w // (8 * hmax))
                    _prog_dc_scan(bits, sc, pcoefs, pwidths, Ah, Al, my, mx)
                else:  # AC scans are non-interleaved by spec
                    if ns != 1:
                        raise ValueError("progressive AC scan with Ns > 1")
                    cid, tda = scan_hdr[0]
                    row = pcoefs[cid]
                    lut = huff_ac[tda & 0x0F]
                    stride = pwidths[cid]
                    ch, cw = pgrids[cid]
                    eob = 0
                    fn = _prog_ac_first if Ah == 0 else _prog_ac_refine
                    for by in range(ch):
                        for bx in range(cw):
                            eob = fn(
                                bits, row, (by * stride + bx) << 6,
                                lut, Ss, Se, Al, eob,
                            )
                pos = cursor
                continue

            def idct_plane(zz: np.ndarray, tq: int, nby: int, nbx: int) -> np.ndarray:
                nb = nby * nbx
                coeffs = np.zeros((nb, 64), dtype=np.float64)
                coeffs[:, ZIG] = zz.astype(np.float64)
                coeffs = coeffs.reshape(nb, 8, 8) * qtables[tq]
                spatial = np.einsum("ji,bjk,kl->bil", _D, coeffs, _D, optimize=True)
                full = (
                    spatial.reshape(nby, nbx, 8, 8)
                    .transpose(0, 2, 1, 3)
                    .reshape(nby * 8, nbx * 8)
                )
                return np.clip(np.round(full + 128.0), 0, 255).astype(np.uint8)

            if ns == 1:
                cid, tda = scan_hdr[0]
                # non-interleaved scan: this component's own full block grid
                _c, tq, hi, vi = byid[cid]
                ch = -(-(h * vi) // (8 * vmax))
                cw = -(-(w * hi) // (8 * hmax))
                dcl, acl = huff_dc[tda >> 4], huff_ac[tda & 0x0F]
                if len(segments) == 1:
                    zz = _decode_scan(scan, ch * cw, dcl, acl)
                else:  # Ri blocks per RST-delimited segment (MCU = 1 block)
                    parts, left = [], ch * cw
                    for sgm in segments:
                        nb = min(ri, left)
                        parts.append(_decode_scan(sgm, nb, dcl, acl))
                        left -= nb
                    zz = np.vstack(parts)
                planes[cid] = idct_plane(zz, tq, ch, cw)
            else:
                mcu_y = -(-h // (8 * vmax))
                mcu_x = -(-w // (8 * hmax))
                scan_comps = []
                for cid, tda in scan_hdr:
                    _c, tq, hi, vi = byid[cid]
                    scan_comps.append(
                        (cid, hi, vi, huff_dc[tda >> 4], huff_ac[tda & 0x0F])
                    )
                if len(segments) == 1:
                    blocks = _decode_scan_interleaved(scan, mcu_y, mcu_x, scan_comps)
                else:
                    blocks = None
                    startm = 0
                    for sgm in segments:
                        n = min(ri, mcu_y * mcu_x - startm)
                        blocks = _decode_scan_interleaved(
                            sgm, mcu_y, mcu_x, scan_comps,
                            mcu_start=startm, mcu_count=n, outs=blocks,
                        )
                        startm += n
                for cid, hi, vi, _d, _a in scan_comps:
                    tq = byid[cid][1]
                    planes[cid] = idct_plane(blocks[cid], tq, vi * mcu_y, hi * mcu_x)
            pos = cursor
            continue
        pos += 2 + seglen

    if not comps:
        raise ValueError("no SOF frame found")
    if progressive:
        # all scans accumulated into pcoefs: dequantize + IDCT once
        for cid, tq, _hi, _vi in comps:
            nby, nbx = pheights[cid], pwidths[cid]
            nb = nby * nbx
            zz = pcoefs[cid].reshape(nb, 64)
            co = np.zeros((nb, 64), dtype=np.float64)
            co[:, ZIG] = zz.astype(np.float64)
            co = co.reshape(nb, 8, 8) * qtables[tq]
            spatial = np.einsum("ji,bjk,kl->bil", _D, co, _D, optimize=True)
            full = (
                spatial.reshape(nby, nbx, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(nby * 8, nbx * 8)
            )
            planes[cid] = np.clip(np.round(full + 128.0), 0, 255).astype(np.uint8)
    missing = [c[0] for c in comps if c[0] not in planes]
    if missing:
        raise ValueError(f"missing scans for components {missing}")
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    out_planes = []
    for cid, _tq, hi, vi in comps:
        pl = planes[cid]
        if hi != hmax or vi != vmax:
            # nearest-neighbour chroma upsampling back to full resolution
            pl = np.repeat(np.repeat(pl, vmax // vi, axis=0), hmax // hi, axis=1)
        out_planes.append(pl[:h, :w])
    return np.stack(out_planes)
