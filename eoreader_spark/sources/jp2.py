"""JPEG 2000 (JP2 / raw codestream) support in pure numpy.

The reference's Sentinel-2 bands live in JP2 files
(/root/reference/eoreader/products/optical/s2_product.py:592 globs *.jp2 and
reads them through rasterio/GDAL/OpenJPEG).  This module implements, from
the PUBLIC ISO/IEC 15444-1 (ITU-T T.800) spec:

- the JP2 container box walk (jP/ftyp/jp2h/ihdr/jp2c) and the codestream
  main-header markers (SIZ/COD/QCD) -> image + coding metadata
- a REAL codec for the profiles this engine writes: lossless (reversible
  5/3 wavelet, no-quantization QCD) and lossy (irreversible CDF 9/7
  lifting, Annex F.4.8, with Annex E scalar deadzone quantization, derived
  or expounded), code-blocks up to 64x64, MQ arithmetic coding with the
  standard three coding passes per bit-plane (significance propagation,
  magnitude refinement, cleanup), tag-tree packet headers
- MULTI-TILE codestreams (one independently-coded SOT/SOD tile-part per
  tile on the B.3 grid) with a seek-based byte index (jp2_file_index /
  jp2_tile_index) and per-tile decode (decode_jp2(tile_idx=),
  decode_jp2_part) — the unit of tile-parallel scene decode across
  executors (operators/raster.jp2_scene_tiles)
- round 5, the real-Sentinel-2 Kakadu wire options: user-defined PRECINCTS
  (B.6 resolution-grid cells, per-precinct tag-trees, precinct-clamped
  effective code-block sizes), MULTIPLE QUALITY LAYERS (general layered
  decode — contributions accumulate per code-block across packets; the
  encoder first-includes each block in one layer), ALL FIVE progression
  orders (LRCP / RLCP / RPCL plus the PCRL / CPRL cross-resolution
  precinct-position walk, B.12.1.4/5), SOP / EPH packet markers, and the
  code-block style flags — selective arithmetic-coding BYPASS (0x01, raw
  SPP/MRP from the 5th bit-plane with multi-codeword-segment packet
  lengths), reset-context-per-pass (0x02), TERMALL (0x04, one terminated
  segment per pass), vertically-causal contexts (0x08), segmentation
  symbols (0x20, verified on decode as an error-resilience check)

- ROI (RGN marker, Srgn=0 max-shift method): the encoder scales the ROI's
  wavelet coefficients above every background magnitude, the decoder
  separates them by magnitude alone — lossless on the reversible path
  (lossy ROI would need guard-bit escalation and raises)

Scope note (honest): ISO 15444-1 (Part 1) defines exactly ONE ROI method
— max-shift, Srgn=0 — which is implemented; other Srgn values are
reserved in Part 1 (scaling-based ROI is Part 2, out of every mainstream
profile incl. Sentinel-2's) and raise with the style named.  Mid-codeword
layer truncation from rate control decodes at packet granularity (absent
trailing passes reconstruct coarser, as any conforming decoder does);
the engine's own encoder never length-truncates.  parse_jp2 still
returns metadata for out-of-profile streams.  Predictable termination (0x10) is in profile as of round
6: decode enforces the <=2-unread-bytes-per-segment error check, encode
records the flag (its flush is already the full non-truncated C.2.9
sequence).  Precinct/block partitions use tile-local origin-0 arithmetic
(the engine's profile, matching its per-tile wavelet replay).
"""

from __future__ import annotations

import struct

import numpy as np

from eoreader_spark.codecs import corrupt_guard

# ------------------------------------------------------------ metadata parse
_SOC, _SIZ, _COD, _QCD, _SOT, _SOD, _EOC = (
    0xFF4F, 0xFF51, 0xFF52, 0xFF5C, 0xFF90, 0xFF93, 0xFFD9,
)


def parse_codestream_header(data: bytes) -> dict:
    """Raw codestream (starts FF4F) -> SIZ/COD/QCD metadata dict."""
    if data[:2] != b"\xff\x4f":
        raise ValueError("not a JPEG 2000 codestream (missing SOC)")
    pos = 2
    meta: dict = {}
    while pos + 4 <= len(data):
        (marker,) = struct.unpack(">H", data[pos : pos + 2])
        if marker == _SOT:
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == _SIZ:
            (rsiz, xsiz, ysiz, xo, yo, xt, yt, xto, yto, csiz) = struct.unpack(
                ">HIIIIIIIIH", seg[:36]
            )
            comps = []
            for c in range(csiz):
                ssiz, xr, yr = seg[36 + 3 * c : 39 + 3 * c]
                comps.append(
                    {
                        "depth": (ssiz & 0x7F) + 1,
                        "signed": bool(ssiz & 0x80),
                        "dx": xr,
                        "dy": yr,
                    }
                )
            meta.update(
                w=xsiz - xo, h=ysiz - yo, tile_w=xt, tile_h=yt,
                n_components=csiz, components=comps, profile=rsiz,
            )
        elif marker == _COD:
            scod = seg[0]
            prog, layers, mct = struct.unpack(">BHB", seg[1:5])
            levels = seg[5]
            cbw = 1 << ((seg[6] & 0x0F) + 2)
            cbh = 1 << ((seg[7] & 0x0F) + 2)
            cbstyle = seg[8]
            wavelet = seg[9]  # 0 = 9/7 irreversible, 1 = 5/3 reversible
            # Scod bit 0: user-defined precincts -> (levels+1) bytes of
            # (PPy << 4) | PPx exponents, one per resolution r=0..levels
            precincts = None
            if scod & 0x01:
                precincts = [
                    (b & 0x0F, b >> 4) for b in seg[10 : 10 + levels + 1]
                ]  # (PPx, PPy) per resolution
            meta.update(
                progression=["LRCP", "RLCP", "RPCL", "PCRL", "CPRL"][prog],
                n_layers=layers, mct=mct, dwt_levels=levels,
                cb_w=cbw, cb_h=cbh, cb_style=cbstyle,
                wavelet="5/3" if wavelet == 1 else "9/7",
                precincts=precincts,
                use_sop=bool(scod & 0x02), use_eph=bool(scod & 0x04),
            )
        pos += 2 + seglen
    if "w" not in meta:
        raise ValueError("no SIZ marker in codestream")
    return meta


@corrupt_guard("jp2")
def parse_jp2(data: bytes) -> dict:
    """JP2 container OR raw codestream -> metadata dict (S1 detection +
    load planning read this; decode_jp2 decodes the engine's own profile)."""
    if data[:2] == b"\xff\x4f":
        return parse_codestream_header(data)
    if data[4:8] != b"jP  " or data[:4] != b"\x00\x00\x00\x0c":
        raise ValueError("not a JP2 file (missing signature box)")
    pos = 0
    cs = None
    meta: dict = {}
    while pos + 8 <= len(data):
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        if size == 0:
            size = len(data) - pos
        if btype == b"jp2h":
            ipos = body
            while ipos + 8 <= pos + size:
                (isz,) = struct.unpack(">I", data[ipos : ipos + 4])
                ityp = data[ipos + 4 : ipos + 8]
                if ityp == b"ihdr":
                    hh, ww, nc = struct.unpack(">IIH", data[ipos + 8 : ipos + 18])
                    meta.update(ihdr_h=hh, ihdr_w=ww, ihdr_components=nc)
                ipos += max(isz, 8)
        elif btype == b"jp2c":
            cs = data[body : pos + size]
            meta["cs_offset"] = body  # from the box walk, not substring search
        pos += size
    if cs is None:
        raise ValueError("no jp2c codestream box in JP2 container")
    meta.update(parse_codestream_header(cs))
    meta["codestream"] = cs
    return meta


# ------------------------------------------------------------- 5/3 lifting
def _fwd53_1d(s: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Reversible 5/3 forward lifting along the last axis (T.800 Annex F):
    d[n] = x[2n+1] - floor((x[2n] + x[2n+2]) / 2)
    a[n] = x[2n]   + floor((d[n-1] + d[n] + 2) / 4), symmetric extension."""
    x = s.astype(np.int64)
    n = x.shape[-1]
    if n == 1:
        return x.copy(), x[..., :0]
    even = x[..., 0::2]
    odd = x[..., 1::2]
    right = x[..., 2::2]
    if right.shape[-1] < odd.shape[-1]:  # odd length: extend symmetrically
        right = np.concatenate([right, even[..., -1:]], axis=-1)
    d = odd - ((even[..., : odd.shape[-1]] + right) >> 1)
    dl = np.concatenate([d[..., :1], d], axis=-1)[..., : even.shape[-1]]
    dr = np.concatenate([d, d[..., -1:]], axis=-1)[..., : even.shape[-1]]
    a = even + ((dl + dr + 2) >> 2)
    return a, d


def _inv53_1d(a: np.ndarray, d: np.ndarray, n: int) -> np.ndarray:
    """Inverse of _fwd53_1d; n = original length."""
    a = a.astype(np.int64)
    d = d.astype(np.int64)
    if n == 1:
        return a.copy()
    dl = np.concatenate([d[..., :1], d], axis=-1)[..., : a.shape[-1]]
    dr = np.concatenate([d, d[..., -1:]], axis=-1)[..., : a.shape[-1]]
    even = a - ((dl + dr + 2) >> 2)
    er = np.concatenate([even[..., 1:], even[..., -1:]], axis=-1)[..., : d.shape[-1]]
    odd = d + ((even[..., : d.shape[-1]] + er) >> 1)
    out = np.empty(a.shape[:-1] + (n,), dtype=np.int64)
    out[..., 0::2] = even[..., : (n + 1) // 2]
    out[..., 1::2] = odd[..., : n // 2]
    return out


def fwd_dwt53(img: np.ndarray, levels: int) -> list[dict]:
    """2-D reversible 5/3 DWT -> [{'LL' only at the last entry}, {'HL','LH','HH'}...]
    Returns subbands coarsest-first: [LL, (HL,LH,HH) level L, ..., level 1]."""
    ll = img.astype(np.int64)
    details = []
    for _ in range(levels):
        a, d = _fwd53_1d(ll)  # along x
        aa, ad = _fwd53_1d(a.swapaxes(-1, -2))
        da, dd = _fwd53_1d(d.swapaxes(-1, -2))
        ll = aa.swapaxes(-1, -2)
        details.append(
            {
                "HL": da.swapaxes(-1, -2),
                "LH": ad.swapaxes(-1, -2),
                "HH": dd.swapaxes(-1, -2),
            }
        )
    return [{"LL": ll}] + details[::-1]


def inv_dwt53(bands: list[dict], shape: tuple[int, int]) -> np.ndarray:
    """Inverse of fwd_dwt53 back to ``shape``."""
    h, w = shape
    # per-level shapes replay the forward split arithmetic
    shapes = [(h, w)]
    for _ in range(len(bands) - 1):
        hh, ww = shapes[-1]
        shapes.append(((hh + 1) // 2, (ww + 1) // 2))
    ll = bands[0]["LL"]
    for lev in range(len(bands) - 1, 0, -1):
        th, tw = shapes[lev - 1]
        det = bands[len(bands) - lev]
        a = _inv53_1d(
            ll.swapaxes(-1, -2), det["LH"].swapaxes(-1, -2), th
        ).swapaxes(-1, -2)
        d = _inv53_1d(
            det["HL"].swapaxes(-1, -2), det["HH"].swapaxes(-1, -2), th
        ).swapaxes(-1, -2)
        ll = _inv53_1d(a, d, tw)
    return ll


# ------------------------------------------------------------- 9/7 lifting
# ISO/IEC 15444-1 Annex F.4.8: the irreversible (lossy) CDF 9/7 filter as
# four lifting steps + the K scaling pair.  Whole-sample symmetric
# extension at both ends, float64 throughout.
_A97 = -1.586134342059924   # step 1 (predict)
_B97 = -0.052980118572961   # step 2 (update)
_G97 = 0.882911075530934    # step 3 (predict)
_D97 = 0.443506852043971    # step 4 (update)
_K97 = 1.230174104914001    # lowpass *= 1/K, highpass *= K


def _lift_odd97(even: np.ndarray, odd: np.ndarray, coef: float) -> np.ndarray:
    """odd[n] += coef * (even[n] + even[n+1]); even[n+1] mirrors to even[n]
    at the right edge (whole-sample symmetric extension)."""
    right = np.concatenate([even[..., 1:], even[..., -1:]], axis=-1)
    right = right[..., : odd.shape[-1]]
    return odd + coef * (even[..., : odd.shape[-1]] + right)


def _lift_even97(even: np.ndarray, odd: np.ndarray, coef: float) -> np.ndarray:
    """even[n] += coef * (odd[n-1] + odd[n]); odd[-1] mirrors to odd[0] at
    the left edge, odd[n] mirrors to odd[n-1] at the right (odd lengths)."""
    dl = np.concatenate([odd[..., :1], odd], axis=-1)[..., : even.shape[-1]]
    dr = np.concatenate([odd, odd[..., -1:]], axis=-1)[..., : even.shape[-1]]
    return even + coef * (dl + dr)


def _fwd97_1d(s: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Irreversible 9/7 forward lifting along the last axis."""
    x = s.astype(np.float64)
    if x.shape[-1] == 1:
        return x.copy(), x[..., :0]
    even, odd = x[..., 0::2], x[..., 1::2]
    odd = _lift_odd97(even, odd, _A97)
    even = _lift_even97(even, odd, _B97)
    odd = _lift_odd97(even, odd, _G97)
    even = _lift_even97(even, odd, _D97)
    return even * (1.0 / _K97), odd * _K97


def _inv97_1d(a: np.ndarray, d: np.ndarray, n: int) -> np.ndarray:
    """Inverse of _fwd97_1d; n = original length."""
    if n == 1:
        return a.astype(np.float64).copy()  # fwd passes singletons through
    even = a.astype(np.float64) * _K97
    odd = d.astype(np.float64) * (1.0 / _K97)
    even = _lift_even97(even, odd, -_D97)
    odd = _lift_odd97(even, odd, -_G97)
    even = _lift_even97(even, odd, -_B97)
    odd = _lift_odd97(even, odd, -_A97)
    out = np.empty(a.shape[:-1] + (n,), dtype=np.float64)
    out[..., 0::2] = even[..., : (n + 1) // 2]
    out[..., 1::2] = odd[..., : n // 2]
    return out


def fwd_dwt97(img: np.ndarray, levels: int) -> list[dict]:
    """2-D irreversible 9/7 DWT, same subband layout as fwd_dwt53
    (coarsest-first), float64 coefficients."""
    ll = img.astype(np.float64)
    details = []
    for _ in range(levels):
        a, d = _fwd97_1d(ll)  # along x
        aa, ad = _fwd97_1d(a.swapaxes(-1, -2))
        da, dd = _fwd97_1d(d.swapaxes(-1, -2))
        ll = aa.swapaxes(-1, -2)
        details.append(
            {
                "HL": da.swapaxes(-1, -2),
                "LH": ad.swapaxes(-1, -2),
                "HH": dd.swapaxes(-1, -2),
            }
        )
    return [{"LL": ll}] + details[::-1]


def inv_dwt97(bands: list[dict], shape: tuple[int, int]) -> np.ndarray:
    """Inverse of fwd_dwt97 back to ``shape`` (float64)."""
    h, w = shape
    shapes = [(h, w)]
    for _ in range(len(bands) - 1):
        hh, ww = shapes[-1]
        shapes.append(((hh + 1) // 2, (ww + 1) // 2))
    ll = bands[0]["LL"]
    for lev in range(len(bands) - 1, 0, -1):
        th, tw = shapes[lev - 1]
        det = bands[len(bands) - lev]
        a = _inv97_1d(
            ll.swapaxes(-1, -2), det["LH"].swapaxes(-1, -2), th
        ).swapaxes(-1, -2)
        d = _inv97_1d(
            det["HL"].swapaxes(-1, -2), det["HH"].swapaxes(-1, -2), th
        ).swapaxes(-1, -2)
        ll = _inv97_1d(a, d, tw)
    return ll


# ------------------------------------------------------------- MQ coder
# ISO 15444-1 Annex C (shared with ITU-T T.88): 47-state probability table
# (Qe, NMPS, NLPS, SWITCH) and the software-conventions encoder/decoder.
_MQ = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0), (0x0AC1, 4, 12, 0),
    (0x0521, 5, 29, 0), (0x0221, 38, 33, 0), (0x5601, 7, 6, 1), (0x5401, 8, 14, 0),
    (0x4801, 9, 14, 0), (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1), (0x5401, 16, 14, 0),
    (0x5101, 17, 15, 0), (0x4801, 18, 16, 0), (0x3801, 19, 17, 0), (0x3401, 20, 18, 0),
    (0x3001, 21, 19, 0), (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0), (0x1401, 28, 25, 0),
    (0x1201, 29, 26, 0), (0x1101, 30, 27, 0), (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0),
    (0x08A1, 33, 30, 0), (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0), (0x0085, 40, 37, 0),
    (0x0049, 41, 38, 0), (0x0025, 42, 39, 0), (0x0015, 43, 40, 0), (0x0009, 44, 41, 0),
    (0x0005, 45, 42, 0), (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]


class MQEncoder:
    """Annex C.2 encoder (software conventions).  Context state lives in
    the caller-supplied arrays so Tier-1 owns the 19 JPEG2000 contexts."""

    def __init__(self, n_ctx: int) -> None:
        self.I = [0] * n_ctx
        self.MPS = [0] * n_ctx
        self.A = 0x8000
        self.C = 0
        self.CT = 12
        self.B: list[int] = []  # output bytes; B[-1] is the spec's B register

    def encode(self, cx: int, d: int) -> None:
        qe, nmps, nlps, switch = _MQ[self.I[cx]]
        if d == self.MPS[cx]:
            self.A -= qe
            if self.A & 0x8000:
                self.C += qe
                return
            if self.A < qe:
                self.A = qe
            else:
                self.C += qe
            self.I[cx] = nmps
            self._renorm()
        else:
            self.A -= qe
            if self.A < qe:
                self.C += qe
            else:
                self.A = qe
            if switch:
                self.MPS[cx] ^= 1
            self.I[cx] = nlps
            self._renorm()

    def _renorm(self) -> None:
        while True:
            self.A = (self.A << 1) & 0xFFFF
            self.C = (self.C << 1) & 0xFFFFFFFF
            self.CT -= 1
            if self.CT == 0:
                self._byteout()
            if self.A & 0x8000:
                break

    def _byteout(self) -> None:
        if self.B and self.B[-1] == 0xFF:
            self.B.append((self.C >> 20) & 0xFF)
            self.C &= 0xFFFFF
            self.CT = 7
        else:
            if self.C < 0x8000000:
                self.B.append((self.C >> 19) & 0xFF)
                self.C &= 0x7FFFF
                self.CT = 8
            else:
                if self.B:
                    self.B[-1] += 1
                    if self.B[-1] == 0x100:  # cascade impossible per spec
                        raise AssertionError("carry out of buffer")
                if self.B and self.B[-1] == 0xFF:
                    self.C &= 0x7FFFFFF
                    self.B.append((self.C >> 20) & 0xFF)
                    self.C &= 0xFFFFF
                    self.CT = 7
                else:
                    self.B.append((self.C >> 19) & 0xFF)
                    self.C &= 0x7FFFF
                    self.CT = 8

    def flush(self) -> bytes:
        # SETBITS
        tempc = self.C + self.A
        self.C |= 0xFFFF
        if self.C >= tempc:
            self.C -= 0x8000
        self.C = (self.C << self.CT) & 0xFFFFFFFF
        self._byteout()
        self.C = (self.C << self.CT) & 0xFFFFFFFF
        self._byteout()
        # drop a trailing 0xFF (the decoder feeds 1-bits past the data)
        if self.B and self.B[-1] == 0xFF:
            self.B.pop()
        return bytes(self.B)


class MQDecoder:
    """Annex C.3 decoder (software conventions)."""

    def __init__(self, data: bytes, n_ctx: int) -> None:
        self.data = data
        self.I = [0] * n_ctx
        self.MPS = [0] * n_ctx
        self.BP = 0
        b0 = data[0] if data else 0xFF
        self.C = b0 << 16
        self._bytein()
        self.C = (self.C << 7) & 0xFFFFFFFF
        self.CT -= 7
        self.A = 0x8000

    def _bytein(self) -> None:
        d = self.data
        if self.BP < len(d) and d[self.BP] == 0xFF:
            if self.BP + 1 >= len(d) or d[self.BP + 1] > 0x8F:
                self.C += 0xFF00
                self.CT = 8
            else:
                self.BP += 1
                self.C += d[self.BP] << 9
                self.CT = 7
        else:
            self.BP += 1
            if self.BP < len(d):
                self.C += d[self.BP] << 8
            else:
                self.C += 0xFF00
            self.CT = 8

    def decode(self, cx: int) -> int:
        qe, nmps, nlps, switch = _MQ[self.I[cx]]
        self.A -= qe
        if ((self.C >> 16) & 0xFFFF) < qe:
            # LPS exchange path
            if self.A < qe:
                d = self.MPS[cx]
                self.I[cx] = nmps
            else:
                d = 1 - self.MPS[cx]
                if switch:
                    self.MPS[cx] ^= 1
                self.I[cx] = nlps
            self.A = qe
            self._renorm()
        else:
            self.C = (self.C - (qe << 16)) & 0xFFFFFFFF
            if (self.A & 0x8000) == 0:
                if self.A < qe:
                    d = 1 - self.MPS[cx]
                    if switch:
                        self.MPS[cx] ^= 1
                    self.I[cx] = nlps
                else:
                    d = self.MPS[cx]
                    self.I[cx] = nmps
                self._renorm()
            else:
                d = self.MPS[cx]
        return d

    def _renorm(self) -> None:
        while True:
            if self.CT == 0:
                self._bytein()
            self.A = (self.A << 1) & 0xFFFF
            self.C = (self.C << 1) & 0xFFFFFFFF
            self.CT -= 1
            if self.A & 0x8000:
                break


# ---------------------------------------------------------------- Tier-1
# EBCOT code-block bit-plane coder (T.800 Annex D): 19 contexts — 0-8 zero
# coding, 9-13 sign coding, 14-16 magnitude refinement, 17 run-length,
# 18 uniform.  Context state init per Table D-7: ctx0 -> state 4, RL -> 3,
# UNIFORM -> 46, rest 0.
N_CTX = 19
_CTX_RL, _CTX_UNI = 17, 18


def _init_states(coder) -> None:
    coder.I[0] = 4
    coder.I[_CTX_RL] = 3
    coder.I[_CTX_UNI] = 46


def _zc_context(band: str, H: int, V: int, D: int) -> int:
    """Zero-coding context from significant-neighbour counts (Table D-1)."""
    if band == "HL":  # transposed roles
        H, V = V, H
    if band in ("LL", "LH", "HL"):
        if H == 2:
            return 8
        if H == 1:
            return 7 if V >= 1 else (6 if D >= 1 else 5)
        if V == 2:
            return 4
        if V == 1:
            return 3
        return 2 if D >= 2 else (1 if D == 1 else 0)
    # HH
    if D >= 3:
        return 8
    if D == 2:
        return 7 if H + V >= 1 else 6
    if D == 1:
        return 5 if H + V >= 2 else (4 if H + V == 1 else 3)
    return 2 if H + V >= 2 else (1 if H + V == 1 else 0)


# sign-coding context + XOR bit from clamped neighbour sign contributions
_SC = {
    (1, 1): (13, 0), (1, 0): (12, 0), (1, -1): (11, 0),
    (0, 1): (10, 0), (0, 0): (9, 0), (0, -1): (10, 1),
    (-1, 1): (11, 1), (-1, 0): (12, 1), (-1, -1): (13, 1),
}


class _BlockCoder:
    """Shared scan/neighbourhood machinery for encode/decode of one
    code-block (sign-magnitude plane coding, three passes per plane)."""

    def __init__(self, h: int, w: int, band: str, causal: bool = False) -> None:
        self.h, self.w, self.band = h, w, band
        self.causal = causal  # vertically-causal contexts (style bit 0x08)
        # 1-padded state grids: significance and sign (0 pos / 1 neg)
        self.sig = np.zeros((h + 2, w + 2), dtype=np.uint8)
        self.sgn = np.zeros((h + 2, w + 2), dtype=np.uint8)
        self.refined = np.zeros((h, w), dtype=bool)   # had a refinement pass
        self.in_spp = np.zeros((h, w), dtype=bool)    # coded in current SPP

    def _counts(self, y: int, x: int) -> tuple[int, int, int]:
        s = self.sig
        yy, xx = y + 1, x + 1
        # vertically-causal mode: the row below the current 4-row stripe is
        # treated as insignificant (D.6 / cb_style 0x08)
        below = 0 if (self.causal and (y & 3) == 3) else 1
        H = int(s[yy, xx - 1]) + int(s[yy, xx + 1])
        V = int(s[yy - 1, xx]) + below * int(s[yy + 1, xx])
        D = (
            int(s[yy - 1, xx - 1]) + int(s[yy - 1, xx + 1])
            + below * (int(s[yy + 1, xx - 1]) + int(s[yy + 1, xx + 1]))
        )
        return H, V, D

    def _sign_ctx(self, y: int, x: int) -> tuple[int, int]:
        s, g = self.sig, self.sgn
        yy, xx = y + 1, x + 1
        below = 0 if (self.causal and (y & 3) == 3) else 1

        def contrib(sy, sx):
            if not s[sy, sx]:
                return 0
            return -1 if g[sy, sx] else 1

        Hc = max(-1, min(1, contrib(yy, xx - 1) + contrib(yy, xx + 1)))
        Vc = max(-1, min(1, contrib(yy - 1, xx) + below * contrib(yy + 1, xx)))
        return _SC[(Hc, Vc)]

    def _mr_ctx(self, y: int, x: int) -> int:
        if self.refined[y, x]:
            return 16
        H, V, D = self._counts(y, x)
        return 15 if H + V + D > 0 else 14


def _pass_kind(i: int) -> str:
    """Global pass index -> 'spp' | 'mrp' | 'clean' (pass 0 is the MSB
    plane's cleanup; thereafter planes contribute spp, mrp, clean)."""
    return "clean" if i == 0 else ("spp", "mrp", "clean")[(i - 1) % 3]


def _segments_for(start: int, n: int, cb_style: int) -> list[int]:
    """Split passes [start, start+n) into codeword segments -> pass counts
    per segment (B.10.7.5).  termall (0x04): every pass terminates.
    bypass (0x01): SPP/MRP of the 5th and later bit-planes (global pass
    index >= 10) are raw; the MQ codeword terminates around each raw
    SPP+MRP pair.  Neither: one continuous segment."""
    if cb_style & 0x04:
        return [1] * n
    if not (cb_style & 0x01):
        return [n]
    out: list[int] = []
    cur = 0
    cur_raw = None
    for i in range(start, start + n):
        raw = _pass_kind(i) != "clean" and i >= 10
        if cur and raw != cur_raw:
            out.append(cur)
            cur = 0
        cur += 1
        cur_raw = raw
    if cur:
        out.append(cur)
    return out


def encode_codeblock_segments(
    coeffs: np.ndarray, band: str, cb_style: int = 0
) -> tuple[list[tuple[bytes, int]], int]:
    """Code-block int coefficients -> ([(codeword-segment bytes, passes)],
    numbps).  All-zero blocks are coded with numbps=1 (one cleanup pass of
    zeros).

    ``cb_style`` (COD code-block style flags, round 5): 0x01 selective
    arithmetic-coding BYPASS (raw SPP/MRP from the 5th bit-plane on, raw
    segments use the packet-header FF-stuffing rule), 0x02 reset context
    states at each pass, 0x04 TERMALL (every pass terminates its segment),
    0x08 vertically-causal contexts, 0x10 predictable termination (round
    6: this encoder's flush IS the full non-truncated C.2.9 sequence —
    the flag records that no length truncation was applied, and the
    decoder enforces the <=2-unread-bytes-per-segment property as an
    error check), 0x20 segmentation symbols after each cleanup pass."""
    h, w = coeffs.shape
    mag = np.abs(coeffs).astype(np.int64)
    numbps = max(int(mag.max()).bit_length(), 1)
    bypass = bool(cb_style & 0x01)
    reset = bool(cb_style & 0x02)
    segsym = bool(cb_style & 0x20)
    st = _BlockCoder(h, w, band, causal=bool(cb_style & 0x08))
    enc = MQEncoder(N_CTX)
    _init_states(enc)
    sgn_in = (coeffs < 0).astype(np.uint8)
    n_passes = 3 * numbps - 2

    plan = _segments_for(0, n_passes, cb_style)
    seg_iter = iter(plan)
    seg_target = next(seg_iter)
    segs: list[tuple[bytes, int]] = []
    passes_in_seg = 0
    raw: _HeaderBits | None = None

    def end_pass() -> None:
        """Advance the pass counter; close the codeword segment at a plan
        boundary."""
        nonlocal enc, raw, passes_in_seg, seg_target, pass_idx
        pass_idx += 1
        passes_in_seg += 1
        if passes_in_seg != seg_target:
            return
        if raw is not None:
            segs.append((raw.flush(), passes_in_seg))
            raw = None
        else:
            states = (enc.I[:], enc.MPS[:])
            segs.append((enc.flush(), passes_in_seg))
            enc = MQEncoder(N_CTX)
            enc.I, enc.MPS = states  # contexts persist across terminations
        passes_in_seg = 0
        seg_target = next(seg_iter, None)

    pass_idx = 0
    for plane in range(numbps - 1, -1, -1):
        bit = ((mag >> plane) & 1).astype(np.uint8)
        first = plane == numbps - 1
        st.in_spp[:] = False
        if not first:
            raw_now = bypass and pass_idx >= 10
            if raw_now and raw is None:
                raw = _HeaderBits()
            # pass 1: significance propagation
            if reset and not raw_now:
                _init_states(enc)
            for y0 in range(0, h, 4):
                for x in range(w):
                    for y in range(y0, min(y0 + 4, h)):
                        if st.sig[y + 1, x + 1]:
                            continue
                        H, V, D = st._counts(y, x)
                        if H + V + D == 0:
                            continue
                        st.in_spp[y, x] = True
                        b = int(bit[y, x])
                        if raw_now:
                            raw.put(b)
                            if b:  # raw sign: no neighbourhood prediction
                                raw.put(int(sgn_in[y, x]))
                                st.sig[y + 1, x + 1] = 1
                                st.sgn[y + 1, x + 1] = sgn_in[y, x]
                            continue
                        enc.encode(_zc_context(band, H, V, D), b)
                        if b:
                            ctx, xor = st._sign_ctx(y, x)
                            enc.encode(ctx, int(sgn_in[y, x]) ^ xor)
                            st.sig[y + 1, x + 1] = 1
                            st.sgn[y + 1, x + 1] = sgn_in[y, x]
            end_pass()
            # pass 2: magnitude refinement (significant BEFORE this plane)
            if raw_now and raw is None:  # termall closed the SPP segment
                raw = _HeaderBits()
            if reset and not raw_now:
                _init_states(enc)
            for y0 in range(0, h, 4):
                for x in range(w):
                    for y in range(y0, min(y0 + 4, h)):
                        if not st.sig[y + 1, x + 1] or st.in_spp[y, x]:
                            continue
                        # significant from an earlier plane?
                        if (mag[y, x] >> (plane + 1)) == 0:
                            continue  # became significant this plane (SPP)
                        if raw_now:
                            raw.put(int(bit[y, x]))
                        else:
                            enc.encode(st._mr_ctx(y, x), int(bit[y, x]))
                        st.refined[y, x] = True
            end_pass()
        # pass 3: cleanup (always MQ)
        if reset and not first:
            _init_states(enc)
        for y0 in range(0, h, 4):
            for x in range(w):
                y = y0
                ylim = min(y0 + 4, h)
                # run-length mode: full stripe column, all insignificant,
                # no significant neighbours, none coded this plane
                if ylim - y0 == 4 and not any(
                    st.sig[yy + 1, x + 1] or st.in_spp[yy, x]
                    or sum(st._counts(yy, x)) > 0
                    for yy in range(y0, ylim)
                ):
                    col_bits = [int(bit[yy, x]) for yy in range(y0, ylim)]
                    if not any(col_bits):
                        enc.encode(_CTX_RL, 0)
                        continue
                    enc.encode(_CTX_RL, 1)
                    fs = col_bits.index(1)
                    enc.encode(_CTX_UNI, fs >> 1)
                    enc.encode(_CTX_UNI, fs & 1)
                    y = y0 + fs
                    ctx, xor = st._sign_ctx(y, x)
                    enc.encode(ctx, int(sgn_in[y, x]) ^ xor)
                    st.sig[y + 1, x + 1] = 1
                    st.sgn[y + 1, x + 1] = sgn_in[y, x]
                    y += 1
                for yy in range(y, ylim):
                    if st.sig[yy + 1, x + 1] or st.in_spp[yy, x]:
                        continue
                    H, V, D = st._counts(yy, x)
                    b = int(bit[yy, x])
                    enc.encode(_zc_context(band, H, V, D), b)
                    if b:
                        ctx, xor = st._sign_ctx(yy, x)
                        enc.encode(ctx, int(sgn_in[yy, x]) ^ xor)
                        st.sig[yy + 1, x + 1] = 1
                        st.sgn[yy + 1, x + 1] = sgn_in[yy, x]
        if segsym:  # '1010' in the UNIFORM context after each cleanup pass
            for s in (1, 0, 1, 0):
                enc.encode(_CTX_UNI, s)
        end_pass()
    return segs, numbps


def decode_codeblock_segments(
    segs: list[tuple[bytes, int]], h: int, w: int, band: str, numbps: int,
    cb_style: int = 0,
) -> np.ndarray:
    """Inverse of encode_codeblock_segments -> int64 coefficients.
    ``segs`` = [(codeword-segment bytes, passes)] in coding order; MQ
    context states persist across terminated segments, raw segments use
    the FF-stuffing bit reader."""
    bypass = bool(cb_style & 0x01)
    reset = bool(cb_style & 0x02)
    segsym = bool(cb_style & 0x20)
    erterm = bool(cb_style & 0x10)
    st = _BlockCoder(h, w, band, causal=bool(cb_style & 0x08))
    mag = np.zeros((h, w), dtype=np.int64)
    became = np.zeros((h, w), dtype=np.int64)  # plane at which became significant
    n_passes = sum(p for _b, p in segs)

    # walk segments in step with the pass plan
    seg_list = list(segs)
    seg_pos = 0
    passes_left_in_seg = 0
    dec: MQDecoder | None = None
    raw: _HeaderBits | None = None
    states = None  # MQ context carry-over across terminated segments

    def check_erterm() -> None:
        """Predictable termination (0x10, Kakadu ERTERM): the encoder ends
        every codeword segment with the full non-truncated C.2.9 flush, so
        a correctly received MQ segment leaves at most 2 unconsumed bytes
        (the flush's own tail) in the decoder.  More bytes unread means the
        length in the packet header and the coded data disagree — the
        error-detection signal this style exists for (T.800 A.6.1/J.7)."""
        if not erterm or dec is None:
            return
        lag = len(dec.data) - dec.BP
        if lag > 2:
            raise ValueError(
                f"predictable-termination check failed: {lag} unread bytes "
                "in a terminated segment (corrupt or mis-lengthed scan)"
            )

    def begin_pass(raw_now: bool) -> None:
        nonlocal seg_pos, passes_left_in_seg, dec, raw, states
        if passes_left_in_seg == 0:
            if dec is not None:
                states = (dec.I[:], dec.MPS[:])
                check_erterm()
            data, p = seg_list[seg_pos]
            seg_pos += 1
            passes_left_in_seg = p
            if raw_now:
                raw = _HeaderBits(data)
                dec = None
            else:
                raw = None
                dec = MQDecoder(data, N_CTX)
                if states is None:
                    _init_states(dec)
                else:
                    dec.I, dec.MPS = states[0][:], states[1][:]
        passes_left_in_seg -= 1

    pass_idx = 0
    for plane in range(numbps - 1, -1, -1):
        first = plane == numbps - 1
        st.in_spp[:] = False
        if pass_idx >= n_passes:
            break  # truncated (layered) stream: remaining passes absent
        if not first:
            raw_now = bypass and pass_idx >= 10
            begin_pass(raw_now)
            pass_idx += 1
            if reset and not raw_now:
                _init_states(dec)
            for y0 in range(0, h, 4):
                for x in range(w):
                    for y in range(y0, min(y0 + 4, h)):
                        if st.sig[y + 1, x + 1]:
                            continue
                        H, V, D = st._counts(y, x)
                        if H + V + D == 0:
                            continue
                        st.in_spp[y, x] = True
                        if raw_now:
                            if raw.get():
                                s = raw.get()
                                mag[y, x] |= 1 << plane
                                became[y, x] = plane
                                st.sig[y + 1, x + 1] = 1
                                st.sgn[y + 1, x + 1] = s
                            continue
                        if dec.decode(_zc_context(band, H, V, D)):
                            ctx, xor = st._sign_ctx(y, x)
                            s = dec.decode(ctx) ^ xor
                            mag[y, x] |= 1 << plane
                            became[y, x] = plane
                            st.sig[y + 1, x + 1] = 1
                            st.sgn[y + 1, x + 1] = s
            if pass_idx >= n_passes:
                break
            begin_pass(raw_now)
            pass_idx += 1
            if reset and not raw_now:
                _init_states(dec)
            for y0 in range(0, h, 4):
                for x in range(w):
                    for y in range(y0, min(y0 + 4, h)):
                        if not st.sig[y + 1, x + 1] or st.in_spp[y, x]:
                            continue
                        if became[y, x] == plane:
                            continue
                        if raw_now:
                            if raw.get():
                                mag[y, x] |= 1 << plane
                        elif dec.decode(st._mr_ctx(y, x)):
                            mag[y, x] |= 1 << plane
                        st.refined[y, x] = True
            if pass_idx >= n_passes:
                break
        begin_pass(False)
        pass_idx += 1
        if reset and not first:
            _init_states(dec)
        for y0 in range(0, h, 4):
            for x in range(w):
                y = y0
                ylim = min(y0 + 4, h)
                if ylim - y0 == 4 and not any(
                    st.sig[yy + 1, x + 1] or st.in_spp[yy, x]
                    or sum(st._counts(yy, x)) > 0
                    for yy in range(y0, ylim)
                ):
                    if not dec.decode(_CTX_RL):
                        continue
                    fs = (dec.decode(_CTX_UNI) << 1) | dec.decode(_CTX_UNI)
                    y = y0 + fs
                    ctx, xor = st._sign_ctx(y, x)
                    s = dec.decode(ctx) ^ xor
                    mag[y, x] |= 1 << plane
                    became[y, x] = plane
                    st.sig[y + 1, x + 1] = 1
                    st.sgn[y + 1, x + 1] = s
                    y += 1
                for yy in range(y, ylim):
                    if st.sig[yy + 1, x + 1] or st.in_spp[yy, x]:
                        continue
                    H, V, D = st._counts(yy, x)
                    if dec.decode(_zc_context(band, H, V, D)):
                        ctx, xor = st._sign_ctx(yy, x)
                        s = dec.decode(ctx) ^ xor
                        mag[yy, x] |= 1 << plane
                        became[yy, x] = plane
                        st.sig[yy + 1, x + 1] = 1
                        st.sgn[yy + 1, x + 1] = s
        if segsym:  # error-resilience marker: must read back as '1010'
            got = tuple(dec.decode(_CTX_UNI) for _ in range(4))
            if got != (1, 0, 1, 0):
                raise ValueError("segmentation symbol mismatch (corrupt scan)")
    check_erterm()  # final segment's length must also agree
    out = mag.copy()
    neg = (st.sgn[1 : h + 1, 1 : w + 1] == 1) & (mag > 0)
    out[neg] = -out[neg]
    return out


# ---------------------------------------------------------------- Tier-2
class _HeaderBits:
    """Packet-header bit I/O with the FF-stuffing rule (B.10.1): after an
    0xFF byte only 7 bits follow (MSB stuffed as 0)."""

    def __init__(self, data: bytes | None = None) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0
        self.data = data
        self.pos = 0

    # -- write side
    def put(self, bit: int) -> None:
        if self.nbits == 0:  # decide this byte's width ONCE (7 after 0xFF)
            self.limit = 7 if (self.out and self.out[-1] == 0xFF) else 8
        self.acc = (self.acc << 1) | (bit & 1)
        self.nbits += 1
        if self.nbits == self.limit:
            self.out.append(self.acc)
            self.acc = 0
            self.nbits = 0

    def put_bits(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put((value >> i) & 1)

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc << (self.limit - self.nbits))
            self.acc = 0
            self.nbits = 0
        if self.out and self.out[-1] == 0xFF:  # cannot end a header on FF
            self.out.append(0)
        return bytes(self.out)

    # -- read side
    def get(self) -> int:
        if self.nbits == 0:
            prev_ff = self.pos > 0 and self.data[self.pos - 1] == 0xFF
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 7 if prev_ff else 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def get_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get()
        return v

    def align(self) -> int:
        """End-of-header: drop partial bits, return byte position (the
        stuffed byte after a trailing FF is consumed like the writer's)."""
        self.nbits = 0
        if self.pos > 0 and self.data[self.pos - 1] == 0xFF:
            self.pos += 1
        return self.pos


class TagTree:
    """B.10.2 tag tree over a w x h leaf grid (quad-tree of minima)."""

    def __init__(self, w: int, h: int) -> None:
        self.dims = []
        ww, hh = w, h
        while True:
            self.dims.append((ww, hh))
            if ww == 1 and hh == 1:
                break
            ww, hh = (ww + 1) // 2, (hh + 1) // 2
        self.low = [np.zeros((d[1], d[0]), dtype=np.int64) for d in self.dims]
        self.known = [np.zeros((d[1], d[0]), dtype=bool) for d in self.dims]
        self.value = [np.zeros((d[1], d[0]), dtype=np.int64) for d in self.dims]

    def set_values(self, leaf_values: np.ndarray) -> None:
        self.value[0][:] = leaf_values
        for lev in range(1, len(self.dims)):
            prev = self.value[lev - 1]
            w, h = self.dims[lev]
            cur = np.full((h, w), 1 << 62, dtype=np.int64)
            for y in range(prev.shape[0]):
                for x in range(prev.shape[1]):
                    cur[y // 2, x // 2] = min(cur[y // 2, x // 2], prev[y, x])
            self.value[lev] = cur

    def _path(self, x: int, y: int):
        path = []
        for lev in range(len(self.dims) - 1, -1, -1):
            path.append((lev, y >> lev, x >> lev))
        return path

    def encode(self, bits: _HeaderBits, x: int, y: int, threshold: int) -> None:
        low = 0
        for lev, yy, xx in self._path(x, y):
            if self.low[lev][yy, xx] < low:
                self.low[lev][yy, xx] = low
            while not self.known[lev][yy, xx] and self.low[lev][yy, xx] < threshold:
                if self.low[lev][yy, xx] == self.value[lev][yy, xx]:
                    bits.put(1)
                    self.known[lev][yy, xx] = True
                else:
                    bits.put(0)
                    self.low[lev][yy, xx] += 1
            low = self.low[lev][yy, xx]

    def decode(self, bits: _HeaderBits, x: int, y: int, threshold: int) -> bool:
        """-> True iff leaf value < threshold (fully resolved)."""
        low = 0
        for lev, yy, xx in self._path(x, y):
            if self.low[lev][yy, xx] < low:
                self.low[lev][yy, xx] = low
            while not self.known[lev][yy, xx] and self.low[lev][yy, xx] < threshold:
                if bits.get():
                    self.known[lev][yy, xx] = True
                else:
                    self.low[lev][yy, xx] += 1
            low = self.low[lev][yy, xx]
        lev, yy, xx = self._path(x, y)[-1]
        return self.known[lev][yy, xx]

    def leaf_value(self, x: int, y: int) -> int:
        return int(self.low[0][y, x])


# ------------------------------------------------------- codestream codec
_GUARD = 2  # guard bits written in QCD


def _band_blocks(arr: np.ndarray, cb: int, cbh: int | None = None):
    """Subband -> list of (y0, x0, block) raster-ordered code-blocks.
    ``cbh`` lets precinct-clamped effective sizes be rectangular."""
    h, w = arr.shape
    cbh = cb if cbh is None else cbh
    out = []
    for y0 in range(0, h, cbh):
        for x0 in range(0, w, cb):
            out.append((y0, x0, arr[y0 : y0 + cbh, x0 : x0 + cb]))
    return out


def _res_bands(bands: list[dict], r: int) -> list[tuple[str, np.ndarray]]:
    if r == 0:
        return [("LL", bands[0]["LL"])]
    d = bands[r]
    return [("HL", d["HL"]), ("LH", d["LH"]), ("HH", d["HH"])]


# ----------------------------------------------- precinct / packet geometry
#
# Precincts (B.6) partition each RESOLUTION grid into 2^PPx x 2^PPy cells;
# on the subbands of r > 0 a precinct projects to half that size.  All
# arithmetic here is tile-local with origin 0 (the engine's profile — the
# same convention the per-tile wavelet replay uses).


def _cb_eff_exp(cb_exp: int, r: int, prec) -> tuple[int, int]:
    """Effective code-block exponents (xcb', ycb') at resolution r: the
    declared size clamped to the precinct's subband projection (B.7)."""
    if prec is None:
        return cb_exp, cb_exp
    ppx, ppy = prec[r]
    sub = 1 if r > 0 else 0
    return min(cb_exp, max(ppx - sub, 0)), min(cb_exp, max(ppy - sub, 0))


def _prec_counts(shapes, levels: int, r: int, prec) -> tuple[int, int]:
    """(npy, npx) precincts at resolution r (>=1 so every resolution owns
    at least one packet per component and layer)."""
    if prec is None:
        return 1, 1
    res_h, res_w = shapes[levels - r]
    ppx, ppy = prec[r]
    npx = -(-res_w // (1 << ppx)) if res_w else 1
    npy = -(-res_h // (1 << ppy)) if res_h else 1
    return max(npy, 1), max(npx, 1)


def _prec_block_range(
    r: int, prec, pidx: int, npx: int, cbx_exp: int, cby_exp: int,
    nbw: int, nbh: int,
) -> tuple[int, int, int, int]:
    """Block-index rectangle (bx0, bx1, by0, by1) of precinct ``pidx`` in a
    band with nbw x nbh code-blocks (effective block exponents given)."""
    if prec is None:
        return 0, nbw, 0, nbh
    ppx, ppy = prec[r]
    sub = 1 if r > 0 else 0
    sx = 1 << max(ppx - sub - cbx_exp, 0)
    sy = 1 << max(ppy - sub - cby_exp, 0)
    py, px = divmod(pidx, npx)
    bx0, by0 = px * sx, py * sy
    return min(bx0, nbw), min(bx0 + sx, nbw), min(by0, nbh), min(by0 + sy, nbh)


def _packet_sequence(
    prog: str, n_layers: int, levels: int, n_comps: int, nprec,
    prec=None, tile_hw=None,
) -> list[tuple[int, int, int, int]]:
    """Packet order [(layer, res, comp, precinct)] for the progression.
    ``nprec[r]`` = (npy, npx).  PCRL/CPRL iterate precinct positions
    ACROSS resolutions (B.12.1.4/5) and need ``prec`` (per-resolution
    (PPx, PPy) exponents, or None for whole-tile precincts) and
    ``tile_hw`` = (th, tw) in full-resolution tile-local coordinates."""
    seq = []
    if prog == "LRCP":
        for l in range(n_layers):
            for r in range(levels + 1):
                for c in range(n_comps):
                    for pi in range(nprec[r][0] * nprec[r][1]):
                        seq.append((l, r, c, pi))
    elif prog == "RLCP":
        for r in range(levels + 1):
            for l in range(n_layers):
                for c in range(n_comps):
                    for pi in range(nprec[r][0] * nprec[r][1]):
                        seq.append((l, r, c, pi))
    elif prog == "RPCL":
        for r in range(levels + 1):
            for pi in range(nprec[r][0] * nprec[r][1]):
                for c in range(n_comps):
                    for l in range(n_layers):
                        seq.append((l, r, c, pi))
    elif prog in ("PCRL", "CPRL"):
        th, tw = tile_hw
        # projected precinct span at r in full-res coords (origin-0 tiles,
        # dx=dy=1); no-precinct flag => one whole-tile precinct: only the
        # (0, 0) position emits
        span = []
        for r in range(levels + 1):
            if prec is None:
                span.append((1 << 62, 1 << 62))
            else:
                ppx, ppy = prec[r]
                span.append((1 << (ppx + levels - r), 1 << (ppy + levels - r)))
        step_x = min(s[0] for s in span)
        step_y = min(s[1] for s in span)

        def emits(y, x):
            for r in range(levels + 1):
                sx, sy = span[r]
                if x % sx == 0 and y % sy == 0:
                    pi = (y // sy) * nprec[r][1] + (x // sx)
                    yield r, pi

        if prog == "PCRL":
            for y in range(0, max(th, 1), step_y):
                for x in range(0, max(tw, 1), step_x):
                    for c in range(n_comps):
                        for r, pi in emits(y, x):
                            for l in range(n_layers):
                                seq.append((l, r, c, pi))
        else:  # CPRL
            for c in range(n_comps):
                for y in range(0, max(th, 1), step_y):
                    for x in range(0, max(tw, 1), step_x):
                        for r, pi in emits(y, x):
                            for l in range(n_layers):
                                seq.append((l, r, c, pi))
    else:
        raise ValueError(f"unknown progression {prog!r}")
    return seq


def _put_npasses(bits: _HeaderBits, n: int) -> None:
    # ISO/IEC 15444-1 Table B.4 comma code: 1->'0', 2->'10',
    # 3..5 -> '11'+2 bits (00,01,10; '11' escapes to the next range),
    # 6..36 -> '1111'+5 bits (value 31 escapes), 37..164 -> 9 ones + 7 bits.
    if n == 1:
        bits.put(0)
    elif n == 2:
        bits.put_bits(0b10, 2)
    elif n <= 5:
        bits.put_bits(0b11, 2)
        bits.put_bits(n - 3, 2)
    elif n <= 36:
        bits.put_bits(0b1111, 4)
        bits.put_bits(n - 6, 5)
    else:
        bits.put_bits(0b111111111, 9)
        bits.put_bits(n - 37, 7)


def _get_npasses(bits: _HeaderBits) -> int:
    if not bits.get():
        return 1
    if not bits.get():
        return 2
    v = bits.get_bits(2)
    if v < 3:
        return 3 + v
    v = bits.get_bits(5)
    if v < 31:
        return 6 + v
    return 37 + bits.get_bits(7)


def _qcd_derived(depth: int, levels: int, qstep: float) -> list[tuple[int, int, float]]:
    """Scalar-derived quantization table (Sqcd style 1, Annex E.1.1): ONE
    coded (ε0, μ0) pair; every subband derives ε_b = ε0 − N_L + n_b (n_b =
    the subband's decomposition-level count, so detail bands at resolution
    r share ε0 − (r−1)) and μ_b = μ0, while R_b keeps the per-band gain —
    equation E-5's Δb = 2^(Rb−εb)·(1+μb/2^11).  Returned in QCD subband
    order like _qcd_expounded; only out[0]'s (ε, μ) is written to the
    codestream."""
    import math

    n = math.floor(math.log2(qstep))
    mu = min(2047, max(0, round((qstep / 2.0**n - 1.0) * 2048)))
    e0 = min(31, max(0, depth - n))
    out = [(e0, mu, 2.0 ** (depth - e0) * (1.0 + mu / 2048.0))]
    for r in range(1, levels + 1):
        eb = max(0, e0 - (r - 1))
        for gain in (1, 1, 2):
            rb = depth + gain
            out.append((eb, mu, 2.0 ** (rb - eb) * (1.0 + mu / 2048.0)))
    return out


def _qcd_expounded(depth: int, levels: int, qstep: float) -> list[tuple[int, int, float]]:
    """Scalar-expounded quantization table (Annex E.1): one (εb, μb, Δb)
    per subband in QCD order (LL, then HL/LH/HH per resolution).  Δb =
    2^(Rb−εb)·(1+μb/2^11) with Rb = depth + log2 subband gain (table E.1:
    LL 0, HL/LH 1, HH 2); εb absorbs the gain so a single ``qstep`` yields
    a uniform step across bands while Mb still tracks each band's range.
    Δb is recomputed from the CODED (εb, μb) so encoder and decoder share
    the exact step."""
    import math

    gains = [0] + [g for _ in range(levels) for g in (1, 1, 2)]
    n = math.floor(math.log2(qstep))
    mu = min(2047, max(0, round((qstep / 2.0**n - 1.0) * 2048)))
    out = []
    for gain in gains:
        rb = depth + gain
        eb = min(31, max(0, rb - n))
        out.append((eb, mu, 2.0 ** (rb - eb) * (1.0 + mu / 2048.0)))
    return out


def _qi_index(r: int, bname: str) -> int:
    """QCD subband order: LL, then (HL, LH, HH) per resolution 1..levels."""
    if r == 0:
        return 0
    return 1 + 3 * (r - 1) + {"HL": 0, "LH": 1, "HH": 2}[bname]


def _tile_grid(
    h: int, w: int, tile_h: int, tile_w: int
) -> list[tuple[int, int, int, int, int, int]]:
    """Raster-order tile grid (Isot order): (ty, tx, y0, x0, th, tw) with
    edge tiles clipped to the image, matching B.3's tile partition with
    zero offsets."""
    out = []
    for ty in range((h + tile_h - 1) // tile_h):
        for tx in range((w + tile_w - 1) // tile_w):
            y0, x0 = ty * tile_h, tx * tile_w
            out.append(
                (ty, tx, y0, x0, min(tile_h, h - y0), min(tile_w, w - x0))
            )
    return out


@corrupt_guard("jp2")
def jp2_tile_index(data: bytes) -> list[tuple[int, int, int]]:
    """Cheap tile-part byte index: (Isot, offset, length) of every tile-part
    (SOT marker through the end of its body), offsets into ``data`` as
    given (container or raw codestream).  Only marker segments are walked —
    no entropy decoding — so a scheduler can hand each worker ONE tile's
    byte range (object-store ranged GET at cluster scale) and the worker
    decodes it independently via decode_jp2(..., tile_idx=)."""
    base = 0
    cs = data
    if data[:2] != b"\xff\x4f":
        meta = parse_jp2(data)
        cs = meta["codestream"]
        # box-walk offset (ADVICE r5: substring search could match the same
        # bytes inside an earlier XML/UUID box)
        base = meta["cs_offset"]
    pos = 2
    out = []
    while pos + 4 <= len(cs):
        (marker,) = struct.unpack(">H", cs[pos : pos + 2])
        if marker == _EOC:
            break
        if marker == _SOT:
            isot, psot = struct.unpack(">HI", cs[pos + 4 : pos + 10])
            if psot == 0:  # "to EOC" (last tile-part)
                psot = len(cs) - 2 - pos
            out.append((isot, base + pos, psot))
            pos += psot
            continue
        (seglen,) = struct.unpack(">H", cs[pos + 2 : pos + 4])
        pos += 2 + seglen
    return out


@corrupt_guard("jp2")
def jp2_file_index(path: str) -> dict:
    """Seek-based tile index of a JP2 file: O(#tiles) tiny reads, never the
    pixel payload.  Returns {"header": main-header bytes (codestream start
    through the byte before the first SOT), "parts": [(isot, abs_offset,
    length)], "meta": parsed SIZ/COD dict}.  This is the planner's split
    table for tile-parallel scene decode: each executor later ranged-reads
    header + ONE part (object-store GETs at cluster scale) and decodes
    independently via decode_jp2_part."""
    with open(path, "rb") as f:
        f.seek(0, 2)
        file_end = f.tell()
        f.seek(0)
        head = f.read(16)
        cs_base = 0
        cs_end = file_end
        if head[:2] != b"\xff\x4f":
            if head[4:8] != b"jP  " or head[:4] != b"\x00\x00\x00\x0c":
                raise ValueError("not a JP2 file (missing signature box)")
            # box walk by seeks to the jp2c payload
            pos = 0
            while True:
                f.seek(pos)
                hdr = f.read(16)
                if len(hdr) < 8:
                    raise ValueError("no jp2c codestream box")
                (size,) = struct.unpack(">I", hdr[:4])
                btype = hdr[4:8]
                body = pos + 8
                if size == 1:
                    (size,) = struct.unpack(">Q", hdr[8:16])
                    body = pos + 16
                if btype == b"jp2c":
                    cs_base = body
                    # Psot==0 must be bounded by the BOX end, not the file
                    # end — trailing boxes (XML/UUID) may follow jp2c
                    cs_end = file_end if size == 0 else pos + size
                    break
                if size == 0:
                    raise ValueError("no jp2c codestream box")
                pos += size
        # marker walk from the codestream start: segment-length hops only
        pos = cs_base + 2
        parts = []
        header_end = None
        while pos + 4 <= cs_end:
            f.seek(pos)
            mk = f.read(12)
            if len(mk) < 4:
                break
            (marker,) = struct.unpack(">H", mk[:2])
            if marker == _EOC:
                break
            if marker == _SOT:
                if header_end is None:
                    header_end = pos
                isot, psot = struct.unpack(">HI", mk[4:10])
                if psot == 0:
                    psot = cs_end - 2 - pos
                parts.append((isot, pos, psot))
                pos += psot
                continue
            (seglen,) = struct.unpack(">H", mk[2:4])
            pos += 2 + seglen
        if header_end is None:
            raise ValueError("no tile-part (SOT) in codestream")
        f.seek(cs_base)
        header = f.read(header_end - cs_base)
    return {
        "header": header,
        "parts": parts,
        "meta": parse_codestream_header(header + b"\xff\xd9"),
    }


@corrupt_guard("jp2")
def decode_jp2_part(header: bytes, part: bytes, isot: int,
                    max_res: int | None = None) -> np.ndarray:
    """Decode ONE tile from its ranged-read bytes: ``header`` is the main
    header (jp2_file_index["header"]), ``part`` one tile-part's bytes (SOT
    through body end).  Tiles are independently entropy-coded, so this is
    the executor-side unit of work for tile-parallel scene decode."""
    return decode_jp2(header + part + b"\xff\xd9", max_res=max_res,
                      tile_idx=isot)


def _dist_curve(
    blk: np.ndarray, numbps: int, seg_lens: list, weight: float
) -> list[float]:
    """Per-pass-end residual distortion for PCRD allocation (encoder-side
    estimate, non-normative): exact coefficient-domain energy at every
    BIT-PLANE boundary (truncating below plane b leaves |v| mod 2^b), with
    the within-plane drop split across the plane's three passes
    proportionally to their codeword bytes.  ``weight`` folds the
    quantizer step and the subband synthesis gain so slopes are comparable
    across bands.  Length = n_passes + 1 (D[0] = nothing decoded)."""
    m = np.abs(blk.astype(np.int64))
    E = [
        float((np.float64(m & ((1 << b) - 1)) ** 2).sum())
        for b in range(numbps + 1)
    ]
    D = [E[numbps], E[numbps - 1]]  # t=0; after the top plane's cleanup
    pi = 1
    for b in range(numbps - 2, -1, -1):
        d0, d1 = E[b + 1], E[b]
        w3 = [seg_lens[pi + j][0] for j in range(3)]
        tot = float(sum(w3)) or 3.0
        acc = d0
        for j in range(3):
            acc -= (d0 - d1) * (w3[j] / tot)
            D.append(acc)
        D[-1] = d1  # exact at the plane boundary
        pi += 3
    return [d * weight for d in D]


def _rd_hull(R: list[float], D: list[float]) -> tuple[list[int], list[float]]:
    """Convex hull of a block's rate-distortion curve -> (pass indices,
    slopes).  R = cumulative codeword bytes at each pass end (R[0] = 0),
    D = weighted residual distortion at each pass end.  Returns the
    truncation candidates t_0=0 < t_1 < ... with strictly decreasing
    slopes slope[i] = (D[t_{i-1}] - D[t_i]) / (R[t_i] - R[t_{i-1}])
    (slope[0] is unused)."""
    # keep, per distinct byte count, the deepest pass (extra passes that
    # cost zero bytes are free quality)
    cand: list[int] = [0]
    for t in range(1, len(R)):
        if R[t] == R[cand[-1]]:
            cand[-1] = t if D[t] <= D[cand[-1]] else cand[-1]
        elif D[t] < D[cand[-1]]:
            cand.append(t)
    pts: list[int] = [cand[0]]
    for t in cand[1:]:
        pts.append(t)
        while len(pts) >= 3:
            a, b, c = pts[-3], pts[-2], pts[-1]
            s1 = (D[a] - D[b]) / (R[b] - R[a])
            s2 = (D[b] - D[c]) / (R[c] - R[b])
            if s2 >= s1:  # b is not a vertex of the convex hull
                pts.pop(-2)
            else:
                break
    slopes = [float("inf")] + [
        (D[pts[i - 1]] - D[pts[i]]) / (R[pts[i]] - R[pts[i - 1]])
        for i in range(1, len(pts))
    ]
    return pts, slopes


def _pcrd_allocate(
    curves: dict, budgets: list[int], n_passes_of: dict
) -> dict:
    """PCRD-style rate allocation (the Kakadu/EBCOT Tier-2 optimisation,
    encoder-side and non-normative): pick per-code-block truncation points
    on the convex hull of each block's rate-distortion curve so that the
    CUMULATIVE codeword bytes of layers 0..l hit ``budgets[l]``, by
    thresholding a single global distortion-rate slope lambda per layer
    (all hull segments steeper than lambda are included — the classic
    equal-slope optimality argument).

    ``curves``: blkid -> (R, D) per-pass cumulative bytes / distortion.
    -> blkid -> [t_l]: cumulative pass count per layer (non-decreasing)."""
    hulls = {k: _rd_hull(R, D) for k, (R, D) in curves.items()}
    all_slopes = sorted(
        {sl for pts, sls in hulls.values() for sl in sls[1:]}, reverse=True
    )

    def bytes_at(lam: float) -> tuple[int, dict]:
        total, trunc = 0, {}
        for k, (pts, sls) in hulls.items():
            R = curves[k][0]
            t_sel = 0
            for i in range(1, len(pts)):
                if sls[i] >= lam:
                    t_sel = pts[i]
                else:
                    break
            trunc[k] = t_sel
            total += R[t_sel]
        return total, trunc

    out = {k: [] for k in curves}
    prev_trunc = {k: 0 for k in curves}
    for budget in budgets:
        if budget is None:  # final layer uncapped: everything remaining
            trunc = {k: n_passes_of[k] for k in curves}
        else:
            lo, hi = 0, len(all_slopes)  # include slopes[:cut]
            # largest cut whose byte total still fits the budget (bytes_at
            # is monotone non-decreasing as the threshold drops)
            while lo < hi:
                mid = (lo + hi + 1) // 2
                tot, _ = bytes_at(all_slopes[mid - 1])
                if tot <= budget:
                    lo = mid
                else:
                    hi = mid - 1
            lam = all_slopes[lo - 1] if lo else float("inf")
            _, trunc = bytes_at(lam)
        for k in curves:
            t = max(trunc[k], prev_trunc[k])
            out[k].append(t)
            prev_trunc[k] = t
    return out


def encode_jp2(
    img: np.ndarray, levels: int = 2, cb: int = 64, container: bool = True,
    wavelet: str = "5/3", qstep: float = 0.5, tile: int | None = None,
    qcd_style: int = 2, precinct: int | list | None = None,
    n_layers: int = 1, progression: str = "LRCP",
    use_sop: bool = False, use_eph: bool = False, cb_style: int = 0,
    roi: tuple[int, int, int, int] | None = None,
    target_bytes: int | list | None = None,
) -> bytes:
    """(planes, h, w) uint8/uint16 -> JPEG 2000 (JP2 container or raw
    codestream): single layer, LRCP, MQ-coded EBCOT code-blocks, tag-tree
    packet headers.  ``wavelet="5/3"`` (default) is the lossless
    reversible profile; ``wavelet="9/7"`` is the irreversible LOSSY
    profile (Annex F.4.8 float lifting + Annex E scalar-expounded
    deadzone quantization with step ``qstep``; the reference's actual
    Sentinel-2 files use both — lossless L1C bands and lossy previews).
    ``tile`` = square tile size (XTsiz=YTsiz): the image splits into an
    independently-coded tile grid, one SOT/SOD tile-part each — the wire
    layout that makes a single huge scene decodable tile-parallel across
    executors (jp2_tile_index + decode_jp2(tile_idx=)).

    Round 5 — the real-Sentinel-2 Kakadu wire options:
    ``precinct`` = precinct exponent (int, e.g. 7 -> 128x128 cells on every
    resolution grid) or an explicit [(PPx, PPy)] per resolution; packets
    become per-(layer, res, comp, precinct) with per-precinct tag-trees and
    precinct-clamped effective code-block sizes (B.6/B.7).
    ``n_layers`` = quality layers: each code-block carries ALL its coding
    passes in ONE layer ((by+bx) % n_layers — spec-legal first-inclusion
    layering that exercises the full multi-layer header machinery without
    rate-distortion truncation).  ``progression``: LRCP / RLCP / RPCL
    (S2's Kakadu files use RPCL).  ``use_sop``/``use_eph`` emit the
    SOP packet-sequence and end-of-packet-header markers."""
    if wavelet not in ("5/3", "9/7"):
        raise ValueError(f"unknown wavelet {wavelet!r}")
    if precinct is not None and not isinstance(precinct, (list, tuple)):
        precinct = [(int(precinct), int(precinct))] * (levels + 1)
    prec = list(precinct) if precinct is not None else None
    if prec is not None and any(
        px < 1 or py < 1 for px, py in prec[1:]
    ):
        raise ValueError("precinct exponents must be >= 1 for r > 0")
    prog_names = ("LRCP", "RLCP", "RPCL", "PCRL", "CPRL")
    if progression not in prog_names:
        raise ValueError(f"unknown progression {progression!r}")
    if cb_style & ~0x3F:  # 0x01 bypass / 0x02 reset / 0x04 termall /
        # 0x08 causal / 0x10 predictable termination / 0x20 segsym — the
        # full Table A-19 style vocabulary
        raise NotImplementedError(f"unknown code-block style bits 0x{cb_style:02x}")
    budgets = None
    if target_bytes is not None:
        # PCRD-style rate control (round 7, the last real-Kakadu encoder
        # behavior): truncate each code-block on its rate-distortion convex
        # hull so cumulative CODEWORD bytes of layers 0..l hit budgets[l].
        # TERMALL is forced so every coding pass ends on a byte-aligned
        # terminated segment — the spec-legal way to make every pass a
        # valid truncation point (Kakadu's -Corder rate control does the
        # same via its terminated-length machinery).
        cb_style |= 0x04
        if isinstance(target_bytes, (list, tuple)):
            budgets = [int(b) for b in target_bytes]
            if len(budgets) != n_layers:
                raise ValueError(
                    f"target_bytes list must have one cumulative budget per "
                    f"layer ({n_layers}), got {len(budgets)}"
                )
            if any(b2 < b1 for b1, b2 in zip(budgets, budgets[1:])):
                raise ValueError("target_bytes budgets must be non-decreasing")
        else:
            # single int: geometric cumulative ladder (each earlier layer
            # gets half the following one's budget), final layer = total
            budgets = [int(target_bytes) >> (n_layers - 1 - li)
                       for li in range(n_layers)]
        if budgets[0] <= 0:
            raise ValueError("target_bytes must be positive")
    # ROI on the lossy path works via guard-bit escalation (round 6): the
    # QCD's 3-bit guard field grows by the ROI shift so the zero-bitplane
    # accounting (Mb = G + eps - 1) absorbs the scaled-up ROI indices; the
    # decoder already derives Mb from the PARSED guard bits.  The 3-bit
    # field caps the escalation — checked after the shift is known.
    cb_exp = cb.bit_length() - 1
    lossy = wavelet == "9/7"
    if img.ndim == 2:
        img = img[None]
    p, h, w = img.shape
    depth = 8 * img.dtype.itemsize
    shift = 1 << (depth - 1)

    tile_w = min(tile, w) if tile else w
    tile_h = min(tile, h) if tile else h
    grid = _tile_grid(h, w, tile_h, tile_w)
    if lossy and qcd_style not in (1, 2):
        raise ValueError("qcd_style must be 1 (derived) or 2 (expounded)")
    qinfo = (
        (_qcd_derived if qcd_style == 1 else _qcd_expounded)(depth, levels, qstep)
        if lossy
        else None
    )

    # pass 1a — per tile: wavelet transform (+ quantize)
    tiles_bands = []
    for _ty, _tx, y0, x0, th, tw in grid:
        sub = img[:, y0 : y0 + th, x0 : x0 + tw]
        if lossy:
            comp_bands = []
            for c in range(p):
                fb = fwd_dwt97(sub[c].astype(np.float64) - shift, levels)
                qb: list[dict] = []
                for r in range(levels + 1):
                    d = {}
                    for bname, arr in _res_bands(fb, r):
                        delta = qinfo[_qi_index(r, bname)][2]
                        # deadzone scalar quantizer: q = sign(y)·floor(|y|/Δb)
                        d[bname] = (
                            np.sign(arr) * np.floor(np.abs(arr) / delta)
                        ).astype(np.int64)
                    qb.append(d)
                comp_bands.append(qb)
        else:
            comp_bands = [
                fwd_dwt53(sub[c].astype(np.int64) - shift, levels)
                for c in range(p)
            ]
        tiles_bands.append((comp_bands, y0, x0))

    # pass 1b — ROI max-shift (RGN, Srgn=0): scale the ROI coefficients so
    # every non-zero ROI magnitude clears the largest background magnitude;
    # the decoder separates them by magnitude alone (no mask on the wire)
    roi_shift = 0
    if roi is not None:
        ry0, rx0, rh, rw = roi

        def _band_mask(arr_shape, r, bname, ty0, tx0):
            """ROI rect -> subband mask (coeff coords, tile-local), dilated
            by the 5/3 lifting support at each level."""
            lev = levels - r if r == 0 else levels - r + 1
            sc = 1 << lev
            m = 2 * lev + 2  # lifting support dilation, conservative
            yy0 = max((ry0 - ty0) // sc - m, 0)
            xx0 = max((rx0 - tx0) // sc - m, 0)
            yy1 = min(-(-(ry0 + rh - ty0) // sc) + m, arr_shape[0])
            xx1 = min(-(-(rx0 + rw - tx0) // sc) + m, arr_shape[1])
            msk = np.zeros(arr_shape, dtype=bool)
            if yy1 > yy0 and xx1 > xx0:
                msk[yy0:yy1, xx0:xx1] = True
            return msk

        bg_max = 1
        masks = []
        for comp_bands, ty0, tx0 in tiles_bands:
            tile_masks = {}
            for c in range(p):
                for r in range(levels + 1):
                    for bname, arr in _res_bands(comp_bands[c], r):
                        msk = _band_mask(arr.shape, r, bname, ty0, tx0)
                        tile_masks[(c, r, bname)] = msk
                        if (~msk).any():
                            bg_max = max(
                                bg_max, int(np.abs(arr[~msk]).max(initial=0))
                            )
            masks.append(tile_masks)
        roi_shift = bg_max.bit_length()
        for (comp_bands, _y, _x), tile_masks in zip(tiles_bands, masks):
            for c in range(p):
                for r in range(levels + 1):
                    for bname, arr in _res_bands(comp_bands[c], r):
                        arr[tile_masks[(c, r, bname)]] <<= roi_shift

    # pass 1c — EBCOT-encode every code-block; record per-(tile, comp,
    # band) max bit-depth
    tiles_cb = []
    tiles_dcurves: list[dict] = []
    for comp_bands, _y0, _x0 in tiles_bands:
        enc_blocks: dict = {}
        band_mb: dict = {}
        dcurves: dict = {}
        for c in range(p):
            for r in range(levels + 1):
                cbx_e, cby_e = _cb_eff_exp(cb_exp, r, prec)
                for bname, arr in _res_bands(comp_bands[c], r):
                    blocks = []
                    dlist = []
                    mx = 1
                    if budgets is not None:
                        lev = levels if r == 0 else levels - r + 1
                        delta = (
                            qinfo[_qi_index(r, bname)][2] if lossy else 1.0
                        )
                        weight = (delta * float(1 << lev)) ** 2
                    for by0, bx0, blk in _band_blocks(arr, 1 << cbx_e, 1 << cby_e):
                        seg_list, numbps = encode_codeblock_segments(
                            blk, bname, cb_style
                        )
                        data = b"".join(b for b, _p in seg_list)
                        n_passes = sum(p for _b, p in seg_list)
                        seg_lens = [(len(b), p) for b, p in seg_list]
                        blocks.append((data, numbps, n_passes, seg_lens))
                        mx = max(mx, numbps)
                        if budgets is not None:
                            dlist.append(
                                _dist_curve(blk, numbps, seg_lens, weight)
                            )
                    enc_blocks[(c, r, bname)] = blocks
                    band_mb[(c, r, bname)] = mx
                    if budgets is not None:
                        dcurves[(c, r, bname)] = dlist
        tiles_cb.append((comp_bands, enc_blocks, band_mb))
        tiles_dcurves.append(dcurves)

    # global Mb per (r, band): the QCD is a MAIN-header segment shared by
    # every tile and component, so zero-bitplane counts are relative to the
    # cross-tile cross-component max (lossless) / the quantizer's coded
    # exponent (lossy)
    guard = _GUARD
    if lossy and roi is not None:
        guard = _GUARD + roi_shift  # escalation: Mb grows with the shift
        if guard > 7:
            raise NotImplementedError(
                f"ROI shift {roi_shift} needs {guard} guard bits; the QCD "
                "guard field is 3 bits (reduce the background dynamic range "
                "or the quantizer step)"
            )
    if lossy:
        mb_of = {
            (r, bn): guard + qinfo[_qi_index(r, bn)][0] - 1
            for r in range(levels + 1)
            for bn in (("LL",) if r == 0 else ("HL", "LH", "HH"))
        }
    else:
        mb_of = {
            (r, bn): max(
                bm[(c, r, bn)] for (_cb, _eb, bm) in tiles_cb for c in range(p)
            )
            for r in range(levels + 1)
            for bn in (("LL",) if r == 0 else ("HL", "LH", "HH"))
        }

    # pass 1d — PCRD rate allocation (round 7): convex-hull truncation
    # points per code-block, one global slope threshold per layer budget
    plans = None
    if budgets is not None:
        curves: dict = {}
        n_passes_of: dict = {}
        for t, (comp_bands, enc_blocks, _bm) in enumerate(tiles_cb):
            for key, blocks in enc_blocks.items():
                for bi, (data, numbps, n_passes, seg_lens) in enumerate(blocks):
                    blkid = (t, *key, bi)
                    R = [0.0]
                    for ln_i, _p in seg_lens:
                        R.append(R[-1] + ln_i)
                    curves[blkid] = (R, tiles_dcurves[t][key][bi])
                    n_passes_of[blkid] = n_passes
        truncs = _pcrd_allocate(curves, budgets, n_passes_of)
        plans = {}
        for blkid, ts in truncs.items():
            plan, prev = [], 0
            for tl in ts:
                plan.append((prev, tl - prev) if tl > prev else None)
                prev = max(prev, tl)
            plans[blkid] = plan

    # pass 2 — per tile: packets in progression order, one per
    # (layer, resolution, component, precinct), + SOT/SOD
    tile_parts = []
    for t, (comp_bands, enc_blocks, band_mb) in enumerate(tiles_cb):
        th_t, tw_t = grid[t][4], grid[t][5]
        shapes = [(th_t, tw_t)]
        for _ in range(levels):
            hh2, ww2 = shapes[-1]
            shapes.append(((hh2 + 1) // 2, (ww2 + 1) // 2))
        nprec = {
            r: _prec_counts(shapes, levels, r, prec) for r in range(levels + 1)
        }
        # per-band block grids; first-inclusion layer of a block is
        # (by + bx) % n_layers (deterministic, signaled via the tag-trees)
        grids: dict = {}
        for c in range(p):
            for r in range(levels + 1):
                cbx_e, cby_e = _cb_eff_exp(cb_exp, r, prec)
                for bname, arr in _res_bands(comp_bands[c], r):
                    nbw = -(-arr.shape[1] // (1 << cbx_e)) if arr.shape[1] else 0
                    nbh = -(-arr.shape[0] // (1 << cby_e)) if arr.shape[0] else 0
                    grids[(c, r, bname)] = (nbw, nbh, cbx_e, cby_e)
        trees: dict = {}
        lblocks = {
            k: np.full((g[1], g[0]), 3, dtype=np.int64) for k, g in grids.items()
        }
        emitted = {
            k: np.zeros((g[1], g[0]), dtype=bool) for k, g in grids.items()
        }

        def _plan_of(c, r, bname, by, bx):
            """Per-layer (start_pass, n_passes) contributions of a block:
            PCRD truncation plan when rate control is on, else the legacy
            all-passes-at-layer-(by+bx)%%n_layers first-inclusion plan."""
            nbw = grids[(c, r, bname)][0]
            if plans is not None:
                return plans[(t, c, r, bname, by * nbw + bx)]
            fl = (by + bx) % n_layers
            n_passes = enc_blocks[(c, r, bname)][by * nbw + bx][2]
            return [(0, n_passes) if li == fl else None
                    for li in range(n_layers)]

        packets = []
        nsop = 0
        for l, r, c, pi in _packet_sequence(
            progression, n_layers, levels, p, nprec, prec, (th_t, tw_t)
        ):
            bits = _HeaderBits()
            body = bytearray()
            contribs = []
            any_first = False
            for bname, arr in _res_bands(comp_bands[c], r):
                nbw, nbh, cbx_e, cby_e = grids[(c, r, bname)]
                if nbw == 0 or nbh == 0:
                    continue
                bx0, bx1, by0, by1 = _prec_block_range(
                    r, prec, pi, nprec[r][1], cbx_e, cby_e, nbw, nbh
                )
                if bx1 <= bx0 or by1 <= by0:
                    continue
                key = (c, r, pi, bname)
                if key not in trees:
                    incl = TagTree(bx1 - bx0, by1 - by0)
                    lv = np.empty((by1 - by0, bx1 - bx0), dtype=np.int64)
                    for by in range(by0, by1):
                        for bx in range(bx0, bx1):
                            pl = _plan_of(c, r, bname, by, bx)
                            fl = next(
                                (li for li, pp in enumerate(pl) if pp), n_layers
                            )  # n_layers = never included (rate-starved)
                            lv[by - by0, bx - bx0] = fl
                    incl.set_values(lv)
                    zbp = TagTree(bx1 - bx0, by1 - by0)
                    blocks = enc_blocks[(c, r, bname)]
                    mb = mb_of[(r, bname)]
                    zv = np.empty_like(lv)
                    for by in range(by0, by1):
                        for bx in range(bx0, bx1):
                            nb = blocks[by * nbw + bx][1]
                            assert nb <= mb, (
                                "code-block magnitude exceeds QCD-derived Mb"
                            )
                            zv[by - by0, bx - bx0] = mb - nb
                    zbp.set_values(zv)
                    trees[key] = (incl, zbp)
                contribs.append((key, bname, bx0, bx1, by0, by1, nbw))
                if not any_first:
                    for by in range(by0, by1):
                        for bx in range(bx0, bx1):
                            if _plan_of(c, r, bname, by, bx)[l] is not None:
                                any_first = True
                                break
                        if any_first:
                            break
            if not any_first:
                # nothing contributes: empty packet (single 0 bit).  The
                # legacy single-layer no-precinct layout kept a non-empty
                # bit even for zero-block packets — preserved for byte
                # identity with existing fixtures/oracles.
                bits.put(
                    1 if (plans is None and prec is None and n_layers == 1)
                    else 0
                )
            else:
                bits.put(1)
                for key, bname, bx0, bx1, by0, by1, nbw in contribs:
                    incl, zbp = trees[key]
                    blocks = enc_blocks[(c, r, bname)]
                    lb = lblocks[(c, r, bname)]
                    em = emitted[(c, r, bname)]
                    for by in range(by0, by1):
                        for bx in range(bx0, bx1):
                            lbx, lby = bx - bx0, by - by0
                            data, numbps, n_passes, seg_lens = blocks[
                                by * nbw + bx
                            ]
                            contrib = _plan_of(c, r, bname, by, bx)[l]
                            if em[by, bx]:
                                if contrib is None:
                                    bits.put(0)  # included, no new passes
                                    continue
                                bits.put(1)  # later-layer contribution
                            else:
                                incl.encode(bits, lbx, lby, l + 1)
                                if contrib is None:
                                    continue  # first inclusion comes later
                                em[by, bx] = True
                                zbp.encode(bits, lbx, lby, 1 << 30)  # resolve
                            start_p, npq = contrib
                            # codeword segments covering passes
                            # [start_p, start_p + npq): contributions must
                            # align with segment boundaries (TERMALL makes
                            # every pass one, which rate control forces)
                            segs_sub, off, pacc = [], 0, 0
                            for ln_i, p_i in seg_lens:
                                if pacc + p_i <= start_p:
                                    off += ln_i
                                elif pacc >= start_p + npq:
                                    break
                                else:
                                    if pacc < start_p or pacc + p_i > start_p + npq:
                                        raise ValueError(
                                            "layer truncation point does not "
                                            "align with codeword segments"
                                        )
                                    segs_sub.append((ln_i, p_i))
                                pacc += p_i
                            _put_npasses(bits, npq)
                            # one lblock comma code covers ALL codeword
                            # segments of this contribution (B.10.7.5);
                            # each segment's length then uses
                            # lblock + floor(log2(segment passes)) bits
                            k = 0
                            for ln_i, p_i in segs_sub:
                                need = max(ln_i.bit_length(), 1)
                                have = int(lb[by, bx]) + int(
                                    np.floor(np.log2(p_i))
                                )
                                k = max(k, need - have)
                            for _ in range(k):
                                bits.put(1)
                            bits.put(0)
                            lb[by, bx] += k
                            for ln_i, p_i in segs_sub:
                                bits.put_bits(
                                    ln_i,
                                    int(lb[by, bx])
                                    + int(np.floor(np.log2(p_i))),
                                )
                            nbytes = sum(ln_i for ln_i, _p in segs_sub)
                            body += data[off : off + nbytes]
            pk = bits.flush()
            if use_eph:
                pk += b"\xff\x92"
            if use_sop:
                pk = (
                    b"\xff\x91\x00\x04" + struct.pack(">H", nsop & 0xFFFF) + pk
                )
            nsop += 1
            packets.append(pk + bytes(body))
        tile_body = b"".join(packets)
        psot = 12 + 2 + len(tile_body)  # SOT seg + SOD marker + body
        sot = struct.pack(">HHIBB", 10, t, psot, 0, 1)
        tile_parts.append(b"\xff\x90" + sot + b"\xff\x93" + tile_body)

    # ---- markers
    siz = struct.pack(
        ">HHIIIIIIIIH", 38 + 3 * p, 0, w, h, 0, 0, tile_w, tile_h, 0, 0, p
    ) + b"".join(struct.pack(">BBB", depth - 1, 1, 1) for _ in range(p))
    scod = (1 if prec else 0) | (2 if use_sop else 0) | (4 if use_eph else 0)
    prec_bytes = (
        bytes((ppy << 4) | ppx for ppx, ppy in prec) if prec else b""
    )
    cod = struct.pack(
        ">HBBHBBBBBB", 12 + len(prec_bytes), scod,
        prog_names.index(progression), n_layers, 0, levels,
        (cb.bit_length() - 3), (cb.bit_length() - 3), cb_style,
        0 if lossy else 1,
    ) + prec_bytes
    n_sub = 3 * levels + 1
    if lossy and qcd_style == 1:
        # scalar derived (Sqcd style 1): ONE 16-bit (ε0<<11 | μ0) value
        e0, mu0, _d0 = qinfo[0]
        qcd = struct.pack(">HB", 5, (guard << 5) | 1) + struct.pack(
            ">H", (e0 << 11) | mu0
        )
    elif lossy:
        # scalar expounded (Sqcd style 2): 16 bits (εb<<11 | μb) per subband
        qcd = struct.pack(">HB", 3 + 2 * n_sub, (guard << 5) | 2) + b"".join(
            struct.pack(">H", (eb << 11) | mu) for (eb, mu, _d) in qinfo
        )
    else:
        eps = [mb_of[(0, "LL")] - _GUARD + 1]
        for r in range(1, levels + 1):
            for bname in ("HL", "LH", "HH"):
                eps.append(mb_of[(r, bname)] - _GUARD + 1)
        if max(eps) > 31:  # 5-bit exponent field; reachable with deep
            # ROI shifts on 16-bit data
            raise NotImplementedError(
                "subband dynamic range exceeds the 5-bit QCD exponent "
                "(reduce the ROI extent or bit depth)"
            )
        qcd = struct.pack(">HB", 3 + n_sub, (_GUARD << 5) | 0) + bytes(
            max(e, 0) << 3 & 0xFF for e in eps
        )
    rgn = b""
    if roi is not None:
        # RGN per component: Srgn=0 (implicit max-shift), SPrgn = shift
        for c in range(p):
            rgn += b"\xff\x5e" + struct.pack(">HBBB", 5, c, 0, roi_shift)
    cs = (
        b"\xff\x4f"
        + b"\xff\x51" + siz
        + b"\xff\x52" + cod
        + b"\xff\x5c" + qcd
        + rgn
        + b"".join(tile_parts)
        + b"\xff\xd9"
    )
    if not container:
        return cs
    jp2_sig = b"\x00\x00\x00\x0cjP  \r\n\x87\n"
    ftyp = struct.pack(">I", 20) + b"ftypjp2 " + struct.pack(">I", 0) + b"jp2 "
    ihdr = struct.pack(">I", 22) + b"ihdr" + struct.pack(">IIHBBBB", h, w, p, depth - 1, 7, 0, 0)
    colr = struct.pack(">I", 15) + b"colr" + bytes([1, 0, 0]) + struct.pack(">I", 17)
    jp2h = struct.pack(">I", 8 + len(ihdr) + len(colr)) + b"jp2h" + ihdr + colr
    jp2c = struct.pack(">I", 8 + len(cs)) + b"jp2c" + cs
    return jp2_sig + ftyp + jp2h + jp2c


@corrupt_guard("jp2")
def decode_jp2(
    data: bytes, max_res: int | None = None, tile_idx: int | None = None
) -> np.ndarray:
    """Lossless decode of this engine's JP2 profile -> (planes, h, w)
    uint8/uint16.  Out-of-profile features raise NotImplementedError with
    the feature named (see module scope note).

    ``max_res`` = resolution-progressive read, THE reason satellite stacks
    ship as JPEG 2000 (the reference's decimated/overview reads,
    utils.read(pixel_size=...)): LRCP orders packets coarse-to-fine, so
    stopping after resolution r reconstructs the exact level-(L-r) LL
    image at 1/2^(L-r) scale from a PREFIX of the codestream — never
    decoding (or at cloud scale, never fetching) the fine-detail bytes.
    max_res=0 reads only the coarsest LL packets.

    ``tile_idx`` decodes ONE tile of a tiled codestream (Isot raster
    order) and returns just that tile's pixels: tiles are independently
    entropy-coded, so only the indexed tile-part's bytes are touched —
    combined with jp2_tile_index this is the tile-parallel executor read
    path for a single huge scene."""
    meta = parse_jp2(data) if data[:2] != b"\xff\x4f" else None
    cs = meta["codestream"] if meta else data
    m = parse_codestream_header(cs)
    lossy = m["wavelet"] == "9/7"
    if m["cb_style"] & ~0x3F:
        raise NotImplementedError(
            f"unknown code-block style bits 0x{m['cb_style']:02x}"
        )
    if m["cb_w"] != m["cb_h"]:
        raise NotImplementedError("rectangular code-blocks not supported")
    if any(c["dx"] != 1 or c["dy"] != 1 for c in m["components"]):
        raise NotImplementedError("subsampled components not supported")
    if any(c["depth"] != m["components"][0]["depth"] for c in m["components"]):
        raise NotImplementedError("mixed component bit depths not supported")
    p, h, w = m["n_components"], m["h"], m["w"]
    levels = m["dwt_levels"]
    cb = m["cb_w"]
    cb_exp = cb.bit_length() - 1
    n_layers = m["n_layers"]
    prog = m["progression"]
    prec = m["precincts"]
    use_sop, use_eph = m["use_sop"], m["use_eph"]
    depth = m["components"][0]["depth"]
    shift = 1 << (depth - 1)

    # one main-header walk captures QCD exponents, guard bits, and any
    # RGN (ROI) markers
    pos = 2
    eps: list[int] = []
    mus: list[int] = []
    guard = None
    qstyle = None
    sot_pos = None
    roi_shifts: dict[int, int] = {}
    while pos + 4 <= len(cs):
        (marker,) = struct.unpack(">H", cs[pos : pos + 2])
        if marker == _SOT:
            sot_pos = pos
            break
        (seglen,) = struct.unpack(">H", cs[pos + 2 : pos + 4])
        if marker == _QCD:
            seg = cs[pos + 4 : pos + 2 + seglen]
            qstyle = seg[0] & 0x1F
            guard = seg[0] >> 5
            if qstyle == 0:  # no quantization (reversible)
                eps = [b >> 3 for b in seg[1:]]
                mus = [0] * len(eps)
            elif qstyle == 1:  # scalar derived: one (ε0, μ0), E.1.1 expand
                (v,) = struct.unpack(">H", seg[1:3])
                e0, mu0 = v >> 11, v & 0x7FF
                eps, mus = [e0], [mu0]
                for r in range(1, levels + 1):
                    eps.extend([max(0, e0 - (r - 1))] * 3)
                    mus.extend([mu0] * 3)
            elif qstyle == 2:  # scalar expounded: (εb<<11 | μb) per subband
                vals = struct.unpack(f">{(len(seg) - 1) // 2}H", seg[1:])
                eps = [v >> 11 for v in vals]
                mus = [v & 0x7FF for v in vals]
            else:
                raise NotImplementedError(
                    f"Sqcd quantization style {qstyle} not supported"
                )
        elif marker == 0xFF5E:  # RGN: ROI shift per component
            seg = cs[pos + 4 : pos + 2 + seglen]
            crgn = seg[0] if p < 257 else struct.unpack(">H", seg[:2])[0]
            off = 1 if p < 257 else 2
            if seg[off] != 0:
                raise NotImplementedError(
                    f"RGN style {seg[off]} not supported (max-shift only)"
                )
            roi_shifts[crgn] = seg[off + 1]
        pos += 2 + seglen
    if sot_pos is None:
        raise ValueError("no tile-part (SOT) in codestream")
    if lossy and qstyle not in (1, 2):
        raise NotImplementedError("9/7 wavelet requires scalar (derived/expounded) QCD")
    if not lossy and qstyle != 0:
        raise NotImplementedError("5/3 reversible wavelet with quantization not supported")
    mb_of = {}
    delta_of = {}

    def _delta(idx: int, gain: int) -> float:
        rb = depth + gain
        return 2.0 ** (rb - eps[idx]) * (1.0 + mus[idx] / 2048.0)

    mb_of[(0, "LL")] = guard + eps[0] - 1
    delta_of[(0, "LL")] = _delta(0, 0)
    i = 1
    for r in range(1, levels + 1):
        for bname, gain in (("HL", 1), ("LH", 1), ("HH", 2)):
            mb_of[(r, bname)] = guard + eps[i] - 1
            delta_of[(r, bname)] = _delta(i, gain)
            i += 1

    # tile grid + per-tile-part byte ranges (marker walk only)
    grid = _tile_grid(h, w, m["tile_h"], m["tile_w"])
    parts = {
        isot: (off, ln) for isot, off, ln in jp2_tile_index(cs)
    }
    if not parts:
        raise ValueError("no tile-part (SOT) in codestream")
    stop_res = levels if max_res is None else min(max_res, levels)
    dt = np.uint8 if depth == 8 else np.uint16

    def _dequant(bl: list[dict]) -> list[dict]:
        """Annex E.2 mid-point reconstruction for the deadzone quantizer:
        yhat = sign(q) * (|q| + 1/2) * delta_b for q != 0, else 0."""
        out = []
        for r, d in enumerate(bl):
            out.append(
                {
                    bname: np.where(
                        q == 0,
                        0.0,
                        np.sign(q) * (np.abs(q) + 0.5) * delta_of[(r, bname)],
                    )
                    for bname, q in d.items()
                }
            )
        return out

    def _invert(bl: list[dict], shape: tuple[int, int]) -> np.ndarray:
        if lossy:
            return np.rint(inv_dwt97(_dequant(bl), shape))
        return inv_dwt53(bl, shape)

    def _decode_tile(t: int) -> np.ndarray:
        """Decode tile-part Isot=t -> (p, oh, ow): only this tile's bytes
        are entropy-decoded (tiles are independently coded)."""
        off, ln = parts[t]
        stream = cs[off + 12 + 2 : off + ln]  # skip SOT seg + SOD marker
        th, tw = grid[t][4], grid[t][5]

        # subband shapes replay the forward split arithmetic per tile
        shapes = [(th, tw)]
        for _ in range(levels):
            hh, ww = shapes[-1]
            shapes.append(((hh + 1) // 2, (ww + 1) // 2))
        comp_bands: list[list[dict]] = []
        for c in range(p):
            bl = [{"LL": np.zeros(shapes[levels], dtype=np.int64)}]
            for r in range(1, levels + 1):
                sh, sw = shapes[levels - r]
                a_w, d_w = (sw + 1) // 2, sw // 2
                a_h, d_h = (sh + 1) // 2, sh // 2
                bl.append(
                    {
                        "HL": np.zeros((a_h, d_w), dtype=np.int64),
                        "LH": np.zeros((d_h, a_w), dtype=np.int64),
                        "HH": np.zeros((d_h, d_w), dtype=np.int64),
                    }
                )
            comp_bands.append(bl)

        # per-band block grids (effective sizes are precinct-clamped) and
        # per-precinct tag-tree / per-block state persisted across layers
        grids: dict = {}
        for c in range(p):
            for r in range(levels + 1):
                cbx_e, cby_e = _cb_eff_exp(cb_exp, r, prec)
                for bname, arr in _res_bands(comp_bands[c], r):
                    nbw = -(-arr.shape[1] // (1 << cbx_e)) if arr.shape[1] else 0
                    nbh = -(-arr.shape[0] // (1 << cby_e)) if arr.shape[0] else 0
                    grids[(c, r, bname)] = (nbw, nbh, cbx_e, cby_e)
        nprec = {
            r: _prec_counts(shapes, levels, r, prec) for r in range(levels + 1)
        }
        trees: dict = {}
        lblocks = {
            k: np.full((g[1], g[0]), 3, dtype=np.int64) for k, g in grids.items()
        }
        included = {
            k: np.zeros((g[1], g[0]), dtype=bool) for k, g in grids.items()
        }
        numbps_of = {
            k: np.zeros((g[1], g[0]), dtype=np.int64) for k, g in grids.items()
        }
        pgots = {  # passes received so far (segment plan offset, B.10.7.5)
            k: np.zeros((g[1], g[0]), dtype=np.int64) for k, g in grids.items()
        }
        segs: dict = {k: {} for k in grids}

        spos = 0
        # resolutions above stop_res are a stream SUFFIX exactly when the
        # sequence is sorted by resolution: r-outer progressions
        # (RLCP/RPCL) always, LRCP only with one layer.  PCRL/CPRL
        # interleave resolutions at every position — parse everything,
        # decode only r <= stop_res.
        prefix_break = prog in ("RLCP", "RPCL") or (
            prog == "LRCP" and n_layers == 1
        )
        for l, r, c, pi in _packet_sequence(
            prog, n_layers, levels, p, nprec, prec, (th, tw)
        ):
            if r > stop_res and prefix_break:
                break
            if use_sop:
                if stream[spos : spos + 2] != b"\xff\x91":
                    raise ValueError("missing SOP marker")
                spos += 6
            bits = _HeaderBits(stream[spos:])
            todo = []
            if bits.get():  # non-empty packet
                for bname, arr in _res_bands(comp_bands[c], r):
                    nbw, nbh, cbx_e, cby_e = grids[(c, r, bname)]
                    if nbw == 0 or nbh == 0:
                        continue
                    bx0, bx1, by0, by1 = _prec_block_range(
                        r, prec, pi, nprec[r][1], cbx_e, cby_e, nbw, nbh
                    )
                    if bx1 <= bx0 or by1 <= by0:
                        continue
                    key = (c, r, pi, bname)
                    if key not in trees:
                        trees[key] = (
                            TagTree(bx1 - bx0, by1 - by0),
                            TagTree(bx1 - bx0, by1 - by0),
                        )
                    incl, zbp = trees[key]
                    lb = lblocks[(c, r, bname)]
                    inc = included[(c, r, bname)]
                    nbp = numbps_of[(c, r, bname)]
                    pgot = pgots[(c, r, bname)]
                    for by in range(by0, by1):
                        for bx in range(bx0, bx1):
                            lbx, lby = bx - bx0, by - by0
                            if inc[by, bx]:
                                if not bits.get():  # no new passes this layer
                                    continue
                            else:
                                if not incl.decode(bits, lbx, lby, l + 1):
                                    continue
                                zbp.decode(bits, lbx, lby, 1 << 30)
                                pmiss = zbp.leaf_value(lbx, lby)
                                nbp[by, bx] = mb_of[(r, bname)] - pmiss
                                inc[by, bx] = True
                            n_passes = _get_npasses(bits)
                            k = 0
                            while bits.get():
                                k += 1
                            lb[by, bx] += k
                            # one length per codeword segment (B.10.7.5)
                            seg_ps = _segments_for(
                                int(pgot[by, bx]), n_passes, m["cb_style"]
                            )
                            lens = [
                                bits.get_bits(
                                    int(lb[by, bx])
                                    + int(np.floor(np.log2(p)))
                                )
                                for p in seg_ps
                            ]
                            pgot[by, bx] += n_passes
                            todo.append(((c, r, bname), bx, by, lens, seg_ps))
            spos += bits.align()
            if use_eph:
                if stream[spos : spos + 2] != b"\xff\x92":
                    raise ValueError("missing EPH marker")
                spos += 2
            for key, bx, by, lens, seg_ps in todo:
                for ln2, sp in zip(lens, seg_ps):
                    segs[key].setdefault((by, bx), []).append(
                        (stream[spos : spos + ln2], sp)
                    )
                    spos += ln2

        # entropy-decode: every included block of the requested resolutions
        # (later-layer segments concatenate — the MQ coder never terminated
        # between passes, so the codeword is contiguous)
        for c in range(p):
            for r in range(stop_res + 1):
                for bname, arr in _res_bands(comp_bands[c], r):
                    key = (c, r, bname)
                    nbw, nbh, cbx_e, cby_e = grids[key]
                    cbw_, cbh_ = 1 << cbx_e, 1 << cby_e
                    for (by, bx), pieces in segs[key].items():
                        y0, x0 = by * cbh_, bx * cbw_
                        bh = min(cbh_, arr.shape[0] - y0)
                        bw = min(cbw_, arr.shape[1] - x0)
                        if m["cb_style"] & 0x05:  # terminated segments
                            entries = pieces
                        else:  # one continuous MQ codeword across layers
                            entries = [(
                                b"".join(b for b, _p in pieces),
                                sum(p for _b, p in pieces),
                            )]
                        vals = decode_codeblock_segments(
                            entries, bh, bw, bname,
                            int(numbps_of[key][by, bx]), m["cb_style"],
                        )
                        rs = roi_shifts.get(c, 0)
                        if rs:
                            # ROI max-shift: magnitudes clearing 2^s are
                            # ROI coefficients scaled up by the encoder
                            hi_m = np.abs(vals) >= (1 << rs)
                            vals = np.where(
                                hi_m,
                                np.sign(vals) * (np.abs(vals) >> rs),
                                vals,
                            )
                        arr[y0 : y0 + bh, x0 : x0 + bw] = vals

        # partial reconstruction inverts only the decoded resolutions: the
        # exact (5/3) / dequantized (9/7) level-(levels - stop_res) LL —
        # the 9/7 LL keeps the input's nominal range (table E.1 gain 0)
        oh, ow = shapes[levels - stop_res]
        return np.stack(
            [
                np.clip(
                    _invert(comp_bands[c][: stop_res + 1], (oh, ow)) + shift,
                    0, (1 << depth) - 1,
                )
                for c in range(p)
            ]
        ).astype(dt)

    if tile_idx is not None:
        return _decode_tile(tile_idx)

    # mosaic: per-tile decodes pasted at (possibly coarse-scale) offsets
    def _coarse(n: int) -> int:
        for _ in range(levels - stop_res):
            n = (n + 1) // 2
        return n

    ntx = (w + m["tile_w"] - 1) // m["tile_w"]
    nty = (h + m["tile_h"] - 1) // m["tile_h"]
    row_h = [_coarse(grid[ty * ntx][4]) for ty in range(nty)]
    col_w = [_coarse(grid[tx][5]) for tx in range(ntx)]
    out = np.zeros((p, sum(row_h), sum(col_w)), dtype=dt)
    for t, (ty, tx, _y0, _x0, _th, _tw) in enumerate(grid):
        dec = _decode_tile(t)
        yo, xo = sum(row_h[:ty]), sum(col_w[:tx])
        out[:, yo : yo + dec.shape[1], xo : xo + dec.shape[2]] = dec
    return out
