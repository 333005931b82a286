"""Deterministic image codecs operating on numpy arrays (Arrow-batch friendly).

Reference analog: eoreader's raster read/write layer
(/root/reference/eoreader/utils.py:137-299 — rasterio GeoTIFF/JP2 decode,
COG encode).  The container has no rasterio/PIL/libjpeg, so:

- ``raw8``  : planes.tobytes() of a (PLANES, h, w) uint8 array — exact.
- ``png``   : a REAL minimal PNG codec (8-bit RGB, zlib, all five scanline
              filters) written here from the public PNG spec — exact
              round-trip.
- ``jpeg``  : DETERMINISTIC FAKE lossy codec ("qjpg"): uniform quantization by
              Q=3 + zlib.  Kept because its closed form (round(v/3)*3) is
              SQL-replayable, which the value-exact gate oracles rely on.
- ``jfif``  : REAL baseline JPEG (sources/jpegc.py — 8x8 DCT, Annex K
              quantization + Huffman tables, byte-stuffed scans, written from
              the public ITU-T T.81 spec).  Any plane count via one
              non-interleaved scan per component; default quality 95 keeps
              PSNR >= 40 dB (BASELINE.json:15) on worst-case content.
- ``tiff``  : REAL GeoTIFF container (sources/geotiff.py, uncompressed
              planar, geo tags).

Images are N-plane uint8 (planes = spectral bands per the band_map table),
row-major (plane, y, x).  The legacy default is 3 planes (RED/GREEN/NIR);
multispectral layouts (see eoreader_spark.bands) carry up to 14.  raw8 infers
the plane count from the payload size; qjpg stores it in the header when
planes != 3 (legacy 3-plane payloads stay byte-identical so golden fixtures
hold); png is RGB-only (3 planes) by the spec.  Per-image Python here is
fine: codecs run inside mapInArrow/pandas-UDF batches, one call per image
(not per pixel), with numpy doing the pixel work.
"""

from __future__ import annotations

import functools
import struct
import wave
import zlib

import numpy as np

PLANES = 3  # legacy default plane count (RED/GREEN/NIR)


def corrupt_guard(fmt: str):
    """Decorator for decoder entry points: convert low-level parsing
    crashes on malformed bytes (IndexError, struct.error, zlib.error, ...)
    into a named ValueError, preserving the original as __cause__.

    Why (round 6, found by fuzzing every from-scratch decoder with
    truncation/bit-flips): at 100 TB of third-party payloads a corrupt row
    must fail with a CATCHABLE, format-named error the ingest job can
    quarantine — not kill the whole Arrow batch with a bare IndexError
    from deep inside a marker walk.  Deliberate semantic raises
    (ValueError / NotImplementedError / KeyError) pass through unchanged."""
    def wrap(fn):
        @functools.wraps(fn)
        def inner(*a, **k):
            try:
                return fn(*a, **k)
            except (ValueError, NotImplementedError, KeyError):
                raise
            except (IndexError, struct.error, zlib.error, wave.Error,
                    AssertionError, OverflowError, EOFError, TypeError,
                    ZeroDivisionError, RecursionError, MemoryError) as e:
                # TypeError/ZeroDivisionError/RecursionError/MemoryError
                # (round 7, ADVICE): backstop for crash classes a mutated
                # field can still reach past the boundary validation —
                # np.dtype('i3'), zero chunk dims, self-referencing B-tree
                # nodes, allocation bombs.  Validation at the parse boundary
                # is the primary defense; this keeps the contract (named
                # ValueError) even for a class the validators miss.
                raise ValueError(
                    f"corrupt or truncated {fmt} stream "
                    f"({type(e).__name__}: {e})"
                ) from e
        return inner
    return wrap
_QJPG_MAGIC = b"QJPG"
_QJPG_MAGIC_N = b"QJPN"  # n-plane variant: header carries the plane count
_QJPG_Q = 3


# ---------------------------------------------------------------- pixel oracle
def pixel_plane(seed: int, plane: int, h: int, w: int) -> np.ndarray:
    """Closed-form deterministic pixel function (the test oracle).

    value(p, y, x) = (seed*7 + p*31 + x*13 + y*17 + ((x*y) % 29)) % 256
    Chosen so every kernel (index math, stats, tiles) has an analytic
    reference computable in numpy or SQL.
    """
    base, xy29 = _plane_base(h, w)
    v = (seed * 7 + plane * 31 + base + xy29) % 256
    return v.astype(np.uint8)


@functools.lru_cache(maxsize=32)
def _plane_base(h: int, w: int) -> tuple[np.ndarray, np.ndarray]:
    """Seed-independent terms of pixel_plane, cached per (h, w) — the mgrid
    and the two integer grids dominated the per-image generator cost (r9
    profile); image dims cycle over a handful of sizes, so the cache is
    tiny and every cached term is exact integer math (bit-identical).  The
    grids are shared by every caller, so they are read-only."""
    y, x = np.mgrid[0:h, 0:w]
    grids = x * 13 + y * 17, (x * y) % 29
    for g in grids:
        g.flags.writeable = False
    return grids


def make_image(seed: int, h: int, w: int, planes: int = PLANES) -> np.ndarray:
    return np.stack([pixel_plane(seed, p, h, w) for p in range(planes)])


# ---------------------------------------------------------------------- raw8
def encode_raw8(img: np.ndarray) -> bytes:
    return np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def decode_raw8(data: bytes, h: int, w: int) -> np.ndarray:
    planes = len(data) // (h * w)  # headerless: plane count from payload size
    return np.frombuffer(data, dtype=np.uint8).reshape(planes, h, w)


# ----------------------------------------------------------------------- png
def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Minimal PNG: 8-bit RGB (color type 2), filter 0 per scanline."""
    p, h, w = img.shape
    assert p == PLANES
    rgb = np.ascontiguousarray(np.transpose(img, (1, 2, 0)))  # (h, w, 3)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), rgb.reshape(h, w * 3)], axis=1
    ).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes, h: int | None = None, w: int | None = None) -> np.ndarray:
    """Decode 8-bit RGB PNG — filters 0 None / 1 Sub / 2 Up / 3 Average /
    4 Paeth (RFC 2083 §6)."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    idat = []
    width = height = None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB PNG supported")
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(b"".join(idat))
    stride = width * 3
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters = rows[:, 0]
    if not filters.any():  # all filter-0 scanlines (our encoder's output): one slice
        rgb = rows[:, 1:].reshape(height, width, 3)
        return np.ascontiguousarray(np.transpose(rgb, (2, 0, 1)))
    px = rows[:, 1:].astype(np.int32)
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(height):
        f = filters[r]
        line = px[r]
        if f == 0:
            rec = line
        elif f == 1:  # Sub
            rec = line.copy()
            for c in range(3, stride):
                rec[c] = (rec[c] + rec[c - 3]) & 0xFF
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        elif f == 3:  # Average: left/up dependency chain forces per-pixel x
            rec = line.copy()
            for c in range(stride):
                left = rec[c - 3] if c >= 3 else 0
                rec[c] = (rec[c] + ((left + prev[c]) >> 1)) & 0xFF
        elif f == 4:  # Paeth predictor (RFC 2083 §6.6)
            rec = line.copy()
            for c in range(stride):
                a = rec[c - 3] if c >= 3 else 0
                b = prev[c]
                cc = prev[c - 3] if c >= 3 else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                rec[c] = (rec[c] + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter {f} not supported")
        out[r] = rec.astype(np.uint8)
        prev = out[r].astype(np.int32)
    rgb = out.reshape(height, width, 3)
    return np.ascontiguousarray(np.transpose(rgb, (2, 0, 1)))


# ---------------------------------------------------------------- fake lossy
def encode_jpeg(img: np.ndarray) -> bytes:
    """DETERMINISTIC FAKE lossy codec (no libjpeg in container).

    Uniform quantization (round to multiples of Q=3) + zlib.  PSNR vs the
    original ~49 dB — above the 40 dB gate, below exactness, mimicking real
    JPEG's role in the test matrix.  3-plane payloads keep the legacy QJPG
    header byte-for-byte; other plane counts use the QJPN header which adds
    a plane-count byte.
    """
    p, h, w = img.shape
    q = np.round(img.astype(np.float32) / _QJPG_Q).astype(np.uint8)
    if p == PLANES:
        head = _QJPG_MAGIC + struct.pack(">HHB", w, h, _QJPG_Q)
    else:
        head = _QJPG_MAGIC_N + struct.pack(">HHBB", w, h, _QJPG_Q, p)
    return head + zlib.compress(q.tobytes(), 6)


def decode_jpeg(data: bytes, h: int | None = None, w: int | None = None) -> np.ndarray:
    if data[:4] == _QJPG_MAGIC:
        w, h, q = struct.unpack(">HHB", data[4:9])
        p, body = PLANES, data[9:]
    elif data[:4] == _QJPG_MAGIC_N:
        w, h, q, p = struct.unpack(">HHBB", data[4:10])
        body = data[10:]
    else:
        raise AssertionError("not a qjpg payload")
    arr = np.frombuffer(zlib.decompress(body), dtype=np.uint8)
    arr = arr.reshape(p, h, w).astype(np.int32) * q
    return np.clip(arr, 0, 255).astype(np.uint8)


def encode_tiff(img: np.ndarray) -> bytes:
    """REAL GeoTIFF container (uncompressed planar, pure-numpy writer —
    sources/geotiff.py); the codec table's first real container format."""
    from eoreader_spark.sources import geotiff

    return geotiff.encode_geotiff(img)


def decode_tiff(data: bytes, h: int | None = None, w: int | None = None) -> np.ndarray:
    from eoreader_spark.sources import geotiff

    # keep the container's native dtype: a uint16 raster truncated to uint8
    # silently wraps mod 256 (round-4 fix; the tile path casts to float32,
    # which holds every uint16 exactly)
    img, _meta = geotiff.decode_geotiff(data)
    return img


def encode_jfif(img: np.ndarray) -> bytes:
    """REAL baseline JPEG (sources/jpegc.py: DCT + quantization + Huffman,
    pure numpy from the public T.81 spec).  Registered as its own fmt so the
    closed-form 'jpeg' (qjpg) oracles stay replayable; gate queries that
    exercise a true transform codec use 'jfif'."""
    from eoreader_spark.sources import jpegc

    return jpegc.encode_jfif(img)


def decode_jfif(data: bytes, h: int | None = None, w: int | None = None) -> np.ndarray:
    from eoreader_spark.sources import jpegc

    return jpegc.decode_jfif(data)


def encode_jp2(img: np.ndarray) -> bytes:
    """REAL lossless JPEG 2000 (sources/jp2.py: 5/3 reversible DWT +
    MQ-coded EBCOT + tag-tree packets, pure numpy from ISO 15444-1) —
    Sentinel-2's actual on-disk band format (reference s2_product.py:592)."""
    from eoreader_spark.sources import jp2

    return jp2.encode_jp2(img)


def decode_jp2(data: bytes, h: int | None = None, w: int | None = None) -> np.ndarray:
    from eoreader_spark.sources import jp2

    # native dtype (uint8/uint16) — see decode_tiff note
    return jp2.decode_jp2(data)


def encode_nc(img: np.ndarray) -> bytes:
    """REAL HDF5 container (sources/hdf5.py, the netCDF4 substrate) — the
    reference's Sentinel-3 OLCI/SLSTR band format is netCDF4 read via
    h5netcdf (s3_product.py:788-886): one ``OaNN_radiance`` dataset per
    plane, int16 DN, chunked + deflate, netCDF scale/offset/fill attrs."""
    from eoreader_spark.sources import hdf5

    return hdf5.encode_nc(img)


def decode_nc(data: bytes, h: int | None = None, w: int | None = None) -> np.ndarray:
    from eoreader_spark.sources import hdf5

    return hdf5.decode_nc(data, h, w)


_ENCODERS = {"raw8": encode_raw8, "png": encode_png, "jpeg": encode_jpeg, "tiff": encode_tiff,
             "jfif": encode_jfif, "jp2": encode_jp2, "nc": encode_nc}
_DECODERS = {"raw8": decode_raw8, "png": decode_png, "jpeg": decode_jpeg, "tiff": decode_tiff,
             "jfif": decode_jfif, "jp2": decode_jp2, "nc": decode_nc}


def encode(img: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](img)


def decode(data: bytes, fmt: str, h: int, w: int) -> np.ndarray:
    """-> (planes, h, w) in the container's native dtype (uint8, or uint16
    for 16-bit GeoTIFF/JP2 — S2 DNs are uint16).  Malformed bytes raise a
    named ValueError for ANY codec in the table (corrupt_guard), so ingest
    jobs can quarantine bad rows without losing the batch."""
    dec = _DECODERS[fmt]
    return corrupt_guard(fmt)(dec)(data, h, w)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (the BASELINE.json:15 invariant)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)
