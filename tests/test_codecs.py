import numpy as np
import pytest

from eoreader_spark import codecs


@pytest.mark.parametrize("seed,h,w", [(0, 64, 64), (7, 128, 256), (13, 256, 128)])
def test_roundtrip_exact(seed, h, w):
    img = codecs.make_image(seed, h, w)
    for fmt in ("raw8", "png"):
        dec = codecs.decode(codecs.encode(img, fmt), fmt, h, w)
        assert np.array_equal(img, dec), fmt


def test_lossy_psnr_gate():
    # the BASELINE.json:15 invariant: lossy fmt decodes within PSNR>=40dB
    img = codecs.make_image(42, 128, 128)
    dec = codecs.decode(codecs.encode(img, "jpeg"), "jpeg", 128, 128)
    p = codecs.psnr(img, dec)
    assert 40.0 <= p < float("inf")
    assert np.abs(img.astype(int) - dec.astype(int)).max() <= 2


def test_pixel_fn_is_closed_form():
    img = codecs.make_image(3, 64, 64)
    assert img[1, 5, 9] == (3 * 7 + 1 * 31 + 9 * 13 + 5 * 17 + (9 * 5) % 29) % 256


def test_cached_pixel_grids_are_read_only():
    for grid in codecs._plane_base(64, 64):
        with pytest.raises(ValueError, match="read-only"):
            grid += 1
    img = codecs.make_image(3, 64, 64)  # the cached grids are intact
    assert img[1, 5, 9] == (3 * 7 + 1 * 31 + 9 * 13 + 5 * 17 + (9 * 5) % 29) % 256


def test_png_decoder_handles_filters():
    # decoder must handle every spec filter (None/Sub/Up/Average/Paeth),
    # not just our encoder's filter 0
    import struct
    import zlib

    img = codecs.make_image(5, 16, 16)
    rgb = np.transpose(img, (1, 2, 0)).reshape(16, 48).astype(np.int32)
    rows = []
    for r in range(16):
        prev = rgb[r - 1] if r > 0 else np.zeros(48, dtype=np.int32)
        if r % 5 == 0:
            rows.append(b"\x00" + rgb[r].astype(np.uint8).tobytes())
        elif r % 5 == 1:  # Sub
            line = rgb[r].copy()
            enc = line.copy()
            enc[3:] = (line[3:] - line[:-3]) & 0xFF
            rows.append(b"\x01" + enc.astype(np.uint8).tobytes())
        elif r % 5 == 2:  # Up
            enc = (rgb[r] - prev) & 0xFF
            rows.append(b"\x02" + enc.astype(np.uint8).tobytes())
        elif r % 5 == 3:  # Average
            line = rgb[r]
            left = np.concatenate([[0, 0, 0], line[:-3]])
            enc = (line - ((left + prev) >> 1)) & 0xFF
            rows.append(b"\x03" + enc.astype(np.uint8).tobytes())
        else:  # Paeth
            line = rgb[r]
            enc = np.empty(48, dtype=np.int32)
            for c in range(48):
                a = line[c - 3] if c >= 3 else 0
                b = prev[c]
                cc = prev[c - 3] if c >= 3 else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[c] = (line[c] - pred) & 0xFF
            rows.append(b"\x04" + enc.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + codecs._chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(data), img)
