"""Real JPEG 2000 codec (sources/jp2.py): the reference's actual Sentinel-2
band format (s2_product.py:592 globs *.jp2), implemented pure-numpy from the
public ISO/IEC 15444-1 spec — reversible 5/3 DWT, MQ arithmetic coder,
EBCOT coding passes, tag-tree packet headers, JP2 container boxes."""

from __future__ import annotations

import numpy as np
import pytest

from eoreader_spark import codecs
from eoreader_spark.sources import jp2


def test_mq_coder_roundtrip():
    rng = np.random.RandomState(0)
    for trial in range(10):
        n = int(rng.randint(1, 3000))
        ncx = int(rng.randint(1, 19))
        cxs = rng.randint(0, ncx, size=n)
        ds = (rng.rand(n) < rng.rand(ncx)[cxs]).astype(int)
        enc = jp2.MQEncoder(ncx)
        for c, d in zip(cxs, ds):
            enc.encode(int(c), int(d))
        dec = jp2.MQDecoder(enc.flush(), ncx)
        assert [dec.decode(int(c)) for c in cxs] == list(ds), trial


def test_dwt53_is_reversible():
    rng = np.random.RandomState(1)
    for shape in [(64, 64), (65, 67), (33, 1), (1, 33), (5, 5)]:
        img = rng.randint(-300, 300, size=shape)
        for levels in (1, 2, 3):
            back = jp2.inv_dwt53(jp2.fwd_dwt53(img, levels), shape)
            assert np.array_equal(back, img), (shape, levels)


def test_codeblock_roundtrip_all_bands():
    rng = np.random.RandomState(2)
    for band in ("LL", "HL", "LH", "HH"):
        c = np.zeros((30, 22), dtype=np.int64)
        c[rng.rand(30, 22) < 0.2] = rng.randint(-500, 500)
        segs, numbps = jp2.encode_codeblock_segments(c, band)
        assert np.array_equal(jp2.decode_codeblock_segments(segs, 30, 22, band, numbps), c)


@pytest.mark.parametrize(
    "shape,levels,dt",
    [
        ((1, 64, 64), 2, np.uint8),
        ((3, 64, 96), 2, np.uint8),
        ((2, 70, 53), 3, np.uint16),
        ((1, 8, 8), 1, np.uint8),
    ],
)
def test_jp2_lossless_roundtrip(shape, levels, dt):
    rng = np.random.RandomState(3)
    hi = 256 if dt == np.uint8 else 65536
    img = rng.randint(0, hi, size=shape).astype(dt)
    for container in (True, False):
        out = jp2.decode_jp2(jp2.encode_jp2(img, levels=levels, container=container))
        assert out.dtype == dt and np.array_equal(out, img)


def test_jp2_compresses_smooth_rasters():
    y, x = np.mgrid[0:128, 0:128]
    sm = ((np.sin(x / 9) * np.cos(y / 11) * 100) + 128).astype(np.uint8)[None]
    b = jp2.encode_jp2(sm, levels=3)
    assert len(b) < sm.size // 3
    assert np.array_equal(jp2.decode_jp2(b), sm)


def test_parse_jp2_metadata():
    img = codecs.make_image(5, 64, 96, planes=3)
    meta = jp2.parse_jp2(jp2.encode_jp2(img))
    assert (meta["w"], meta["h"], meta["n_components"]) == (96, 64, 3)
    assert meta["wavelet"] == "5/3" and meta["progression"] == "LRCP"
    assert meta["ihdr_w"] == 96 and meta["ihdr_components"] == 3
    with pytest.raises(ValueError, match="not a JP2"):
        jp2.parse_jp2(b"\x89PNG" + b"\x00" * 40)


def test_out_of_profile_signals():
    img = codecs.make_image(1, 32, 32, planes=1)
    b = bytearray(jp2.encode_jp2(img, container=False))
    # flip the COD wavelet byte (last SPcod byte) to 9/7 irreversible
    i = b.find(b"\xff\x52")
    # marker(2) + Lcod(2) + Scod(1) + SGcod(4) + SPcod[levels,cbw,cbh,style]
    b[i + 13] = 0  # the SPcod wavelet byte -> 9/7 irreversible
    with pytest.raises(NotImplementedError, match="9/7"):
        jp2.decode_jp2(bytes(b))


def test_jp2_through_codec_table():
    img = codecs.make_image(7, 64, 64, planes=3)
    assert np.array_equal(codecs.decode(codecs.encode(img, "jp2"), "jp2", 64, 64), img)


def test_jp2_distributed_tile_path(spark):
    """fmt='jp2' images decode through the standard distributed tile path
    bit-for-bit (lossless)."""
    import pandas as pd

    from eoreader_spark.operators import raster

    def gen(it):
        for pdf in it:
            rows = []
            for j in pdf["id"].astype("int64"):
                j = int(j)
                img = codecs.make_image(j, 64, 64, planes=3)
                rows.append((f"jp2_{j}", codecs.encode(img, "jp2"), 64, 64, "jp2"))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])

    images = spark.range(3, numPartitions=2).mapInPandas(
        gen, schema="image_id string, bytes binary, w int, h int, fmt string"
    )
    tiles = raster.tiles_from_images(images, plane=2)
    got = {r.image_id: np.asarray(r.px) for r in tiles.collect()}
    for j in range(3):
        want = codecs.make_image(j, 64, 64, planes=3)[2].astype(np.float64).ravel()
        assert np.array_equal(got[f"jp2_{j}"], want), j


def test_codec_table_preserves_uint16():
    """16-bit rasters must NOT silently wrap mod 256 through the codec
    table (round-4 fix: S2 DNs are uint16)."""
    img16 = (codecs.make_image(0, 32, 32, planes=3).astype(np.uint16) * 257)
    dec = codecs.decode(jp2.encode_jp2(img16), "jp2", 32, 32)
    assert dec.dtype == np.uint16 and np.array_equal(dec, img16)
    from eoreader_spark.sources import geotiff
    dec_t = codecs.decode(geotiff.encode_geotiff(img16), "tiff", 32, 32)
    assert dec_t.dtype == np.uint16 and np.array_equal(dec_t, img16)


def test_resolution_progressive_decode():
    """LRCP prefix decode: max_res=r reconstructs the EXACT level-(L-r) LL
    approximation at 1/2^(L-r) scale — the reference's decimated/overview
    read on the real container."""
    rng = np.random.RandomState(9)
    img = rng.randint(0, 65536, size=(2, 64, 96)).astype(np.uint16)
    b = jp2.encode_jp2(img, levels=2)
    bands = [jp2.fwd_dwt53(img[c].astype(np.int64) - 32768, 2) for c in range(2)]
    p0 = jp2.decode_jp2(b, max_res=0)
    assert p0.shape == (2, 16, 24)
    for c in range(2):
        want = np.clip(bands[c][0]["LL"] + 32768, 0, 65535)
        assert np.array_equal(p0[c], want)
    p1 = jp2.decode_jp2(b, max_res=1)
    assert p1.shape == (2, 32, 48)
    for c in range(2):
        want = np.clip(jp2.inv_dwt53(bands[c][:2], (32, 48)) + 32768, 0, 65535)
        assert np.array_equal(p1[c], want)
    assert np.array_equal(jp2.decode_jp2(b, max_res=2), img)  # full


def test_jp2_degenerate_images():
    """All-zero, constant, and 1x1 images round-trip (all-zero blocks are
    coded as one cleanup pass of zeros; numbps floor of 1)."""
    z = np.zeros((2, 16, 16), dtype=np.uint8)
    assert np.array_equal(jp2.decode_jp2(jp2.encode_jp2(z, levels=2)), z)
    one = np.array([[[7]]], dtype=np.uint8)
    assert np.array_equal(jp2.decode_jp2(jp2.encode_jp2(one, levels=1)), one)
    c = np.full((1, 32, 32), 200, dtype=np.uint8)
    assert np.array_equal(jp2.decode_jp2(jp2.encode_jp2(c, levels=3)), c)


class _BitRecorder:
    """Duck-typed _HeaderBits write side that records raw bits as a string
    (no FF-stuffing) for exact ISO bit-layout comparison."""

    def __init__(self):
        self.s = ""

    def put(self, bit):
        self.s += "1" if bit & 1 else "0"

    def put_bits(self, value, n):
        for i in range(n - 1, -1, -1):
            self.put((value >> i) & 1)


def test_npasses_iso_table_b4_bit_layout():
    """ISO/IEC 15444-1 Table B.4 comma code, pinned bit-for-bit (the 3-5
    range is '11'+2 bits — n=4 must be '1101', not the 5-bit '11001' that a
    '110'-prefix deviation would produce; OpenJPEG opj_t2_getnumpasses)."""
    expected = {
        1: "0",
        2: "10",
        3: "1100",
        4: "1101",
        5: "1110",
        6: "1111" + "00000",
        36: "1111" + "11110",
        37: "111111111" + "0000000",
        164: "111111111" + "1111111",
    }
    for n, want in expected.items():
        rec = _BitRecorder()
        jp2._put_npasses(rec, n)
        assert rec.s == want, f"n={n}: {rec.s} != {want}"
    # full-range encode->decode identity through the real FF-stuffed
    # header bit I/O (covers both escapes)
    for n in range(1, 165):
        hb = jp2._HeaderBits()
        jp2._put_npasses(hb, n)
        assert jp2._get_npasses(jp2._HeaderBits(data=hb.flush())) == n


def test_jp2_numbps2_blocks_roundtrip():
    """Code-blocks whose max |coefficient| is 2-3 (numbps=2 -> 4 coding
    passes) exercise the 3-5 comma-code range that desynced conformant
    readers before the Table B.4 fix."""
    rng = np.random.RandomState(7)
    # small values around mid-scale keep DWT coefficients in the 2-3 range
    img = (128 + rng.randint(-2, 3, size=(1, 64, 64))).astype(np.uint8)
    assert np.array_equal(jp2.decode_jp2(jp2.encode_jp2(img, levels=2)), img)
    img16 = (32768 + rng.randint(-3, 4, size=(2, 48, 80))).astype(np.uint16)
    assert np.array_equal(jp2.decode_jp2(jp2.encode_jp2(img16, levels=3)), img16)


# ------------------------------------------------------------ 9/7 lossy
def test_dwt97_is_self_inverse():
    """Annex F.4.8 lifting: inverse(forward) reconstructs to float64
    rounding noise, including odd dimensions and singleton axes."""
    rng = np.random.RandomState(11)
    for shape in ((33, 47), (64, 64), (1, 17), (16, 1)):
        x = rng.normal(0.0, 1000.0, shape)
        levels = 3 if min(shape) > 8 else 1
        got = jp2.inv_dwt97(jp2.fwd_dwt97(x, levels), shape)
        assert np.abs(got - x).max() < 1e-9 * max(1.0, np.abs(x).max())


def test_dwt97_ll_keeps_nominal_range():
    """Table E.1 gain: the LL subband of a constant image IS the constant
    (DC gain 1 after K-normalization) — the property the overview read and
    the quantizer exponent arithmetic both rely on."""
    b = jp2.fwd_dwt97(np.full((32, 48), 7.0), 2)
    assert np.allclose(b[0]["LL"], 7.0)
    assert all(
        np.abs(d[k]).max() < 1e-9 for d in b[1:] for k in ("HL", "LH", "HH")
    )


@pytest.mark.parametrize("qstep,min_psnr", [(0.25, 70.0), (2.0, 40.0)])
def test_jp2_lossy_rate_distortion(qstep, min_psnr):
    """9/7 + deadzone quantization: PSNR tracks the step size, and the
    coarser step compresses a smooth raster far below raw size."""
    yy, xx = np.mgrid[0:80, 0:96]
    img = (120 + 60 * np.sin(yy / 9.0) + 50 * np.cos(xx / 11.0)).astype(
        np.uint8
    )[None]
    data = jp2.encode_jp2(img, levels=3, wavelet="9/7", qstep=qstep)
    dec = jp2.decode_jp2(data)
    assert dec.shape == img.shape and dec.dtype == img.dtype
    err = dec.astype(np.float64) - img.astype(np.float64)
    psnr = 10 * np.log10(255.0**2 / max((err**2).mean(), 1e-12))
    assert psnr > min_psnr
    if qstep == 2.0:
        assert len(data) < img.size // 10


def test_jp2_lossy_uint16_and_multicomponent():
    yy, xx = np.mgrid[0:48, 0:80]
    img = np.stack(
        [((yy * 131 + xx * 57) % 4096), ((yy * 29 + xx * 91) % 3000)]
    ).astype(np.uint16)
    dec = jp2.decode_jp2(jp2.encode_jp2(img, levels=2, wavelet="9/7", qstep=1.0))
    assert dec.dtype == np.uint16 and dec.shape == img.shape
    assert np.abs(dec.astype(np.int64) - img.astype(np.int64)).max() <= 2


def test_jp2_lossy_overview_read():
    """Resolution-progressive reads work on the lossy profile too: a packet
    prefix reconstructs the dequantized coarse LL at 1/2^k scale."""
    yy, xx = np.mgrid[0:64, 0:64]
    img = (128 + 100 * np.sin((yy + xx) / 13.0)).astype(np.uint8)[None]
    data = jp2.encode_jp2(img, levels=3, wavelet="9/7", qstep=0.5)
    ov = jp2.decode_jp2(data, max_res=1)
    assert ov.shape == (1, 16, 16)
    # the overview approximates the clean forward transform's level-2 LL
    # (the only divergence is quantization error, bounded by the step)
    ll2 = jp2.fwd_dwt97(img[0].astype(np.float64) - 128.0, 2)[0]["LL"] + 128.0
    assert np.abs(ov[0].astype(np.float64) - ll2).max() < 8.0 * 0.5


def test_jp2_lossy_qcd_guards():
    """Mismatched wavelet/quantization combinations raise with the feature
    named: 5/3 + scalar-expounded QCD and 9/7 + no-quantization are both
    out of profile."""
    img = codecs.make_image(3, 32, 32, planes=1)
    lossy = bytearray(jp2.encode_jp2(img, wavelet="9/7", container=False))
    i = lossy.find(b"\xff\x52")
    lossy[i + 13] = 1  # claim 5/3 reversible against the expounded QCD
    with pytest.raises(NotImplementedError, match="5/3"):
        jp2.decode_jp2(bytes(lossy))
    with pytest.raises(ValueError, match="wavelet"):
        jp2.encode_jp2(img, wavelet="7/5")


# ------------------------------------------------------------ multi-tile
def test_jp2_multitile_lossless_roundtrip():
    """Tiled codestreams (one SOT/SOD tile-part per tile, shared main-header
    QCD across tiles): bit-exact round trip including clipped edge tiles."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(2, 100, 130)).astype(np.uint8)
    for tile in (64, 48):
        data = jp2.encode_jp2(img, levels=2, tile=tile)
        assert np.array_equal(jp2.decode_jp2(data), img)
        meta = jp2.parse_codestream_header(jp2.parse_jp2(data)["codestream"])
        assert meta["tile_w"] == min(tile, 130)


def test_jp2_tile_index_and_single_tile_decode():
    """jp2_tile_index walks only marker segments to the per-tile byte
    ranges; decode_jp2(tile_idx=) decodes exactly one tile's pixels — the
    ranged-read unit an executor fetches for tile-parallel decode of one
    huge scene."""
    rng = np.random.RandomState(5)
    img = rng.randint(0, 4096, size=(1, 100, 130)).astype(np.uint16)
    data = jp2.encode_jp2(img, levels=2, tile=48)
    idx = jp2.jp2_tile_index(data)
    assert [i for i, _o, _l in idx] == list(range(9))  # 3x3 grid, Isot order
    grid = jp2._tile_grid(100, 130, 48, 48)
    # byte ranges tile the tile-part region: each starts with an SOT marker
    for _i, off, ln in idx:
        assert data[off : off + 2] == b"\xff\x90"
    for t, (_ty, _tx, y0, x0, th, tw) in enumerate(grid):
        sub = jp2.decode_jp2(data, tile_idx=t)
        assert np.array_equal(sub, img[:, y0 : y0 + th, x0 : x0 + tw])


def test_jp2_multitile_lossy_and_overview():
    """The 9/7 profile and resolution-progressive reads compose with
    tiling: per-tile quantized transforms mosaic back with bounded error,
    and max_res pastes per-tile coarse LLs at coarse offsets."""
    yy, xx = np.mgrid[0:96, 0:128]
    img = (120 + 60 * np.sin(yy / 9.0) + 50 * np.cos(xx / 11.0)).astype(
        np.uint8
    )[None]
    data = jp2.encode_jp2(img, levels=2, wavelet="9/7", qstep=0.5, tile=64)
    dec = jp2.decode_jp2(data)
    assert np.abs(dec.astype(np.int64) - img.astype(np.int64)).max() <= 2
    ov = jp2.decode_jp2(data, max_res=0)
    assert ov.shape == (1, 24, 32)
    # tiled overview == mosaic of per-tile overviews (same code path as a
    # distributed coarse read)
    d53 = jp2.encode_jp2(img, levels=2, tile=64)
    ov53 = jp2.decode_jp2(d53, max_res=1)
    assert ov53.shape == (1, 48, 64)


def test_jp2_scene_tiles_distributed(spark, tmp_path):
    """Tile-parallel scene decode (operators/raster.jp2_scene_tiles): the
    index stage emits narrow split descriptors, the decode stage ranged-
    reads ONE tile-part per row, and the reassembled mosaic is bit-exact.
    max_res composes (per-tile coarse LLs)."""
    from eoreader_spark.operators import raster

    rng = np.random.RandomState(21)
    paths = []
    imgs = {}
    for j in range(2):
        img = rng.randint(0, 256, size=(2, 100, 130)).astype(np.uint8)
        p = str(tmp_path / f"scene{j}.jp2")
        with open(p, "wb") as f:
            f.write(jp2.encode_jp2(img, levels=2, tile=48))
        paths.append((f"sc{j}", p))
        imgs[f"sc{j}"] = img
    files = spark.createDataFrame(paths, "image_id string, path string")

    out = raster.jp2_scene_tiles(files, plane=1)
    rows = out.collect()
    assert len(rows) == 2 * 9  # 3x3 grid per scene
    grid = jp2._tile_grid(100, 130, 48, 48)
    for r in rows:
        t = next(
            i for i, (ty, tx, *_rest) in enumerate(grid)
            if tx == r.tile_x and ty == r.tile_y
        )
        _ty, _tx, y0, x0, th, tw = grid[t]
        want = imgs[r.image_id][1, y0 : y0 + th, x0 : x0 + tw]
        assert (r.th, r.tw) == (th, tw)
        assert np.array_equal(
            np.asarray(r.px, dtype=np.float32).reshape(th, tw), want
        ), (r.image_id, t)

    # coarse read: every tile decodes only its LL prefix
    ov = raster.jp2_scene_tiles(files, plane=0, max_res=0).collect()
    assert all(r.th == -(-g[4] // 4) for r, g in
               [(r, grid[next(i for i, g in enumerate(grid)
                              if g[1] == r.tile_x and g[0] == r.tile_y)])
                for r in ov])


def test_jp2_lossy_derived_quantization():
    """Sqcd style 1 (scalar derived, Annex E.1.1): one coded (eps0, mu0),
    every subband derives eps_b = eps0 - (r - 1) with mu shared — a 5-byte
    QCD instead of 2 per subband.  Round-trips in both profiles' tooling:
    plain, tiled and overview reads."""
    yy, xx = np.mgrid[0:80, 0:96]
    img = (120 + 60 * np.sin(yy / 9.0) + 50 * np.cos(xx / 11.0)).astype(
        np.uint8
    )[None]
    data = jp2.encode_jp2(img, levels=3, wavelet="9/7", qstep=0.25, qcd_style=1)
    dec = jp2.decode_jp2(data)
    assert np.abs(dec.astype(np.int64) - img.astype(np.int64)).max() <= 1
    # QCD is the 5-byte single-value form
    i = data.find(b"\xff\x5c")
    assert data[i + 2 : i + 4] == b"\x00\x05"
    assert data[i + 4] & 0x1F == 1
    # derived composes with tiling and coarse reads
    im16 = ((yy * 131 + xx * 57) % 4096).astype(np.uint16)[None]
    d2 = jp2.encode_jp2(
        im16, levels=2, wavelet="9/7", qstep=1.0, qcd_style=1, tile=48
    )
    assert np.abs(
        jp2.decode_jp2(d2).astype(np.int64) - im16.astype(np.int64)
    ).max() <= 8
    assert jp2.decode_jp2(data, max_res=1).shape == (1, 20, 24)
    with pytest.raises(ValueError, match="qcd_style"):
        jp2.encode_jp2(img, wavelet="9/7", qcd_style=3)


def test_jp2_scene_tiles_decode_stage_stays_parallel(spark, tmp_path):
    """The descriptor shuffle must pin an EXPLICIT partition count: the
    rows are a few dozen bytes, so AQE's size-based coalescing would fold
    the shuffle into one partition and serialize the expensive decode stage
    (measured: 512 tiles at single-core speed before the fix)."""
    from pyspark.sql import functions as F

    from eoreader_spark.operators import raster

    img = np.random.RandomState(3).randint(0, 256, (1, 96, 96)).astype(np.uint8)
    p = str(tmp_path / "s.jp2")
    with open(p, "wb") as f:
        f.write(jp2.encode_jp2(img, levels=1, tile=48))
    files = spark.createDataFrame([("a", p)], "image_id string, path string")
    out = raster.jp2_scene_tiles(files, plane=0, parallelism=4)
    # explicit repartition(n, cols) must survive into the physical plan
    # (REPARTITION_BY_NUM exchanges are exempt from AQE coalescing)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan
    # and the decode stage actually runs in >1 task even under AQE
    nparts = (
        out.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert nparts > 1


# ----------------------- round 5: precincts / layers / progressions / EPH


class TestPrecinctsLayersProgressions:
    """The real-Sentinel-2 Kakadu wire options: user-defined precincts,
    multiple quality layers, RLCP/RPCL progressions, SOP/EPH markers."""

    IMG = None

    @classmethod
    def _img(cls):
        if cls.IMG is None:
            rng = np.random.RandomState(31)
            yy, xx = np.mgrid[0:200, 0:170]
            smooth = (120 + 60 * np.sin(yy / 13.0) + 50 * np.cos(xx / 9.0))
            cls.IMG = np.stack([
                smooth.astype(np.uint8),
                rng.randint(0, 256, (200, 170)).astype(np.uint8),
            ])
        return cls.IMG

    def test_precincts_lossless_roundtrip(self):
        img = self._img()
        d = jp2.encode_jp2(img, levels=2, precinct=6)  # 64-cell precincts
        m = jp2.parse_jp2(d)
        assert m["precincts"] == [(6, 6)] * 3
        assert np.array_equal(jp2.decode_jp2(d), img)

    def test_precinct_clamps_codeblock_size(self):
        # precinct 5 -> 32 resolution cells -> 16 on subbands < cb 64:
        # effective block grid must clamp (decode still exact)
        img = self._img()
        d = jp2.encode_jp2(img, levels=2, cb=64, precinct=5)
        assert np.array_equal(jp2.decode_jp2(d), img)

    @pytest.mark.parametrize("nl", [2, 3])
    def test_multi_layer_roundtrip(self, nl):
        img = self._img()
        d = jp2.encode_jp2(img, levels=2, n_layers=nl)
        assert jp2.parse_jp2(d)["n_layers"] == nl
        assert np.array_equal(jp2.decode_jp2(d), img)

    @pytest.mark.parametrize("prog", ["RLCP", "RPCL", "PCRL", "CPRL"])
    def test_progression_orders_roundtrip(self, prog):
        img = self._img()
        d = jp2.encode_jp2(img, levels=2, progression=prog)
        assert jp2.parse_jp2(d)["progression"] == prog
        assert np.array_equal(jp2.decode_jp2(d), img)

    @pytest.mark.parametrize("prog", ["PCRL", "CPRL"])
    def test_position_first_orders_with_precincts(self, prog):
        """PCRL/CPRL interleave resolutions along the cross-resolution
        precinct-position walk (B.12.1.4/5); round-trip with precincts,
        layers, EPH, and tiling."""
        img = self._img()
        d = jp2.encode_jp2(
            img, levels=2, progression=prog, precinct=6, n_layers=2,
            use_eph=True,
        )
        assert np.array_equal(jp2.decode_jp2(d), img)
        dt = jp2.encode_jp2(img, levels=2, progression=prog, precinct=5, tile=96)
        assert np.array_equal(jp2.decode_jp2(dt), img)

    def test_kakadu_s2_like_combo(self):
        """RPCL + precincts + EPH + multi-tile — the Sentinel-2 band-file
        wire shape — decodes bit-exact, incl. per-tile reads."""
        img = self._img()
        d = jp2.encode_jp2(
            img, levels=2, tile=96, precinct=6, progression="RPCL",
            use_eph=True,
        )
        m = jp2.parse_jp2(d)
        assert m["use_eph"] and m["progression"] == "RPCL"
        assert np.array_equal(jp2.decode_jp2(d), img)
        # independent tile read still works through the byte index
        t0 = jp2.decode_jp2(d, tile_idx=0)
        assert np.array_equal(t0, img[:, :96, :96])

    def test_sop_eph_markers_present_and_verified(self):
        img = self._img()[:1, :64, :64]
        d = jp2.encode_jp2(
            img, levels=1, precinct=6, use_sop=True, use_eph=True,
            container=False,
        )
        assert b"\xff\x91" in d and b"\xff\x92" in d
        assert np.array_equal(jp2.decode_jp2(d), img)
        # corrupting an SOP marker is caught loudly
        bad = bytearray(d)
        i = bad.find(b"\xff\x91")
        bad[i + 1] = 0x90
        with pytest.raises(ValueError):
            jp2.decode_jp2(bytes(bad))

    def test_multilayer_lossy_and_precincts(self):
        img = self._img()[:1]
        d = jp2.encode_jp2(
            img, levels=2, wavelet="9/7", qstep=1.0, precinct=6, n_layers=2,
        )
        dec = jp2.decode_jp2(d)
        err = np.abs(dec.astype(np.float64) - img.astype(np.float64))
        mse = float((err ** 2).mean())
        psnr = 10 * np.log10(255.0 ** 2 / max(mse, 1e-12))
        assert psnr >= 40.0

    def test_overview_reads_all_layouts_agree(self):
        """max_res overview must give the SAME coarse LL for LRCP, RLCP,
        RPCL, precincts, and multi-layer encodes of one image."""
        img = self._img()[:1]
        want = jp2.decode_jp2(jp2.encode_jp2(img, levels=2), max_res=1)
        for kw in (
            {"progression": "RLCP"},
            {"progression": "RPCL", "precinct": 6},
            {"progression": "PCRL", "precinct": 6},
            {"progression": "CPRL", "precinct": 5},
            {"n_layers": 2},
            {"precinct": 5},
            {"n_layers": 3, "progression": "RLCP", "use_eph": True},
        ):
            got = jp2.decode_jp2(jp2.encode_jp2(img, levels=2, **kw), max_res=1)
            assert np.array_equal(got, want), kw

    def test_unknown_progression_rejected(self):
        img = self._img()[:1, :32, :32]
        with pytest.raises(ValueError, match="progression"):
            jp2.encode_jp2(img, progression="LRCP2")

    def test_single_layer_default_bytes_unchanged(self):
        """The generic packet writer must be byte-identical to the legacy
        single-layer LRCP layout — golden fixtures and gate oracles replay
        encode_jp2 output."""
        img = self._img()
        d = jp2.encode_jp2(img, levels=2)
        m = jp2.parse_jp2(d)
        assert m["n_layers"] == 1 and m["progression"] == "LRCP"
        assert m["precincts"] is None
        # deterministic and decodes exactly (byte pin lives in test_golden)
        assert d == jp2.encode_jp2(img, levels=2)
        assert np.array_equal(jp2.decode_jp2(d), img)


class TestCodeBlockStyles:
    """COD code-block style flags (round 5): 0x01 arithmetic-coding bypass
    (raw SPP/MRP from the 5th bit-plane, multi-codeword-segment lengths in
    the packet header), 0x02 reset-context-per-pass, 0x04 termall (one
    terminated segment per pass), 0x08 vertically-causal contexts, 0x20
    segmentation symbols."""

    def _img(self):
        rng = np.random.RandomState(5)
        return np.stack([
            (120 + 60 * np.sin(np.mgrid[0:100, 0:90][0] / 13.0)).astype(np.uint8),
            rng.randint(0, 256, (100, 90)).astype(np.uint8),
        ])

    @pytest.mark.parametrize(
        "style", [0x01, 0x02, 0x04, 0x05, 0x08, 0x20, 0x2A, 0x2B, 0x2E,
                  0x10, 0x14, 0x15, 0x3F]
    )
    def test_styles_roundtrip(self, style):
        img = self._img()
        d = jp2.encode_jp2(img, levels=2, cb_style=style)
        assert jp2.parse_jp2(d)["cb_style"] == style
        assert np.array_equal(jp2.decode_jp2(d), img)

    def test_styles_compose_with_wire_options(self):
        img = self._img()
        d = jp2.encode_jp2(
            img, levels=2, cb_style=0x2A, precinct=5, progression="RPCL",
            n_layers=2, use_eph=True,
        )
        assert np.array_equal(jp2.decode_jp2(d), img)
        # bypass's multi-segment lengths through precincts, layers, tiling
        d = jp2.encode_jp2(
            img, levels=2, cb_style=0x01, precinct=5, progression="RPCL",
            n_layers=2, use_eph=True, tile=96,
        )
        assert np.array_equal(jp2.decode_jp2(d), img)

    def test_bypass_segment_plan(self):
        # pass plan: 10 MQ passes for the first 4 bit-planes, then
        # alternating raw SPP+MRP pairs and MQ cleanups
        assert jp2._segments_for(0, 10, 0x01) == [10]
        assert jp2._segments_for(0, 16, 0x01) == [10, 2, 1, 2, 1]
        assert jp2._segments_for(0, 5, 0x04) == [1] * 5
        assert jp2._segments_for(0, 13, 0x00) == [13]

    def test_bypass_raw_segments_roundtrip_codeblock(self):
        rng = np.random.RandomState(7)
        c = np.zeros((37, 29), dtype=np.int64)
        c[rng.rand(37, 29) < 0.35] = rng.randint(-9000, 9000)  # numbps > 10
        for style in (0x01, 0x05, 0x2B):
            segs, numbps = jp2.encode_codeblock_segments(c, "HH", style)
            assert [p for _b, p in segs] == jp2._segments_for(
                0, 3 * numbps - 2, style
            )
            back = jp2.decode_codeblock_segments(segs, 37, 29, "HH", numbps, style)
            assert np.array_equal(back, c), hex(style)

    def test_segmentation_symbols_catch_corruption(self):
        img = self._img()
        d = bytearray(jp2.encode_jp2(img, levels=2, cb_style=0x20, container=False))
        d[-40] ^= 0x10  # flip a bit deep in the last tile body
        with pytest.raises(ValueError, match="segmentation symbol"):
            jp2.decode_jp2(bytes(d))

    def test_unsupported_style_bits_named(self):
        img = self._img()[:1, :32, :32]
        with pytest.raises(NotImplementedError, match="style"):
            jp2.encode_jp2(img, cb_style=0x40)
        d = bytearray(jp2.encode_jp2(img, levels=1, container=False))
        i = d.find(b"\xff\x52")
        d[i + 12] = 0x40  # SPcod style byte -> a reserved bit
        with pytest.raises(NotImplementedError, match="style"):
            jp2.decode_jp2(bytes(d))

    def test_predictable_termination_detects_length_lies(self):
        """Round 6 (0x10, Kakadu ERTERM): every segment ends with the full
        non-truncated C.2.9 flush, so a terminated MQ segment leaves <=2
        unread bytes.  A segment whose header length overstates the coded
        data (corruption / truncation-splice) must raise; the same splice
        without 0x10 is undetectable at this layer."""
        rng = np.random.RandomState(11)
        c = (rng.randint(-200, 200, size=(24, 24))
             * (rng.rand(24, 24) < 0.5)).astype(np.int64)
        segs, numbps = jp2.encode_codeblock_segments(c, "HL", 0x14)
        back = jp2.decode_codeblock_segments(segs, 24, 24, "HL", numbps, 0x14)
        assert np.array_equal(back, c)
        bad = [(b + b"\x00\x11\x22\x33\x44", p) for b, p in segs]
        with pytest.raises(ValueError, match="predictable-termination"):
            jp2.decode_codeblock_segments(bad, 24, 24, "HL", numbps, 0x14)

    def test_predictable_termination_composes_with_wire_options(self):
        img = self._img()
        d = jp2.encode_jp2(
            img, levels=2, cb_style=0x15, precinct=5, progression="RPCL",
            n_layers=2, use_eph=True, tile=96,
        )
        assert jp2.parse_jp2(d)["cb_style"] == 0x15
        assert np.array_equal(jp2.decode_jp2(d), img)

    def test_causal_changes_the_bits_but_not_the_pixels(self):
        # vertically-causal mode must actually alter context formation
        # (different codestream) while staying lossless
        img = self._img()
        d0 = jp2.encode_jp2(img, levels=2)
        d8 = jp2.encode_jp2(img, levels=2, cb_style=0x08)
        assert d0[100:] != d8[100:]
        assert np.array_equal(jp2.decode_jp2(d8), jp2.decode_jp2(d0))


class TestRoiMaxShift:
    """RGN marker, max-shift ROI (round 5): the encoder scales ROI
    coefficients above every background magnitude; the decoder separates
    them by magnitude alone and shifts back — lossless end to end on the
    reversible path."""

    def _img(self):
        rng = np.random.RandomState(5)
        return np.stack([
            (120 + 60 * np.sin(np.mgrid[0:200, 0:170][0] / 13.0)).astype(np.uint8),
            rng.randint(0, 256, (200, 170)).astype(np.uint8),
        ])

    def test_roi_roundtrip_and_marker(self):
        img = self._img()
        d = jp2.encode_jp2(img, levels=2, roi=(40, 30, 60, 80))
        assert d.count(b"\xff\x5e") >= 2  # one RGN per component
        assert np.array_equal(jp2.decode_jp2(d), img)

    def test_roi_composes_with_tiles_wire_options_and_bypass(self):
        img = self._img()
        d = jp2.encode_jp2(
            img, levels=2, roi=(40, 30, 60, 80), tile=96, precinct=5,
            progression="RPCL", cb_style=0x01,
        )
        assert np.array_equal(jp2.decode_jp2(d), img)

    def test_roi_overview_read_unchanged(self):
        img = self._img()
        ov0 = jp2.decode_jp2(jp2.encode_jp2(img, levels=2), max_res=1)
        ov1 = jp2.decode_jp2(
            jp2.encode_jp2(img, levels=2, roi=(40, 30, 60, 80)), max_res=1
        )
        assert np.array_equal(ov0, ov1)

    def test_roi_actually_rides_higher_bitplanes(self):
        # stripping the RGN markers must yield scaled (wrong) ROI pixels —
        # proving the shift is real, not a no-op
        img = self._img()[:1]
        d = bytearray(jp2.encode_jp2(img, levels=2, roi=(40, 30, 60, 80),
                                     container=False))
        i = d.find(b"\xff\x5e")
        stripped = bytes(d[:i]) + bytes(d[i + 7:])  # drop the one RGN
        got = jp2.decode_jp2(stripped)
        assert not np.array_equal(got, img)

    def test_roi_guards(self):
        # round 6: lossy ROI is supported via guard-bit escalation; content
        # whose background index depth exceeds the 3-bit guard field raises
        # with the LIMIT named (see test_roi_max_shift_lossy_path for the
        # feasible-path behavior)
        img = self._img()
        with pytest.raises(NotImplementedError, match="guard"):
            jp2.encode_jp2(img, wavelet="9/7", roi=(0, 0, 8, 8))
        big = np.random.RandomState(0).randint(0, 65536, (1, 64, 64)).astype(np.uint16)
        with pytest.raises(NotImplementedError, match="QCD exponent"):
            jp2.encode_jp2(big, levels=3, roi=(8, 8, 16, 16))


def test_jp2_index_decoy_xml_box_and_psot0_bounded(tmp_path):
    """Regression (ADVICE r5): (a) the codestream base offset must come from
    the box walk — an XML box that happens to CONTAIN the codestream's first
    bytes must not shift tile-part offsets; (b) Psot==0 (to-EOC) must be
    bounded by the jp2c BOX end, not the file end, when boxes follow jp2c."""
    import struct

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, size=(1, 100, 96)).astype(np.uint8)
    plain = jp2.encode_jp2(img, levels=2, tile=48, container=True)
    cs = jp2.parse_jp2(plain)["codestream"]

    # (a) decoy: an xml box before jp2h whose payload embeds cs[:64]
    sig_end = 12 + 20  # jP signature + ftyp
    decoy = struct.pack(">I", 8 + 64) + b"xml " + cs[:64]
    doctored = plain[:sig_end] + decoy + plain[sig_end:]
    idx = jp2.jp2_tile_index(doctored)
    assert [i for i, _o, _l in idx] == list(range(6))
    for _i, off, _l in idx:
        assert doctored[off : off + 2] == b"\xff\x90"
    assert np.array_equal(jp2.decode_jp2(doctored), img)

    # (b) rewrite the LAST tile-part's Psot to 0 and append a trailing box
    last_off = jp2.jp2_tile_index(cs)[-1][1]
    cs0 = bytearray(cs)
    cs0[last_off + 6 : last_off + 10] = b"\x00\x00\x00\x00"
    jp2_sig = plain[:sig_end]
    jp2h_etc = plain[sig_end : plain.index(struct.pack(">I", 8 + len(cs)) + b"jp2c")]
    jp2c = struct.pack(">I", 8 + len(cs0)) + b"jp2c" + bytes(cs0)
    trailer = struct.pack(">I", 8 + 24) + b"uuid" + b"\xff\x90" * 12  # fake SOTs
    path = str(tmp_path / "psot0.jp2")
    with open(path, "wb") as f:
        f.write(jp2_sig + jp2h_etc + jp2c + trailer)
    fidx = jp2.jp2_file_index(path)
    want = jp2.jp2_tile_index(cs)
    assert [(i, ln) for i, _o, ln in fidx["parts"]] == [
        (i, ln) for i, _o, ln in want
    ]
    with open(path, "rb") as f:
        raw = f.read()
    grid = jp2._tile_grid(100, 96, 48, 48)
    for (isot, off, ln), (_ty, _tx, y0, x0, th, tw) in zip(fidx["parts"], grid):
        sub = jp2.decode_jp2_part(fidx["header"], raw[off : off + ln], isot)
        assert np.array_equal(sub, img[:, y0 : y0 + th, x0 : x0 + tw])


def test_roi_max_shift_lossy_path():
    """Round 6: max-shift ROI on the 9/7 path via guard-bit escalation.
    The QCD guard field grows by the ROI shift so Mb covers the scaled
    indices; at FULL decode the shift/downshift round-trip is exact, so
    the decoded pixels equal the no-ROI stream's bit-for-bit (the ROI
    benefit is ordering under truncation, not full-decode accuracy).
    Shifts the 3-bit guard field cannot absorb raise with the limit
    named — the same spec ceiling real encoders hit."""
    yy, xx = np.mgrid[0:80, 0:96]
    img = (118 + 3 * np.sin(yy / 19.0) + 2 * np.cos(xx / 23.0)).astype(
        np.uint8
    )[None]
    rng = np.random.RandomState(4)
    ry, rx, rh, rw = 20, 24, 24, 32
    img[0, ry : ry + rh, rx : rx + rw] = rng.randint(0, 256, (rh, rw))
    for q in (2.0, 4.0):
        droi = jp2.encode_jp2(
            img, levels=2, wavelet="9/7", qstep=q, roi=(ry, rx, rh, rw)
        )
        dplain = jp2.encode_jp2(img, levels=2, wavelet="9/7", qstep=q)
        assert b"\xff\x5e" in droi[:200] and b"\xff\x5e" not in dplain[:200]
        assert np.array_equal(jp2.decode_jp2(droi), jp2.decode_jp2(dplain))
        # guard bits actually escalated on the wire (Sqcd high 3 bits)
        i = droi.index(b"\xff\x5c")
        assert (droi[i + 4] >> 5) > 2  # > the default _GUARD
    big = (120 + 60 * np.sin(yy / 9.0)).astype(np.uint8)[None]
    with pytest.raises(NotImplementedError, match="guard"):
        jp2.encode_jp2(
            big, levels=2, wavelet="9/7", qstep=1.0, roi=(20, 24, 24, 32)
        )


# ----------------------------- round 7: PCRD rate control (target_bytes)
class TestRateControl:
    def test_rd_hull_prunes_non_convex(self):
        R = [0.0, 10.0, 20.0, 30.0]
        D = [100.0, 50.0, 45.0, 10.0]  # middle point below the chord
        pts, slopes = jp2._rd_hull(R, D)
        assert pts == [0, 1, 3]  # t=2 is not a hull vertex
        assert slopes[1] == pytest.approx(5.0)
        assert slopes[2] == pytest.approx(2.0)
        # zero-byte extra pass is free quality: deepest t kept per byte count
        pts2, _ = jp2._rd_hull([0.0, 8.0, 8.0], [90.0, 40.0, 30.0])
        assert pts2 == [0, 2]

    def test_pcrd_allocate_equal_slope_threshold(self):
        # two blocks; budget admits the steep segments of both, not the
        # shallow tail of either
        curves = {
            "a": ([0.0, 10.0, 20.0], [100.0, 20.0, 15.0]),  # slopes 8, 0.5
            "b": ([0.0, 10.0, 20.0], [100.0, 40.0, 38.0]),  # slopes 6, 0.2
        }
        out = jp2._pcrd_allocate(curves, [20], {"a": 2, "b": 2})
        assert out == {"a": [1], "b": [1]}
        out = jp2._pcrd_allocate(curves, [20, 40], {"a": 2, "b": 2})
        assert out["a"] == [1, 2] and out["b"] == [1, 2]
        # tiny budget: nothing fits
        out = jp2._pcrd_allocate(curves, [5], {"a": 2, "b": 2})
        assert out == {"a": [0], "b": [0]}

    def test_rate_distortion_monotone_and_near_target(self):
        img = codecs.make_image(3, 128, 128, planes=1)
        full = jp2.encode_jp2(img, levels=3, wavelet="9/7", qstep=0.5)
        prev_psnr, prev_size = None, None
        # header floor: an encode starved to ~nothing is markers + empty
        # packets — the fixed overhead budgets exclude
        floor = len(jp2.encode_jp2(img, levels=3, wavelet="9/7", qstep=0.5,
                                   target_bytes=1))
        for frac in (0.75, 0.5, 0.25):
            tgt = int(len(full) * frac)
            d = jp2.encode_jp2(img, levels=3, wavelet="9/7", qstep=0.5,
                               target_bytes=tgt)
            o = jp2.decode_jp2(d)
            p = codecs.psnr(img, o)
            # budget bounds CODEWORD bytes; file = codewords + fixed headers
            # + per-contribution packet-header bits
            assert len(d) <= tgt + floor + tgt // 8, (frac, len(d), tgt, floor)
            if prev_psnr is not None:
                assert p < prev_psnr and len(d) < prev_size
            prev_psnr, prev_size = p, len(d)

    def test_rate_control_lossless_path_and_multilayer(self):
        img = codecs.make_image(5, 96, 96, planes=2)
        full = jp2.encode_jp2(img, levels=2)
        d = jp2.encode_jp2(img, levels=2, target_bytes=len(full) // 3)
        o = jp2.decode_jp2(d)
        assert len(d) < len(full) // 2
        assert codecs.psnr(img, o) > 18.0  # truncated 5/3: lossy by design
        # multi-layer ladder: explicit cumulative budgets
        b2 = [len(full) // 4, len(full) // 2]
        d2 = jp2.encode_jp2(img, levels=2, n_layers=2, target_bytes=b2)
        m = jp2.parse_jp2(d2)
        assert m["n_layers"] == 2
        o2 = jp2.decode_jp2(d2)
        assert codecs.psnr(img, o2) >= codecs.psnr(img, o) - 1.0

    def test_rate_control_composes_with_tiles_precincts_progressions(self):
        img = (codecs.make_image(7, 96, 96, planes=1).astype(np.uint16) * 257)
        full = jp2.encode_jp2(img, levels=2, wavelet="9/7", qstep=1.0)
        d = jp2.encode_jp2(
            img, levels=2, wavelet="9/7", qstep=1.0, tile=64, precinct=6,
            progression="RPCL", n_layers=2, use_eph=True,
            target_bytes=len(full) // 2,
        )
        o = jp2.decode_jp2(d)
        assert o.shape == img.shape and o.dtype == img.dtype
        assert codecs.psnr(img.astype(np.float64) / 257,
                           o.astype(np.float64) / 257) > 25.0

    def test_rate_control_validation(self):
        img = codecs.make_image(1, 32, 32, planes=1)
        with pytest.raises(ValueError, match="positive"):
            jp2.encode_jp2(img, target_bytes=0)
        with pytest.raises(ValueError, match="one cumulative budget"):
            jp2.encode_jp2(img, n_layers=2, target_bytes=[100])
        with pytest.raises(ValueError, match="non-decreasing"):
            jp2.encode_jp2(img, n_layers=2, target_bytes=[200, 100])

    def test_uncontrolled_bytes_identical(self):
        """target_bytes=None keeps every legacy layout byte-identical —
        the golden fixtures and gate oracles replay unchanged."""
        img = codecs.make_image(2, 64, 64, planes=2)
        a = jp2.encode_jp2(img, levels=2, n_layers=2, precinct=6)
        b = jp2.encode_jp2(img, levels=2, n_layers=2, precinct=6)
        assert a == b
