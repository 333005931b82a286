"""Band vocabulary, n-plane codecs, multispectral layouts, index catalog.

Mirrors the reference's alias cases
(/root/reference/ci/on_push/test_others.py:97-134 to_band round-trips) and
its weekly index sweep (/root/reference/ci/weekly/test_index.py) at the
synthetic scale.
"""

import numpy as np
import pytest

from eoreader_spark import bands, codecs, datagen
from eoreader_spark.functions import indices
from eoreader_spark.plans import loader

T = datagen.TILE


# ------------------------------------------------------------------- codecs
def test_raw8_nplane_roundtrip():
    for planes in (1, 2, 3, 5, 14):
        img = codecs.make_image(7, 32, 48, planes=planes)
        assert img.shape == (planes, 32, 48)
        out = codecs.decode(codecs.encode(img, "raw8"), "raw8", 32, 48)
        assert np.array_equal(out, img)


def test_qjpg_nplane_roundtrip_and_legacy_bytes():
    # non-3-plane: extended header, PSNR above the 40 dB gate
    img = codecs.make_image(3, 64, 64, planes=14)
    data = codecs.encode(img, "jpeg")
    out = codecs.decode(data, "jpeg", 64, 64)
    assert out.shape == (14, 64, 64)
    assert codecs.psnr(img, out) >= 40.0
    # 3-plane payloads keep the legacy QJPG header (golden fixtures hold)
    img3 = codecs.make_image(3, 64, 64)
    assert codecs.encode(img3, "jpeg")[:4] == b"QJPG"


def test_png_remains_rgb_only():
    img5 = codecs.make_image(1, 16, 16, planes=5)
    with pytest.raises(AssertionError):
        codecs.encode(img5, "png")


# --------------------------------------------------------------- vocabulary
def test_resolve_reference_alias_cases():
    # the reference's to_band cases: id string, short name, long value, case
    assert bands.resolve("B01") == "CA"
    assert bands.resolve("B02") == "BLUE"
    assert bands.resolve("02") == "BLUE"
    assert bands.resolve("blue") == "BLUE"
    assert bands.resolve("B8A") == "NARROW_NIR"
    assert bands.resolve("B11") == "SWIR_1"
    assert bands.resolve("B12") == "SWIR_2"
    assert bands.resolve("COASTAL_AEROSOL") == "CA"
    assert bands.resolve("VEGETATION_RED_EDGE_1") == "VRE_1"
    assert bands.resolve("PANCHROMATIC") == "PAN"
    # spyndex short names
    assert bands.resolve("A") == "CA"
    assert bands.resolve("N") == "NIR"
    assert bands.resolve("S1") == "SWIR_1"
    assert bands.resolve("RE2") == "VRE_2"
    # SAR + despeckle suffix
    assert bands.resolve("VV") == "VV"
    assert bands.resolve("vh_dspk") == "VH_DSPK"
    assert bands.resolve("HH_DSPK") == "HH_DSPK"
    # L2A QA bands
    assert bands.resolve("AOT") == "AOT"
    assert bands.resolve("SCL") == "SCL"
    with pytest.raises(bands.BandError):
        bands.resolve("B99")


def test_loader_to_band_full_vocab():
    assert loader.to_band("BLUE") == "BLUE"
    assert loader.to_band("swir_1") == "SWIR_1"
    assert loader.to_band("VV") == "VV"
    assert loader.to_band("SCL") == "SCL"
    assert loader.to_band("NBR") == "NBR"
    with pytest.raises(loader.BandError):
        loader.to_band("NDVI_DSPK")  # despeckle needs a plane band base


def test_layouts_cover_vocabulary():
    for name, lay in bands.LAYOUTS.items():
        pm = bands.plane_of(name)
        assert len(pm) == len(lay)
        for b in lay:
            assert b in bands.ALL_PLANE_BANDS, (name, b)


# ------------------------------------------------------------ index catalog
def test_registry_has_catalog_scale():
    assert len(indices.INDEX_REGISTRY) >= 100


def test_every_catalog_index_evaluates_finite():
    """Reference weekly sweep analog: every index evaluates over a synthetic
    full-vocabulary image; values must be finite (epsilon-guarded kernels)."""
    full_map = bands.plane_of(bands.SPECTRAL_NAMES)
    stats = indices.oracle_index_stats(
        5, T, T, list(indices.INDEX_REGISTRY), plane_map=full_map
    )
    for n, (mean, mn, mx) in stats.items():
        assert np.isfinite([mean, mn, mx]).all(), n
        assert mn <= mean <= mx, n


def test_stats_kernel_eight_planes_matches_full_cast():
    """stats_kernel casts only the planes its indices read; its rows are
    bit-identical to a kernel that casts the whole decoded stack."""
    import pandas as pd

    pm = dict(zip(["CA", "BLUE", "GREEN", "RED", "VRE_1", "NIR", "SWIR_1", "SWIR_2"],
                  range(8)))
    names = ["NDVI", "NBR", "MNDWI", "EVI"]
    h, w = 32, 48
    imgs = [codecs.make_image(1, h, w, planes=8),
            codecs.make_image(2, h, w, planes=8).astype(np.uint16) * 257,
            codecs.make_image(3, h, w, planes=8)]
    fmts = ["raw8", "tiff", "jpeg"]
    pdf = pd.DataFrame({"image_id": ["a", "b", "c"],
                        "bytes": [codecs.encode(im, f) for im, f in zip(imgs, fmts)],
                        "fmt": fmts, "h": h, "w": w})
    got = indices.stats_kernel(names, plane_map=pm)(pdf)

    rows = []
    for iid, data, fmt in zip(pdf["image_id"], pdf["bytes"], fmts):
        img = codecs.decode(data, fmt, h, w).astype(np.float32)  # every plane
        planes = {b: indices.to_reflectance(img[p]) for b, p in pm.items()}
        for n in names:
            v = indices.INDEX_REGISTRY[n][1](planes).astype(np.float64)
            rows.append((iid, n, float(v.mean()), float(v.min()), float(v.max())))
    want = pd.DataFrame(rows, columns=got.columns)
    assert codecs.decode(pdf["bytes"][1], "tiff", h, w).dtype == np.uint16
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_index_stats_multispectral_engine_parity(spark):
    """index_stats over real decoded S2_L2A images == the numpy oracle."""
    images = datagen.gen_images(spark, 4, layout="S2_L2A")
    pm = bands.plane_of("S2_L2A")
    loadable = [
        n for n, (needs, _) in indices.INDEX_REGISTRY.items()
        if all(b in pm for b in needs)
    ]
    assert len(loadable) >= 80  # the catalog is mostly S2-loadable
    sample = ["NBR", "NDMI", "MNDWI", "ARVI", "EVI3", "BSI", "AWEISH",
              "TCB6", "SELI", "S2REP", "BAIS2", "GVMI"]
    got = {
        (r.image_id, r.index_name): (r.mean, r.min, r.max)
        for r in indices.index_stats(images, sample, plane_map=pm).collect()
    }
    for i in range(4):
        iid = f"img{i:012d}"
        h, w = datagen.image_dims(i)
        fmt = ["raw8", "jpeg"][i % 2]
        img = codecs.make_image(i, h, w, planes=len(pm))
        if fmt == "jpeg":  # lossy analog: compare against its own decode
            img = codecs.decode(codecs.encode(img, "jpeg"), "jpeg", h, w)
        planes = {b: indices.to_reflectance(img[pm[b]].astype(np.float32)) for b in pm}
        for n in sample:
            needs, fn = indices.INDEX_REGISTRY[n]
            v = fn({b: planes[b] for b in needs}).astype(np.float64)
            want = (v.mean(), v.min(), v.max())
            assert np.allclose(got[(iid, n)], want, atol=1e-6), (iid, n)


# ------------------------------------------------- multispectral ImageEngine
@pytest.fixture(scope="module")
def ms_engine(spark):
    images = datagen.gen_images(spark, 4, layout="S2_L2A").persist()
    qa = datagen.gen_qa_masks(spark, 4).persist()
    return loader.ImageEngine(images, qa_masks=qa, band_map="S2_L2A")


def test_ms_engine_has_band(ms_engine):
    assert ms_engine.has_band("BLUE") and ms_engine.has_band("B11")
    assert ms_engine.has_band("NBR") and ms_engine.has_band("SCL")
    assert ms_engine.has_band("AOT") and ms_engine.has_band("WVP")
    assert not ms_engine.has_band("TIR_1")  # not an S2-L2A plane
    assert not ms_engine.has_band("NBRT1")  # needs TIR_1
    assert not ms_engine.has_band("VV")


def test_ms_engine_load_nbr_blue_scl(ms_engine):
    wide = ms_engine.load(["BLUE", "NBR", "SCL"], clean="raw")
    assert wide.columns[-3:] == ["px_BLUE", "px_NBR", "px_SCL"]
    r = wide.filter("image_id = 'img000000000000' and tile_x = 0 and tile_y = 0").first()
    pm = bands.plane_of("S2_L2A")
    img = codecs.make_image(0, T, T, planes=len(pm)).astype(np.float64)
    blue = np.clip(img[pm["BLUE"]] / 255.0, 0, None)
    nir = np.clip(img[pm["NIR"]] / 255.0, 0, None)
    swir2 = np.clip(img[pm["SWIR_2"]] / 255.0, 0, None)
    assert np.allclose(np.asarray(r.px_BLUE).reshape(T, T), blue, atol=1e-6)
    want_nbr = (nir - swir2) / (nir + swir2 + 1e-12)
    assert np.allclose(np.asarray(r.px_NBR).reshape(T, T), want_nbr, atol=1e-5)
    # SCL classification analog from the qa bitfield (public class codes)
    p0 = codecs.pixel_plane(0, 0, T, T).astype(np.int32)
    want_scl = np.full((T, T), 4)
    want_scl[p0 < 10] = 3       # shadow
    want_scl[p0 > 200] = 9      # cloud
    want_scl[p0 > 250] = 1      # saturated wins over cloud
    want_scl[p0 % 97 == 0] = 0  # nodata wins over everything
    assert np.array_equal(np.asarray(r.px_SCL).reshape(T, T), want_scl)


def test_sar_engine_vv_despeckle(spark):
    images = datagen.gen_images(spark, 2, layout="S1_GRD")
    eng = loader.ImageEngine(images, band_map="S1_GRD")
    wide = eng.load(["VV", "VV_DSPK"], clean="raw", reflectance=False)
    assert wide.columns[-2:] == ["px_VV", "px_VV_DSPK"]
    r = wide.filter("image_id = 'img000000000000' and tile_x = 0 and tile_y = 0").first()
    vv = np.asarray(r.px_VV)
    dspk = np.asarray(r.px_VV_DSPK)
    assert np.isfinite(dspk).all() and dspk.std() <= vv.std() + 1e-3
    with pytest.raises(loader.BandError):
        eng.load(["NDVI"])  # optical index on a SAR layout


def test_legacy_engine_rejects_out_of_layout_band(spark):
    images = datagen.gen_images(spark, 2)
    eng = loader.ImageEngine(images)
    assert not eng.has_band("BLUE")  # resolvable name, absent plane
    with pytest.raises(loader.BandError):
        eng.load(["BLUE"])


def test_full_band_map_table(spark):
    bm = datagen.gen_band_map(spark, full=True)
    rows = bm.collect()
    by_const = {}
    for r in rows:
        by_const.setdefault(r.constellation, []).append(r)
    assert len(by_const["S2"]) == len(bands.LAYOUTS["S2_L2A"])
    assert len(by_const["S1"]) == 2
    s2 = {r.band_name: r for r in by_const["S2"]}
    assert s2["RED"].band_id == "B04" and s2["RED"].plane == bands.plane_of("S2_L2A")["RED"]


def test_clouds_band_aliases():
    # reference CloudsBandNames resolve onto the engine's mask planes
    assert bands.resolve("CLOUDS") == "CLOUD_MASK"
    assert bands.resolve("ALL_CLOUDS") == "ALL_MASK"
    assert bands.resolve("SHADOWS") == "SHADOW_MASK"
    assert loader.to_band("clouds") == "CLOUD_MASK"
