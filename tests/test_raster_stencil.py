import numpy as np
import pytest
from pyspark.sql import functions as F

from eoreader_spark import codecs, datagen
from eoreader_spark.functions import radiometry
from eoreader_spark.operators import raster, stencil

N = 12  # small: stencil tests reassemble whole images


@pytest.fixture(scope="module")
def images(spark):
    return datagen.gen_images(spark, N).persist()


@pytest.fixture(scope="module")
def dem_tiles(spark):
    # rename z -> px for the stencil API
    return datagen.gen_dem(spark, N).withColumnRenamed("z", "px").persist()


def _image_oracle(i, plane=0):
    h, w = datagen.image_dims(i)
    return codecs.make_image(i, h, w)[plane].astype(np.float32), h, w


def _reassemble(rows, h, w, tile=datagen.TILE):
    out = np.full((h, w), np.nan, dtype=np.float32)
    for r in rows:
        a = np.asarray(r.px, dtype=np.float32).reshape(tile, tile)
        out[r.tile_y * tile : (r.tile_y + 1) * tile, r.tile_x * tile : (r.tile_x + 1) * tile] = a
    return out


def test_tiles_from_images_exact(spark, images):
    tiles = raster.tiles_from_images(images, plane=0).collect()
    by_img = {}
    for r in tiles:
        by_img.setdefault(r.image_id, []).append(r)
    assert len(by_img) == N
    for iid, rows in by_img.items():
        i = int(iid[3:])
        want, h, w = _image_oracle(i)
        got = _reassemble(rows, h, w)
        if datagen.image_fmt(i) == "jpeg":
            assert codecs.psnr(want, got) >= 40
        else:
            assert np.array_equal(want, got)


def test_collocate_and_stats(spark, images):
    mp = raster.multi_plane_tiles(images, [0, 2])
    b = raster.collocate(
        {
            "red": mp.select("image_id", "tile_x", "tile_y", F.col("px_0").alias("px")),
            "nir": mp.select("image_id", "tile_x", "tile_y", F.col("px_2").alias("px")),
        }
    )
    assert b.columns == ["image_id", "tile_x", "tile_y", "px_red", "px_nir"]
    n_tiles = mp.count()
    assert b.count() == n_tiles
    stats = raster.tile_stats(
        mp.select("image_id", "tile_x", "tile_y", F.col("px_0").alias("px"))
    ).collect()
    for r in stats:
        i = int(r.image_id[3:])
        want, h, w = _image_oracle(i)
        if datagen.image_fmt(i) != "jpeg":
            assert abs(r["mean"] - want.mean()) < 1e-3
            assert r["min"] == want.min() and r["max"] == want.max()
            assert r.n_px == h * w


def test_slope_matches_numpy_oracle(spark, dem_tiles):
    got_rows = stencil.slope(dem_tiles).collect()
    by_img = {}
    for r in got_rows:
        by_img.setdefault(r.image_id, []).append(r)
    for iid, rows in by_img.items():
        i = int(iid[3:])
        h, w = datagen.image_dims(i)
        yy, xx = np.mgrid[0:h, 0:w]
        z = (100.0 * np.sin(xx / 5.0) + 2.0 * yy).astype(np.float32)
        # oracle: same central differences with edge one-sided fallback
        zc = z.astype(np.float64)
        right = np.roll(zc, -1, axis=1); right[:, -1] = zc[:, -1]
        left = np.roll(zc, 1, axis=1); left[:, 0] = zc[:, 0]
        down = np.roll(zc, -1, axis=0); down[-1, :] = zc[-1, :]
        up = np.roll(zc, 1, axis=0); up[0, :] = zc[0, :]
        want = np.degrees(np.arctan(np.sqrt(((right - left) / 2) ** 2 + ((down - up) / 2) ** 2)))
        got = _reassemble(rows, h, w)
        assert not np.isnan(got).any(), iid
        assert np.allclose(got, want, atol=2e-3), iid


def test_hillshade_range_and_determinism(spark, dem_tiles):
    hs1 = {(r.image_id, r.tile_x, r.tile_y): tuple(r.px) for r in stencil.hillshade(dem_tiles, 315.0, 45.0).collect()}
    hs2 = {(r.image_id, r.tile_x, r.tile_y): tuple(r.px) for r in stencil.hillshade(dem_tiles.repartition(13), 315.0, 45.0).collect()}
    assert hs1 == hs2  # halo exchange independent of partitioning
    vals = np.array([v for px in hs1.values() for v in px])
    assert vals.min() >= 0.0 and vals.max() <= 1.0


def test_despeckle_reduces_variance(spark, images):
    tiles = raster.tiles_from_images(images.limit(4), plane=0)
    out = stencil.despeckle(tiles, noise_var=500.0, method="lee")
    j = tiles.withColumnRenamed("px", "px_in").join(out, ["image_id", "tile_x", "tile_y"])
    row = j.select(
        F.avg(F.expr("aggregate(px_in, 0D, (a,x) -> a + double(x))") / F.size("px_in")).alias("m_in"),
    ).first()
    # smoke: output exists for every tile and means are preserved-ish
    assert out.count() == tiles.count()
    assert row.m_in is not None


def test_gap_fill_x(spark):
    t = datagen.TILE
    a = np.arange(t * t, dtype=np.float32).reshape(t, t)
    a[3, 5:12] = np.nan   # 7-gap: fillable (limit 10)
    a[4, 20:45] = np.nan  # 25-gap: fill 10 from left + 10 from right, 5 stay
    pdf_rows = [("imgX", 0, 0, a.ravel().tolist())]
    df = spark.createDataFrame(pdf_rows, "image_id string, tile_x int, tile_y int, px array<float>")
    got = np.asarray(stencil.gap_fill_x(df, limit=10).first().px, dtype=np.float32).reshape(t, t)
    assert not np.isnan(got[3]).any()
    assert np.isnan(got[4, 30:35]).all()
    assert not np.isnan(got[4, 20:30]).any() and not np.isnan(got[4, 35:45]).any()
    # forward fill uses last valid on the left
    assert got[3, 5] == a[3, 4]


def test_radiometry_array_functions(spark, images):
    tiles = raster.tiles_from_images(images.limit(3), plane=0)
    df = (
        tiles.withColumn("refl", radiometry.dn_to_reflectance("px", 0.0, 255.0))
        .withColumn("clipped", radiometry.clip_reflectance("refl"))
        .withColumn("db", radiometry.to_db(radiometry.dn_to_reflectance("px", 1.0, 1.0)))
    )
    r = df.first()
    px = np.asarray(r.px)
    assert np.allclose(np.asarray(r.refl), px / 255.0, atol=1e-6)
    assert np.asarray(r.clipped).min() >= 0.0
    assert np.allclose(np.asarray(r.db), 10 * np.log10(px + 1.0), atol=1e-4)


def test_clean_invalid_masks_pixels(spark, images):
    qa = datagen.gen_qa_masks(spark, N)
    tiles = raster.tiles_from_images(images, plane=0)
    cleaned = radiometry.clean_invalid(tiles, qa, method="clean")
    r = cleaned.first()
    i = int(r.image_id[3:])
    p0 = codecs.pixel_plane(i, 0, datagen.TILE, datagen.TILE).astype(np.int32)
    mask = (p0 % 97 == 0) | (p0 % 89 == 0) | (p0 > 250)
    got = np.asarray(r.px, dtype=np.float32).reshape(datagen.TILE, datagen.TILE)
    assert np.isnan(got[mask]).all() or (got[mask] is not None and np.isnan(got[mask]).all())
    if datagen.image_fmt(i) != "jpeg":
        assert np.array_equal(got[~mask].astype(np.uint8), p0[~mask].astype(np.uint8))
    # raw method is a no-op
    assert radiometry.clean_invalid(tiles, qa, method="raw") is tiles


def test_convert_to_uint16(spark, images):
    tiles = raster.tiles_from_images(images.limit(3), plane=0)
    refl = tiles.withColumn("px", radiometry.dn_to_reflectance("px"))
    out = radiometry.convert_to_uint16(refl)
    r = out.first()
    assert r.dtype == "uint16"
    vals = np.asarray(r.px)
    assert vals.min() >= 0 and vals.max() <= 65535


def test_qa_masks_align_off_origin_tiles(spark):
    """QA bits must match the image's ACTUAL pixels on every tile, not just
    tile (0,0) (regression: generator used tile-local coords)."""
    # image 4 is multi-tile (dims cycle through 128/256)
    i = next(j for j in range(20) if datagen.image_dims(j)[1] >= 128)
    qa_rows = datagen.gen_qa_masks(spark, i + 1).filter(
        f"image_id = 'img{i:012d}' and tile_x = 1 and tile_y = 0"
    ).collect()
    assert qa_rows
    h, w = datagen.image_dims(i)
    full = codecs.pixel_plane(i, 0, h, w).astype(np.int32)
    t = datagen.TILE
    p0 = full[0:t, t : 2 * t]
    want_cloud = (p0 > 200).astype(np.int32)
    qa = np.asarray(qa_rows[0].qa, dtype=np.int32).reshape(t, t)
    assert np.array_equal((qa >> 5) & 1, want_cloud)


def test_quicklook_decimated(spark, images):
    ql = {r.image_id: r for r in raster.quicklook(images.limit(6), factor=4).collect()}
    assert len(ql) == 6
    for iid, r in ql.items():
        i = int(iid[3:])
        h, w = datagen.image_dims(i)
        assert (r.h, r.w) == (h // 4, w // 4)
        small = codecs.decode(bytes(r.bytes), "png", r.h, r.w)
        want_full = codecs.make_image(i, h, w)
        want = (
            want_full[:, : r.h * 4, : r.w * 4]
            .reshape(3, r.h, 4, r.w, 4)
            .mean(axis=(2, 4))
            .round()
        )
        tol = 3 if datagen.image_fmt(i) == "jpeg" else 0.51
        assert np.abs(small.astype(float) - want).max() <= tol


def test_centroid(spark):
    from eoreader_spark.operators import footprint

    tiles = datagen.gen_tiles(spark, 8)
    cent = {r.image_id: (r.cx, r.cy) for r in footprint.centroid(tiles).collect()}
    for i in range(8):
        lon, lat = datagen.scene_center(np.array([i]))
        got = cent[f"img{i:012d}"]
        assert abs(got[0] - lon[0]) < 1e-9 and abs(got[1] - lat[0]) < 1e-9


def test_sar_preprocess_chain_end_to_end(spark):
    """J9: the full SNAP-analog SAR chain as ONE composed plan —
    calibration (gain/bias) -> Lee despeckle -> dB conversion — on a
    S1_GRD-layout product, verified against numpy running the identical
    steps (reference chain: eoreader/data/grd_s1_preprocess_default.xml via
    sar_product.py:1251-1308)."""
    from eoreader_spark import bands, codecs, datagen
    from eoreader_spark.functions import radiometry
    from eoreader_spark.operators import stencil
    from eoreader_spark.plans import loader

    images = datagen.gen_images(spark, 2, layout="S1_GRD")
    eng = loader.ImageEngine(images, band_map="S1_GRD")
    # calibration: sigma0 = gain*DN + bias on the VV plane (clean='raw':
    # SAR products carry no optical QA table)
    wide = eng.load(["VV"], clean="raw", reflectance=False)
    cal = wide.withColumn("px", radiometry.gain_bias("px_VV", 0.5, 1.0)).select(
        "image_id", "tile_x", "tile_y", "px"
    )
    dspk = stencil.despeckle(cal, noise_var=25.0, tile=datagen.TILE, method="lee")
    out = dspk.withColumn("px_db", radiometry.to_db("px"))
    r = out.filter("image_id = 'img000000000000' and tile_x = 0 and tile_y = 0").first()
    t = datagen.TILE
    # numpy oracle: same steps on the closed-form plane
    vv = codecs.pixel_plane(0, bands.plane_of("S1_GRD")["VV"], t, t).astype(np.float64)
    sig0 = 0.5 * vv + 1.0
    pad = np.full((t + 2, t + 2), np.nan, dtype=np.float32)
    pad[1:-1, 1:-1] = sig0.astype(np.float32)
    want_dspk = stencil.lee_kernel_factory(25.0)(pad)
    got = np.asarray(r.px_db).reshape(t, t)
    want_db = 10.0 * np.log10(want_dspk)
    assert np.allclose(got, want_db, atol=1e-4)


def test_apply_stencil_custom_python_kernel(spark):
    """X3: a user-supplied python kernel runs through the same strips-only
    halo path as the built-ins (kernel sees the (T+2,T+2) NaN-padded
    array)."""
    from eoreader_spark.operators import stencil

    dem = datagen.gen_dem(spark, 2).withColumnRenamed("z", "px")

    def max3x3(pad):
        t = pad.shape[0] - 2
        stack = np.stack([
            pad[1 + dy : 1 + dy + t, 1 + dx : 1 + dx + t]
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])
        return np.nanmax(stack, axis=0)

    out = stencil.apply_stencil(dem, max3x3, tile=datagen.TILE)
    r = out.filter("image_id = 'img000000000000' and tile_x = 0 and tile_y = 0").first()
    t = datagen.TILE
    yy, xx = np.mgrid[0:t, 0:t]
    z = (100.0 * np.sin(xx / 5.0) + 2.0 * yy).astype(np.float32)
    pad = np.full((t + 2, t + 2), np.nan, dtype=np.float32)
    pad[1:-1, 1:-1] = z
    want = max3x3(pad)
    assert np.allclose(np.asarray(r.px).reshape(t, t), want, atol=1e-4)


def test_multi_band_despeckle_matches_single(spark):
    """apply_stencil_multi over two bands must equal two single-band
    despeckle runs bit-for-bit (shared strips exchange changes the plan,
    not the values)."""
    from eoreader_spark import datagen
    from eoreader_spark.operators import stencil

    dem = datagen.gen_dem(spark, 3).withColumnRenamed("z", "px")
    two = dem.withColumn("px2", F.expr("transform(px, v -> v * cast(2 as float))"))
    fused = stencil.apply_stencil_multi(
        two,
        {"o1": ("px", stencil.lee_kernel_factory()),
         "o2": ("px2", stencil.lee_kernel_factory())},
    )
    single1 = stencil.despeckle(dem, method="lee")
    single2 = stencil.despeckle(
        two.select("image_id", "tile_x", "tile_y", F.col("px2").alias("px")),
        method="lee",
    )
    f = {(r.image_id, r.tile_x, r.tile_y): (r.o1, r.o2) for r in fused.collect()}
    s1 = {(r.image_id, r.tile_x, r.tile_y): r.px for r in single1.collect()}
    s2 = {(r.image_id, r.tile_x, r.tile_y): r.px for r in single2.collect()}
    assert set(f) == set(s1) == set(s2)
    import numpy as np

    for k in f:
        np.testing.assert_array_equal(np.asarray(f[k][0]), np.asarray(s1[k]))
        np.testing.assert_array_equal(np.asarray(f[k][1]), np.asarray(s2[k]))


_LEE = stencil.refined_lee_kernel_factory(4.0)
_EDGE_GRIDS = {
    # a hole in the tile grid on an odd-sized (5x3) grid
    "hole": (stencil.slope_kernel, 1, range(5), range(3), {(2, 1)}, 13),
    # tiles west/north of the grid origin
    "negative_coords": (
        stencil.slope_kernel, 1, range(-3, 2), range(-3, 2), set(), 17,
    ),
    # width-3 halo: corner strips carry 3x3 pixels
    "refined_lee_halo3": (_LEE, 3, range(4), range(4), set(), 17),
    "refined_lee_halo3_holes": (
        _LEE, 3, range(4), range(4), {(1, 1), (2, 3)}, 23,
    ),
}


@pytest.mark.parametrize("case", sorted(_EDGE_GRIDS))
def test_stencil_edge_grids_match_mosaic_reference(spark, case):
    """Per-tile halo path == the same kernel over windows of the whole
    NaN-filled, NaN-padded mosaic, bit-for-bit: missing tiles and image
    edges read as NaN, negative tile coordinates address neighbours like
    any others, and width-3 strips land in the right pad cells."""
    kernel, w, xs, ys, holes, seed = _EDGE_GRIDS[case]
    t = 16
    rng = np.random.RandomState(seed)
    px = {
        (tx, ty): rng.randint(0, 1000, size=t * t).astype(np.float32)
        for ty in ys for tx in xs if (tx, ty) not in holes
    }
    df = spark.createDataFrame(
        [("i0", tx, ty, a.tolist()) for (tx, ty), a in px.items()],
        "image_id string, tile_x int, tile_y int, px array<float>",
    )
    got = {
        (r.tile_x, r.tile_y): np.asarray(r.px, dtype=np.float32)
        for r in stencil.apply_stencil(df, kernel, tile=t, halo=w).collect()
    }
    x0, y0 = min(xs), min(ys)
    mosaic = np.full(
        (len(ys) * t + 2 * w, len(xs) * t + 2 * w), np.nan, dtype=np.float32
    )
    for (tx, ty), a in px.items():
        r, c = w + (ty - y0) * t, w + (tx - x0) * t
        mosaic[r : r + t, c : c + t] = a.reshape(t, t)
    assert set(got) == set(px)
    for tx, ty in px:
        r, c = (ty - y0) * t, (tx - x0) * t
        pad = np.ascontiguousarray(mosaic[r : r + t + 2 * w, c : c + t + 2 * w])
        want = kernel(pad).astype(np.float32).ravel()
        np.testing.assert_array_equal(got[(tx, ty)], want, err_msg=str((tx, ty)))
        assert not np.isnan(want).any()



@pytest.mark.parametrize("batch", [4, 7])
@pytest.mark.parametrize("case", sorted(_EDGE_GRIDS))
def test_stencil_edge_grids_across_arrow_batches(spark, case, batch):
    """The same mosaic reference with 4 and 7 rows per Arrow batch: a tile's
    nine rows (center + 8 strips) straddle batches, and in the hole grid a
    batch can hold only strips addressed to the missing tile.  The carried
    tile must still meet all its strips, bit for bit."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        test_stencil_edge_grids_match_mosaic_reference(spark, case)
    finally:
        spark.conf.set(key, saved)

def test_s2_baseline_offset_and_sun_distance(spark):
    """F2/F4 parity: the baseline-4 DN offset and the ephemeris-free
    Sun-Earth-distance formula reproduce the reference's published
    semantics (s2_product.py:695-716, optical_product.py:785-791)."""
    import datetime as dt

    import numpy as np

    from eoreader_spark.functions import radiometry as rad

    assert rad.s2_radio_offset("02.07") == 0.0
    assert rad.s2_radio_offset(3.99) == 0.0
    assert rad.s2_radio_offset("04.00") == -1000.0
    assert rad.s2_radio_offset(5.0, mtd_offset=-1000.5) == -1000.5
    # perihelion (early Jan) < 1 AU < aphelion (early Jul); annual bounds
    d_jan = rad.earth_sun_distance(dt.datetime(2024, 1, 3))
    d_jul = rad.earth_sun_distance(dt.datetime(2024, 7, 4))
    assert 0.9832 < d_jan < 0.9840 and 1.0160 < d_jul < 1.0168
    # wire into the reflectance chain: (DN + offset)/quantif over an array
    df = spark.createDataFrame([([float(v) for v in range(0, 4000, 500)],)], "px array<float>")
    off = rad.s2_radio_offset("05.00")
    out = df.select(
        rad.dn_to_reflectance("px", offset=off, quantif=rad.S2_DEFAULT_QUANTIF).alias("r")
    ).first()["r"]
    want = (np.arange(0, 4000, 500, dtype=np.float64) - 1000.0) / 10000.0
    assert np.allclose(np.asarray(out), want)


def test_gap_fill_xy_order_matches_reference(spark):
    """gap_fill_xy fills along y FIRST then x (the reference's interp_na
    order); a column gap closes from above even when x-neighbours are NaN,
    and remaining holes then close along x — verified against a scalar
    numpy oracle applying the same order."""
    import numpy as np

    from eoreader_spark.operators import stencil

    t = 16
    a = np.full((t, t), np.nan, dtype=np.float32)
    a[0, :] = 5.0          # top row valid -> y-fill seeds every column
    a[:, 0] = np.nan
    a[8, 3] = 9.0          # isolated value
    rows = [("i0", 0, 0, a.ravel().tolist())]
    df = spark.createDataFrame(rows, "image_id string, tile_x int, tile_y int, px array<float>")
    out = stencil.gap_fill_xy(df, limit=10, tile=t).collect()[0]
    got = np.asarray(out.px, dtype=np.float32).reshape(t, t)

    want = stencil._fill_along_rows(a.T, 10).T
    want = stencil._fill_along_rows(want, 10)
    assert np.array_equal(np.nan_to_num(got, nan=-1), np.nan_to_num(want, nan=-1))
    # y-first semantics: rows 1..10 inherit 5.0 from the top row (limit 10);
    # beyond the y-limit, row 12 is reached only through the x pass seeded by
    # column 3's y-fill of the isolated 9.0 — an x-only fill could never get
    # there (row 12 had no valid x-neighbour before the y pass)
    assert got[10, 5] == 5.0
    assert got[12, 5] == 9.0 and np.isnan(got[12, 14])
    assert got[8, 3] == 9.0


def test_pyramid_overview_cascade(spark, images):
    """S13 pyramid: one decode emits /2 /4 /8 overviews; each level is the
    box-mean cascade of the previous (the GDAL COG-overview recurrence) —
    for power-of-two dims this equals a direct box-mean of the base."""
    src = images.filter("fmt != 'jpeg'").limit(3)
    rows = raster.pyramid(src, levels=(2, 4)).collect()
    by_key = {(r.image_id, r.level): r for r in rows}
    for r0 in src.collect():
        i = int(r0.image_id[3:])
        base = codecs.make_image(i, r0.h, r0.w)
        for lv in (2, 4):
            r = by_key[(r0.image_id, lv)]
            got = codecs.decode(bytes(r.bytes), r.fmt, r.h, r.w)
            th, tw = r0.h // lv, r0.w // lv
            assert (r.h, r.w) == (th, tw)
            want = (
                base[:, : th * lv, : tw * lv]
                .reshape(3, th, lv, tw, lv)
                .mean(axis=(2, 4))
            )
            assert np.array_equal(got, np.round(want).astype(np.uint8))
