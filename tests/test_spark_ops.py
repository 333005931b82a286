import numpy as np
import pytest

from eoreader_spark import cells, codecs, datagen
from eoreader_spark.functions import indices
from eoreader_spark.operators import assign, footprint, knn
from eoreader_spark.spatial import pip

N = 60


@pytest.fixture(scope="module")
def tables(spark, synth):
    return {
        name: spark.read.parquet(f"{synth}/{name}.parquet")
        for name in ["images", "scenes", "footprints", "aoi", "tiles", "dem", "band_map", "qa_masks"]
    }


def _oracle_assignments(n_images, aoi_rows):
    """Pure-python oracle: every tile center vs every AOI ring (brute force)."""
    out = set()
    for aoi_id, wkt in aoi_rows:
        ring = pip.parse_wkt_polygon(wkt)
        for i in range(n_images):
            h, w = datagen.image_dims(i)
            bx0, by0, bx1, by1 = (float(v) for v in np.concatenate(datagen.scene_bbox(np.array([i]))))
            ntx, nty = w // datagen.TILE, h // datagen.TILE
            dx, dy = (bx1 - bx0) / ntx, (by1 - by0) / nty
            for ty in range(nty):
                for tx in range(ntx):
                    cx = bx0 + tx * dx + dx / 2
                    cy = by1 - (ty + 1) * dy + dy / 2
                    if pip.points_in_polygon(np.array([cx]), np.array([cy]), ring)[0]:
                        out.add((aoi_id, f"img{i:012d}", tx, ty))
    return out


def test_datagen_schema_and_counts(tables):
    assert tables["images"].count() == N
    cols = dict(tables["images"].dtypes)
    assert cols == {
        "image_id": "string", "bytes": "binary", "w": "int", "h": "int",
        "fmt": "string", "caption": "string", "phash": "bigint",
    }
    assert tables["scenes"].count() == N
    # skew: hot cells should dominate
    hist = tables["scenes"].groupBy("cell_r7").count().toPandas()
    assert hist["count"].max() >= 5


def test_decoded_pixels_and_caption_invariant(spark, tables):
    """BASELINE.json:15 per-row invariant: decoded-pixel allclose (PSNR>=40dB
    lossy) + caption equality, vs the closed-form oracle."""
    rows = tables["images"].collect()
    assert len(rows) == N
    for r in rows:
        i = int(r.image_id[3:])
        img = codecs.decode(bytes(r.bytes), r.fmt, r.h, r.w)
        want = codecs.make_image(i, r.h, r.w)
        if r.fmt == "jpeg":
            assert codecs.psnr(want, img) >= 40.0
        else:
            assert np.array_equal(want, img)
        assert r.caption == datagen.caption_of(i)
        assert r.phash == datagen.phash_of(want)


def test_tile_assignment_matches_oracle_all_strategies(spark, tables):
    """Bit-for-bit tile-assignment + join-row match, broadcast AND salted
    paths, vs the brute-force oracle (BASELINE.json:2,6)."""
    aoi_rows = [(r.aoi_id, r.geom_wkt) for r in tables["aoi"].select("aoi_id", "geom_wkt").collect()]
    want = _oracle_assignments(N, aoi_rows)
    legs = {
        "broadcast": assign.assign_tiles(tables["tiles"], tables["aoi"]),
        "salted": assign._assign_salted(tables["tiles"], tables["aoi"], 0.5, assign.N_SALTS),
    }
    for strategy, df in legs.items():
        got = {(r.aoi_id, r.image_id, r.tile_x, r.tile_y) for r in df.collect()}
        assert got == want, strategy
    want_join = {(a, i) for a, i, _, _ in want}
    got_join = {
        (r.aoi_id, r.image_id) for r in assign.join_rows(tables["tiles"], tables["aoi"]).collect()
    }
    assert got_join == want_join


def test_assignment_parallelism_invariance(spark, tables):
    """Same input at different partitionings -> identical assignment set."""
    t1 = tables["tiles"].repartition(1)
    t2 = tables["tiles"].repartition(17, "image_id")
    a = {tuple(r) for r in assign.assign_tiles(t1, tables["aoi"]).collect()}
    b = {tuple(r) for r in assign.assign_tiles(t2, tables["aoi"]).collect()}
    assert a == b


def test_index_stats_vs_oracle(spark, tables):
    names = ["NDVI", "NDWI", "EVI", "SAVI", "TCBRI", "GNDVI"]
    got = indices.index_stats(tables["images"], names).collect()
    assert len(got) == N * len(names)
    by_key = {(r.image_id, r.index_name): r for r in got}
    for i in range(0, N, 7):
        h, w = datagen.image_dims(i)
        want = indices.oracle_index_stats(i, h, w, names)
        fmt = datagen.image_fmt(i)
        for n in names:
            r = by_key[(f"img{i:012d}", n)]
            wm, wmin, wmax = want[n]
            tol = 1e-6 if fmt != "jpeg" else 0.05  # lossy rows: loose stats tol
            assert abs(r.mean - wm) <= tol, (i, n, fmt)
            assert abs(r.min - wmin) <= 3 * tol
            assert abs(r.max - wmax) <= 3 * tol


def test_parametric_index(spark, tables):
    # X2 analog: WDRVI alpha forwarded (reference test_index.py:77-79)
    a02 = indices.index_stats(tables["images"], ["WDRVI"], {"WDRVI": {"alpha": 0.2}})
    a10 = indices.index_stats(tables["images"], ["WDRVI"], {"WDRVI": {"alpha": 1.0}})
    m02 = {r.image_id: r.mean for r in a02.collect()}
    m10 = {r.image_id: r.mean for r in a10.collect()}
    assert any(abs(m02[k] - m10[k]) > 1e-3 for k in m02)


def test_custom_index_registration(spark, tables):
    # X1 analog: user-registered kernel
    indices.register_index("DIFF_RG", ["RED", "GREEN"], lambda b: b["RED"] - b["GREEN"])
    got = indices.index_stats(tables["images"].limit(6), ["DIFF_RG"]).collect()
    assert len(got) == 6
    del indices.INDEX_REGISTRY["DIFF_RG"]


def test_extent_and_footprint(spark, tables):
    ext = {r.image_id: (r.x0, r.y0, r.x1, r.y1) for r in footprint.extent(tables["tiles"]).collect()}
    for i in range(0, N, 11):
        want = tuple(float(v) for v in np.concatenate(datagen.scene_bbox(np.array([i]))))
        got = ext[f"img{i:012d}"]
        assert np.allclose(got, want)
    fp = footprint.footprint(tables["tiles"]).collect()
    assert len(fp) == N
    for r in fp[:5]:
        ring = pip.parse_wkt_polygon(r.geom_wkt)
        assert len(ring) >= 4


def _pass1_resolved(queries, points, k, res, k_cells):
    """Queries resolved by knn_join's first ring pass alone."""
    from eoreader_spark.operators.knn import _ring_pass

    q = queries.withColumn("qcell", cells.encode_expr("lon", "lat", res))
    p = points.select("image_id", "lon", "lat").withColumn(
        "pcell", cells.encode_expr("lon", "lat", res)
    )
    exact = _ring_pass(q, p, k, res, k_cells, "query_id", "image_id", True)
    return exact.select("query_id").distinct().count()


@pytest.mark.parametrize("res,k_cells", [(5, 2), (5, 1), (7, 1), (9, 1)])
def test_knn_matches_brute_force(spark, tables, res, k_cells):
    """Exact at every (res, k_cells); at res=9, k_cells=1 the first ring
    leaves a residue, so the coarse full-cover pass really runs."""
    scenes = tables["scenes"]
    queries = scenes.limit(10).selectExpr("image_id as query_id", "lon", "lat")
    got = knn.knn_join(queries, scenes, k=3, res=res, k_cells=k_cells).collect()
    want = knn.knn_brute(queries, scenes, k=3).collect()
    gk = {(r.query_id, r.rank): r.image_id for r in got}
    wk = {(r.query_id, r.rank): r.image_id for r in want}
    assert gk == wk
    if res == 9:
        assert _pass1_resolved(queries, scenes, 3, res, k_cells) < 10


def test_knn_full_cover_pass_stays_coarse(spark, tables):
    """The residue pass covers the whole grid at the coarse resolution 3
    (ring radius 8, <= 128 cells), never at the query resolution: a
    full-cover ring at res=9 is radius 512, ~524k cells per leftover query.
    Read from the analyzed plan — optimization folds the literal
    sequence(-K, K) into an array constant."""
    import re

    scenes = tables["scenes"]
    queries = scenes.limit(10).selectExpr("image_id as query_id", "lon", "lat")
    df = knn.knn_join(queries, scenes, k=3, res=9, k_cells=1)
    plan = df._jdf.queryExecution().analyzed().toString()
    radii = [int(m) for m in re.findall(r"sequence\(-(\d+), \1\b", plan)]
    assert radii and max(radii) == 1 << 3


def test_knn_ring_widening_mostly_unresolved(spark, tables):
    """VERDICT round-1 scale fix: when the first ring resolves under half the
    queries (k too large for one ring at fine resolution), the full-cover
    residue pass — not a whole-table brute pass — must still give exact
    top-k."""
    scenes = tables["scenes"]
    queries = scenes.limit(20).selectExpr("image_id as query_id", "lon", "lat")
    # res=9 cells are tiny; k=8 needs many neighbours -> ring 1 resolves few
    got = knn.knn_join(queries, scenes, k=8, res=9, k_cells=1).collect()
    want = knn.knn_brute(queries, scenes, k=8).collect()
    gk = {(r.query_id, r.rank): r.image_id for r in got}
    wk = {(r.query_id, r.rank): r.image_id for r in want}
    assert gk == wk
    # and the first ring really is mostly unresolved (the premise holds)
    assert _pass1_resolved(queries, scenes, 8, 9, 1) < 10  # >50% unresolved


def test_knn_no_resolved_set_broadcast_hint(spark, tables):
    """The unresolved-query derivation must not force a broadcast of the
    resolved-id set (query-scale at 10^12): no ResolvedHint/broadcast marker
    on the anti-join input in the optimized logical plan."""
    scenes = tables["scenes"]
    queries = scenes.limit(10).selectExpr("image_id as query_id", "lon", "lat")
    df = knn.knn_join(queries, scenes, k=3, res=7, k_cells=1)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # no broadcast hint at all: the resolved-id set is query-scale
    joins = [ln for ln in logical.splitlines() if "Join LeftAnti" in ln]
    assert joins, "residue anti-join missing from plan"
    for ln in joins:
        assert "broadcast" not in ln.lower()


def test_constellation_detection_table(spark):
    """Every sample name (one per constellation class, public naming
    conventions) detects to its constellation; garbage -> NULL."""
    import __spark_entry__ as m
    from eoreader_spark.sources import reader

    expected = ["S2", "S1", "L8", "PLD", "S3_OLCI", "S3_SLSTR", "L9", "L7",
                "L5", "HLS", "PNEO", "SPOT7", "TSX", "RCM", "ICEYE",
                "CAPELLA", "VENUS", "UMBRA"]
    df = spark.createDataFrame(
        [(n,) for n in m._SAMPLE_NAMES] + [("garbage_123",)], "product_name string"
    )
    got = {r.product_name: r.constellation for r in reader.detect(df).collect()}
    for name, want in zip(m._SAMPLE_NAMES, expected):
        assert got[name] == want, (name, got[name], want)
    assert got["garbage_123"] is None
    assert len(reader.NAME_PATTERNS) >= 40


def test_constellation_member_fallback(spark):
    """Products with unrecognizable folder names dispatch on the archive
    member list (reference checks a file inside, reader.py:377-420)."""
    from eoreader_spark.sources import reader

    rows = [
        ("randomdir1", ["CSKS2_SCS_U_HI_01_HH_RA_FF_20200101000000.h5"]),
        ("randomdir2", ["tile/B12.jp2", "tile/B04.jp2"]),
        ("randomdir3", ["ortho/12JAN08111111-P2AS-myid.TIL"]),
        ("randomdir4", ["readme.txt"]),
        ("S2A_MSIL2A_20240116T105309_rest", ["whatever.xml"]),  # name wins
    ]
    df = spark.createDataFrame(rows, "product_name string, members array<string>")
    got = {r.product_name: r.constellation
           for r in reader.detect_with_fallback(df).collect()}
    assert got["randomdir1"] == "CSK"
    assert got["randomdir2"] == "S2_SIN"
    assert got["randomdir3"] == "MAXAR"
    assert got["randomdir4"] is None
    assert got["S2A_MSIL2A_20240116T105309_rest"] == "S2"


def test_maxar_member_refinement(spark):
    """Round 8: SATID metadata resolves the MAXAR/VANTOR umbrella to the
    per-member constellation (vantor_product.py:675-687); Legion platforms
    fold to WVLG; missing/unknown SATIDs keep the umbrella; non-Maxar tags
    pass through untouched."""
    from eoreader_spark.sources import reader

    rows = [
        ("055670633040_01_P001_MUL", "QB02"),
        ("055670633041_01_P001_PSH", "GE01"),
        ("055670633042_01_P001_PAN", "WV01"),
        ("055670633043_01_P001_MUL", "WV02"),
        ("055670633044_01_P001_MOS", "WV03"),
        ("055670633045_01_P001_MUL", "WV04"),
        ("055670633046_01_P001_MUL", "LG03"),
        ("055670633047_01_P001_MUL", None),
        ("055670633048_01_P001_MUL", "XX99"),
        ("S2A_MSIL2A_20240116T105309_rest", "QB02"),  # not Maxar: untouched
    ]
    df = spark.createDataFrame(rows, "product_name string, satid string")
    got = {
        r.product_name: r.constellation
        for r in reader.detect(df)
        .withColumn(
            "constellation",
            reader.refine_constellation("constellation", "satid"),
        )
        .collect()
    }
    assert got["055670633040_01_P001_MUL"] == "QB02"
    assert got["055670633041_01_P001_PSH"] == "GE01"
    assert got["055670633042_01_P001_PAN"] == "WV01"
    assert got["055670633043_01_P001_MUL"] == "WV02"
    assert got["055670633044_01_P001_MOS"] == "WV03"
    assert got["055670633045_01_P001_MUL"] == "WV04"
    assert got["055670633046_01_P001_MUL"] == "WVLG"
    assert got["055670633047_01_P001_MUL"] == "MAXAR"
    assert got["055670633048_01_P001_MUL"] == "MAXAR"
    assert got["S2A_MSIL2A_20240116T105309_rest"] == "S2"


def test_stac_item_stage_detection(spark):
    """Round 8: STAC-hosted variants resolve from the item's collection and
    href (reference reader.py:700-733): rtc collection -> S1_RTC_MPC; S2 on
    Planetary Computer -> S2_MPC; S2 on Element84 -> S2_E84; other
    constellations and already-specific ids pass through."""
    from eoreader_spark.sources import reader

    rows = [
        ("any-id", "https://planetarycomputer.microsoft.com/x",
         "sentinel-1-rtc", "S1_RTC_MPC"),
        ("S2B_MSIL2A_20230715T104629_rest",
         "https://planetarycomputer.microsoft.com/x", "sentinel-2-l2a",
         "S2_MPC"),
        ("S2B_MSIL2A_20230715T104629_rest",
         "https://earth-search.aws.element84.com/v1/x", "sentinel-2-l2a",
         "S2_E84"),
        ("S2B_MSIL2A_20230715T104629_rest",
         "https://elsewhere.example.org/x", "sentinel-2-l2a", "S2"),
        ("S2A_31UDQ_20230714_0_L2A",
         "https://earth-search.aws.element84.com/v1/x", "sentinel-2-l2a",
         "S2_E84"),
        ("LC08_L2SP_197029_20230604_20230614_02_T1",
         "https://planetarycomputer.microsoft.com/x", "landsat-c2-l2", "L8"),
        ("mystery-item", "https://example.org/x", "misc", None),
    ]
    df = spark.createDataFrame(
        [(i, h, c) for i, h, c, _ in rows],
        "item_id string, self_href string, collection_id string",
    )
    got = [
        r.constellation
        for r in df.withColumn(
            "constellation",
            reader.stac_constellation_of("item_id", "self_href", "collection_id"),
        ).collect()
    ]
    assert got == [want for _, _, _, want in rows]


def test_vantor_member_layouts_and_gains(spark):
    """Round 8: per-member dispatch parameters — QB02/GE01/WV04 are 4-band
    BGRN, WV01 pan-only, WV02/WV03/WVLG keep the 8-band Multi; the public
    white-paper calibration table exposes per-band (gain, offset) per
    member and refuses the umbrella tag."""
    import pytest

    from eoreader_spark import bands, datagen
    from eoreader_spark.plans import loader

    assert bands.layout_for("QB02") == "MAXAR_BGRN"
    assert bands.layout_for("GE01") == "MAXAR_BGRN"
    assert bands.layout_for("WV04") == "MAXAR_BGRN"
    assert bands.layout_for("WV01") == "VHR_PAN"
    for m in ("WV02", "WV03", "WVLG", "VANTOR"):
        assert bands.layout_for(m) == "MAXAR_MUL"
    assert bands.layout_for("SATELLOGIC") == "ALEPH1_MS"
    assert bands.n_planes("MAXAR_BGRN") == 4

    assert bands.vantor_gains("WV01") == {"PAN": (1.016, -1.824)}
    assert bands.vantor_gains("WV02")["YELLOW"] == (0.946, -5.675)
    assert set(bands.vantor_gains("QB02")) == {
        "PAN", "BLUE", "GREEN", "RED", "NIR", "NARROW_NIR"}
    with pytest.raises(KeyError):
        bands.vantor_gains("MAXAR")

    # per-member tag drives a real load: QB02 resolves NDVI from the BGRN
    # planes, and the 8-band YELLOW probe is absent
    imgs = datagen.gen_images(spark, 4, layout="MAXAR_BGRN").filter(
        "fmt = 'raw8'")
    eng = loader.ImageEngine(imgs, band_map="QB02",
                             gains=bands.vantor_gains("QB02"))
    assert eng.has_band("NDVI") and eng.has_band("NARROW_NIR")
    assert not eng.has_band("YELLOW")
    n_imgs = imgs.count()
    assert n_imgs >= 1
    assert eng.load(["NDVI"], clean="raw").count() == n_imgs

    pan_eng = loader.ImageEngine(
        datagen.gen_images(spark, 2, layout="VHR_PAN").filter("fmt = 'raw8'"),
        band_map="WV01", gains=bands.vantor_gains("WV01"))
    assert pan_eng.has_band("PAN") and not pan_eng.has_band("RED")


def test_knn_never_resolving_rings_terminate_without_brute(spark, tables):
    """Round-2 VERDICT #9: with fewer points than k, NO ring pass can ever
    satisfy the >=k-hits test — the join must still resolve through the
    full-cover residue pass (exact by construction) and the plan must not
    contain a broadcast nested-loop brute (the old unbounded fallback)."""
    scenes = tables["scenes"]
    points = scenes.limit(2)  # fewer points than k=5 -> rings never resolve
    queries = scenes.limit(6).selectExpr("image_id as query_id", "lon", "lat")
    df = knn.knn_join(queries, points, k=5, res=3, k_cells=1)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in physical
    got = df.collect()
    want = knn.knn_brute(queries, points, k=5).collect()
    gk = {(r.query_id, r.rank): r.image_id for r in got}
    wk = {(r.query_id, r.rank): r.image_id for r in want}
    assert gk == wk  # exact top-(n_points) per query, rank <= 2


def test_knn_residue_resolves_without_brute(spark, tables):
    """A residue left by the first ring at res=8 must reach exactness
    through the full-cover pass alone (no knn_brute / no broadcast of the
    residue)."""
    scenes = tables["scenes"]
    queries = scenes.limit(12).selectExpr("image_id as query_id", "lon", "lat")
    df = knn.knn_join(queries, scenes, k=6, res=8, k_cells=1)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in physical
    got = {(r.query_id, r.rank): r.image_id for r in df.collect()}
    want = {(r.query_id, r.rank): r.image_id
            for r in knn.knn_brute(queries, scenes, k=6).collect()}
    assert got == want
    assert _pass1_resolved(queries, scenes, 6, 8, 1) < 12  # a residue exists


def test_footprint_centroid_is_polygon_centroid(spark):
    """A3: centroid must be the AREA centroid of the hull, not the extent
    center — a right triangle separates the two ((mean != bbox center))."""
    pts = spark.createDataFrame(
        [("t", 0.0, 0.0), ("t", 6.0, 0.0), ("t", 0.0, 6.0)],
        "group_id string, x double, y double",
    )
    r = footprint.hull_centroid(pts).first()
    assert (r.cx, r.cy) == (2.0, 2.0)  # triangle centroid, NOT (3, 3)
    # tiles path: axis-aligned rectangle -> coincides with extent center
    tiles = spark.createDataFrame(
        [("img", 0, 0, 0.0, 0.0, 2.0, 1.0), ("img", 1, 0, 2.0, 0.0, 4.0, 1.0)],
        "image_id string, tile_x int, tile_y int, x0 double, y0 double, x1 double, y1 double",
    )
    rc = footprint.centroid(tiles).first()
    assert (rc.cx, rc.cy) == (2.0, 0.5)
