"""The load/stack plan builder — the engine's Product.load analog.

Reference lifecycle (/root/reference/eoreader/products/product.py:1076-1330):
  load(bands, window=...) = normalize + alias-resolve (P1, product.py:2664-2701)
  -> validate (P2 has_band, product.py:1611-1763)
  -> classify into spectral/index/dem/mask lists (P3, product.py:1177-1231)
  -> expand index band needs (NEEDED_BANDS, product.py:1238-1240)
  -> read + clean + to-reflectance (optical_product.py:268-353)
  -> compute indices on collocated bands (product.py:1254)
  -> DEM derivatives (product.py:1495-1549)
  -> masks/clouds (optical_product.py:579-697)
  -> collocate + reorder -> Dataset (product.py:1303-1330)
and stack(bands) materializes a single multi-band raster with optional uint16
conversion (product.py:2217-2297, utils.py:461-546).

Spark form: the plan is built ONCE on the driver and emits a single
DataFrame of wide tile rows (image_id, tile_x, tile_y, px_<BAND> ...).
Everything after decode is JVM array expressions (zip_with/transform,
whole-stage codegen); decode itself is one mapInPandas pass that reads every
needed plane once (the reference's 'open them only one time!' CSE,
product.py:1242-1247).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eoreader_spark import bands as bands_mod
from eoreader_spark.datagen import TILE
from eoreader_spark.functions import radiometry
from eoreader_spark.operators import raster, stencil

# legacy default plane map (round-1 3-plane images); richer layouts come from
# eoreader_spark.bands.LAYOUTS ('S2_L2A', 'L8_OLI', 'S1_GRD', ...) via the
# ImageEngine(band_map=...) parameter — the per-product band-number table of
# the reference (s2_product.py:279-348)
SPECTRAL = bands_mod.plane_of("LEGACY3")
ALIASES = bands_mod.ALIASES  # full vocabulary (bands.py)
DEM_BANDS = bands_mod.DEM_BANDS
MASK_BANDS = bands_mod.MASK_BANDS
_MASK_BITS = {"NODATA_MASK": [0], "CLOUD_MASK": [5], "SHADOW_MASK": [6], "ALL_MASK": [0, 1, 2, 5, 6]}
# S2 Scene Classification Layer analog, derived from the QA bitfield with the
# public SCL class codes (0 NO_DATA, 1 SATURATED_DEFECTIVE, 3 CLOUD_SHADOWS,
# 4 VEGETATION, 9 CLOUD_HIGH_PROBABILITY) — the reference reads SCL as its own
# 20m band (band_names.py:839-859); synthetic products derive it.
_SCL_CODES = {"nodata": 0, "saturated": 1, "shadow": 3, "clear": 4, "cloud": 9}

# index -> (needed spectral bands, array-expression builder over px columns)
def _nd(a: Column, b: Column) -> Column:
    # normalized difference with the same epsilon as functions/indices.py
    return F.zip_with(a, b, lambda x, y: (x - y) / (x + y + F.lit(1e-12)))


INDEX_EXPRS = {
    "NDVI": (["NIR", "RED"], lambda c: _nd(c["NIR"], c["RED"])),
    "NDWI": (["GREEN", "NIR"], lambda c: _nd(c["GREEN"], c["NIR"])),
    "GNDVI": (["NIR", "GREEN"], lambda c: _nd(c["NIR"], c["GREEN"])),
    "SAVI": (
        ["NIR", "RED"],
        lambda c: F.zip_with(
            c["NIR"], c["RED"],
            lambda n, r: (F.lit(1.5)) * (n - r) / (n + r + F.lit(0.5) + F.lit(1e-12)),
        ),
    ),
    "EVI": (
        ["NIR", "RED"],
        lambda c: F.zip_with(
            c["NIR"], c["RED"],
            lambda n, r: F.lit(2.5) * (n - r) / (n + F.lit(6.0) * r + F.lit(1.0) + F.lit(1e-12)),
        ),
    ),
    "TCBRI": (
        ["RED", "GREEN", "NIR"],
        lambda c: F.zip_with(
            F.zip_with(c["RED"], c["GREEN"], lambda r, g: F.lit(0.3037) * r + F.lit(0.2793) * g),
            c["NIR"],
            lambda acc, n: acc + F.lit(0.3279) * n,
        ),
    ),
    # SWIR/BLUE-family headline indices (loadable under multispectral
    # layouts; formulas are the published spyndex defaults mirrored from
    # /root/reference/eoreader/bands/indices.py:102-159)
    "NBR": (["NIR", "SWIR_2"], lambda c: _nd(c["NIR"], c["SWIR_2"])),
    "NDMI": (["NIR", "SWIR_1"], lambda c: _nd(c["NIR"], c["SWIR_1"])),
    "NDSI": (["GREEN", "SWIR_1"], lambda c: _nd(c["GREEN"], c["SWIR_1"])),
    "NDBI": (["SWIR_1", "NIR"], lambda c: _nd(c["SWIR_1"], c["NIR"])),
    "NDRE": (["NIR", "VRE_1"], lambda c: _nd(c["NIR"], c["VRE_1"])),
    "BAIS2_SIMPLE": (["VRE_2", "SWIR_2"], lambda c: _nd(c["VRE_2"], c["SWIR_2"])),
    "MNDWI": (["GREEN", "SWIR_1"], lambda c: _nd(c["GREEN"], c["SWIR_1"])),
}


BandError = bands_mod.BandError  # back-compat re-export (tests pin loader.BandError)


def to_band(name: str) -> str:
    """P1 alias resolution: 'B04'/'04'/'red' -> 'RED' via the full vocabulary
    (eoreader_spark.bands); index names (registry or JVM-expr table) pass
    through canonically; '<band>_DSPK' resolves its base band (the VV_DSPK
    despeckle-routing pattern,
    /root/reference/eoreader/products/sar/sar_product.py:509-552)."""
    from eoreader_spark.functions import indices as _idx

    key = str(name).strip()
    up = key.upper()
    if key in _idx.INDEX_REGISTRY:  # user-registered names resolve verbatim
        return key
    if up in _idx.INDEX_REGISTRY or up in INDEX_EXPRS:
        return up
    if up.endswith("_DSPK"):
        base = to_band(up[:-5])
        if base not in bands_mod.ALL_PLANE_BANDS:
            raise BandError(f"_DSPK requires a plane band base, got {base!r}")
        return base + "_DSPK"
    return bands_mod.resolve(key)


@dataclass
class LoadPlan:
    """P3 classification result — driver-side IR of one load() call."""

    spectral: list[str] = field(default_factory=list)
    indices: list[str] = field(default_factory=list)
    dem: list[str] = field(default_factory=list)
    masks: list[str] = field(default_factory=list)
    despeckle: list[str] = field(default_factory=list)  # base bands (P8)
    order: list[str] = field(default_factory=list)
    needed_planes: list[int] = field(default_factory=list)
    needed_names: list[str] = field(default_factory=list)  # band names needing px cols


def classify(bands: list[str], plane_map: dict[str, int] | None = None) -> LoadPlan:
    """P3 classification against a plane map (default: the legacy 3-plane
    layout).  ``plane_map`` is the constellation's band->plane table; a band
    (or an index dependency) missing from it raises BandError, mirroring the
    reference's 'band does not exist for the satellite' semantics
    (band_names.py:155-158)."""
    from eoreader_spark.functions import indices as _idx

    plane_map = plane_map if plane_map is not None else SPECTRAL
    plan = LoadPlan()
    seen = set()
    for b in bands:
        cb = to_band(b)
        if cb in seen:  # U4 dedup: open them only one time
            continue
        seen.add(cb)
        plan.order.append(cb)
        if cb in plane_map:
            plan.spectral.append(cb)
        elif cb in INDEX_EXPRS or cb in _idx.INDEX_REGISTRY:
            plan.indices.append(cb)
        elif cb in DEM_BANDS:
            plan.dem.append(cb)
        elif (
            cb in MASK_BANDS
            or cb in bands_mod.DERIVED_MASK_BANDS
            or cb in bands_mod.SENSOR_MASK_DERIVATION
        ):
            plan.masks.append(cb)
        elif cb.endswith("_DSPK"):
            plan.despeckle.append(cb[:-5])  # P8: _DSPK requires its base band
        else:
            raise BandError(
                f"band {cb!r} does not exist for this product layout "
                f"(planes: {sorted(plane_map)})"
            )
    # NEEDED_BANDS expansion
    needed = set(plan.spectral) | set(plan.despeckle)
    for idx in plan.indices:
        needed.update(
            INDEX_EXPRS[idx][0] if idx in INDEX_EXPRS else _idx.INDEX_REGISTRY[idx][0]
        )
    bad = [b for b in needed if b not in plane_map]
    if bad:
        raise BandError(
            f"index/despeckle dependencies must be plane bands of this layout, got {sorted(bad)}"
        )
    plan.needed_planes = sorted({plane_map[b] for b in needed})
    plan.needed_names = sorted(needed)
    return plan


class ImageEngine:
    """Per-table engine: the Product analog over an images table.

    Parameters mirror the reference's product inputs: the images table (T1),
    optional qa_masks (T8), optional dem tiles (T6), and scene metadata for
    sun angles (T2).
    """

    def __init__(
        self,
        images: DataFrame,
        qa_masks: DataFrame | None = None,
        vector_masks: DataFrame | None = None,
        dem: DataFrame | None = None,
        sun_azimuth: float = 315.0,
        sun_zenith: float = 45.0,
        tile: int = TILE,
        gains: dict[str, tuple[float, float]] | None = None,
        band_map: str | list[str] | dict[str, int] | None = None,
        view: str | None = None,
        rad_adjust: str | dict[tuple[str, str], float] = "NONE",
        despeckle_method: str = "refined_lee",
    ) -> None:
        self.images = images
        self.qa_masks = qa_masks
        # S2 < PB04.00 analog: invalid pixels arrive as VECTOR (GML) masks,
        # not raster bitfields (reference s2_product.py:1214-1280) —
        # (image_id, wkt) polygons in pixel coordinates, used by
        # load(clean='vector')
        self.vector_masks = vector_masks
        self.dem = dem
        self.sun_azimuth = sun_azimuth
        self.sun_zenith = sun_zenith
        self.tile = tile
        # per-constellation band->plane table (bands.LAYOUTS name, explicit
        # band order, or a prebuilt map); default = legacy 3-plane layout
        self.plane_map = bands_mod.plane_of(band_map) if band_map is not None else dict(SPECTRAL)
        # layout CLASS gates per-sensor mask availability (an S2 DETFOO does
        # not exist for a Landsat product, band_names.py:569-835); explicit
        # plane lists/dicts carry no class -> only generic masks available.
        # A detected constellation TAG ('MAXAR', 'L7', ...) normalizes to its
        # layout class via bands.CONSTELLATION_LAYOUT — the Reader dispatch.
        if isinstance(band_map, str):
            self.layout_name = (
                band_map if band_map in bands_mod.LAYOUTS
                else bands_mod.CONSTELLATION_LAYOUT.get(band_map)
            )
        else:
            self.layout_name = None
        # X4 CustomProduct analog: per-band (gain, bias) applied at load time
        # (/root/reference/eoreader/products/custom_product.py:304-430)
        self.gains = {to_band(k): v for k, v in (gains or {}).items()}
        # F5 SLSTR-style radiance adjustment: each view is its own product
        # read in the reference; the per-(band, view) multiplicative coef
        # applies in the reflectance step (s3_slstr_product.py:801-850)
        self.view = view
        self.rad_adjust = rad_adjust
        # W3: the reference's despeckle graph is Refined Lee
        # (data/sar_despeckle_default.xml); 'lee' selects the plain 3x3
        self.despeckle_method = despeckle_method

    # ----------------------------------------------------------- predicates
    def has_band(self, band: str) -> bool:
        """P2: is this band loadable given the layout + attached side tables?"""
        try:
            cb = to_band(band)
        except BandError:
            return False
        if cb in DEM_BANDS:
            return self.dem is not None
        if cb in bands_mod.SENSOR_MASK_DERIVATION:
            avail = bands_mod.SENSOR_MASK_BANDS.get(self.layout_name or "", frozenset())
            return self.qa_masks is not None and cb in avail
        if cb in MASK_BANDS or cb in bands_mod.DERIVED_MASK_BANDS:
            return self.qa_masks is not None
        if cb in bands_mod.ALL_PLANE_BANDS:
            return cb in self.plane_map
        if cb.endswith("_DSPK"):
            return cb[:-5] in self.plane_map
        # index: every dependency must be a plane of this layout
        from eoreader_spark.functions import indices as _idx

        needs = (
            INDEX_EXPRS[cb][0] if cb in INDEX_EXPRS else _idx.INDEX_REGISTRY[cb][0]
        )
        return all(n in self.plane_map for n in needs)

    def has_bands(self, bands: list[str]) -> bool:
        return all(self.has_band(b) for b in bands)

    def _qa_product_level(self) -> DataFrame:
        """Product-level qa rows.  For a per-band table (J7), the per-pixel
        bit-UNION across bands — 'invalid in any band' (the reference unions
        nodata across bands before building product masks).

        The union pivots bands to flat array COLUMNS (metadata-scale
        distinct on band names) and ORs them with one vectorized numpy
        reduce — the old nested aggregate/zip_with fold was an interpreted
        higher-order function, B x n_px element evaluations per tile (the
        round-3 cold-JVM finding, BENCH.md), and nested array<array<int>>
        is the worst Arrow shape."""
        if "band" not in self.qa_masks.columns:
            return self.qa_masks
        import numpy as np
        import pandas as pd

        band_names = sorted(
            r["band"] for r in self.qa_masks.select("band").distinct().collect()
        )
        piv = (
            self.qa_masks.groupBy("image_id", "tile_x", "tile_y")
            .pivot("band", band_names)
            .agg(F.first("qa"))
        )

        def union(it):
            for pdf in it:
                n = len(pdf)
                if n == 0:
                    continue
                acc = None
                for b in band_names:
                    vals = pdf[b].to_numpy()
                    mask = pd.notna(vals)
                    if not mask.any():
                        continue
                    idx = np.nonzero(mask)[0]
                    m = np.stack([np.asarray(vals[i], dtype=np.int32) for i in idx])
                    if acc is None:
                        acc = np.zeros((n, m.shape[1]), dtype=np.int32)
                    acc[idx] |= m
                out = pdf[["image_id", "tile_x", "tile_y"]].copy()
                out["qa"] = list(acc) if acc is not None else [[]] * n
                yield out

        return piv.mapInPandas(
            union, schema="image_id string, tile_x int, tile_y int, qa array<int>"
        )

    # ----------------------------------------------------------------- load
    def load(
        self,
        bands: list[str],
        clean: str = "clean",
        window: tuple[float, float, float, float] | None = None,
        reflectance: bool = True,
    ) -> DataFrame:
        """-> wide tile rows (image_id, tile_x, tile_y, px_<BAND>...) in the
        requested band order (O2 reorder, product.py:1313-1315).

        ``window`` = (tx0, ty0, tx1, ty1) tile-coordinate window (P7): applied
        BEFORE kernels so decode work is pruned (the rasterio-window analog;
        with cell-partitioned tables Catalyst turns it into partition pruning).
        """
        plan = classify(bands, self.plane_map)
        for b in plan.order:
            if not self.has_band(b):
                raise BandError(f"band {b} not available (missing side table)")

        # 1. decode every needed plane once
        if plan.needed_planes:
            wide = raster.multi_plane_tiles(self.images, plan.needed_planes, tile=self.tile)
        else:
            base = (
                self._qa_product_level() if self.qa_masks is not None else self.dem
            )
            wide = base.select("image_id", "tile_x", "tile_y").distinct()
        if window is not None:
            tx0, ty0, tx1, ty1 = window
            wide = wide.filter(
                (F.col("tile_x") >= tx0) & (F.col("tile_x") <= tx1)
                & (F.col("tile_y") >= ty0) & (F.col("tile_y") <= ty1)
            )

        # primary name per physical plane (dict layouts may alias several
        # names onto one plane, e.g. NARROW_NIR/NIR on Maxar id 7 —
        # vantor_product.py:1192-1230); processing runs ONCE per plane on the
        # primary column, alias columns attach after reflectance
        name_of: dict[int, str] = {}
        for b, p in self.plane_map.items():
            name_of.setdefault(p, b)
        for p in plan.needed_planes:
            wide = wide.withColumnRenamed(f"px_{p}", f"px_{name_of[p]}")

        # 2. cleaning (P4/P5) on every decoded plane.  A qa_masks table WITH
        # a `band` column is the per-band mask association (J7): each plane
        # joins ITS OWN mask on the (image, band, tile) composite key — the
        # reference's (DETFOO_B03, band) expansion (s2_product.py:802-925).
        # Without a band column one product-level mask applies to all planes.
        per_band_qa = self.qa_masks is not None and "band" in self.qa_masks.columns
        if clean == "vector" and plan.needed_planes:
            # S2 <4.0 vector-mask cleaning: rasterize the image's invalid-
            # pixel polygons (PIP even-odd over the tile's pixel-center
            # lattice, spatial/pip.py) and NaN-out inside — the GML-mask
            # variant of invalid-pixel cleaning (s2_product.py:1214-1280).
            # ONE mapInPandas pass computes the mask once per tile and
            # applies it to every decoded plane.
            if self.vector_masks is None:
                raise BandError("clean='vector' needs vector_masks (image_id, wkt)")
            polys = self.vector_masks.groupBy("image_id").agg(
                F.collect_list("wkt").alias("_wkts")
            )
            wide = wide.join(polys, "image_id", "left")
            px_names = [f"px_{name_of[p]}" for p in plan.needed_planes]
            t = self.tile
            out_schema = wide.drop("_wkts").schema

            def mask_batch(it):
                import numpy as np

                from eoreader_spark.spatial import pip as _pip

                yy, xx = np.mgrid[0:t, 0:t]
                fx, fy = xx.ravel().astype(np.float64), yy.ravel().astype(np.float64)
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    out = pdf.drop(columns=["_wkts"])
                    # build replacement column lists and reassign whole
                    # columns: chained .iat writes silently no-op under
                    # pandas copy-on-write (round-4 review finding)
                    new_cols = {c: list(out[c]) for c in px_names}
                    for ridx in range(len(pdf)):
                        wkts = pdf["_wkts"].iloc[ridx]
                        if wkts is None or len(wkts) == 0:
                            continue
                        gx = fx + int(pdf["tile_x"].iloc[ridx]) * t
                        gy = fy + int(pdf["tile_y"].iloc[ridx]) * t
                        inside = np.zeros(t * t, dtype=bool)
                        for wkt in wkts:
                            ring = _pip.parse_wkt_polygon(wkt)
                            inside |= _pip.points_in_polygon(gx, gy, ring)
                        if inside.any():
                            for c in px_names:
                                a = np.asarray(
                                    new_cols[c][ridx], dtype=np.float32
                                ).copy()
                                a[inside] = np.nan
                                new_cols[c][ridx] = a
                    for c in px_names:
                        out[c] = new_cols[c]
                    yield out

            wide = wide.mapInPandas(mask_batch, schema=out_schema)
        elif clean != "raw" and plan.needed_planes:
            if self.qa_masks is None:
                raise BandError("clean method needs qa_masks (use clean='raw')")
            bits = [0] if clean == "nodata" else [0, 1, 2]
            mask = radiometry.mask_union(*[radiometry.bit_plane("qa", b) for b in bits])
            if per_band_qa:
                # ONE pivot + ONE join (round-2 VERDICT #4): aggregating the
                # per-band qa rows into a band->qa map first means a 14-plane
                # clean load costs one exchange instead of 14 sequential
                # re-shuffles of the ever-wider tile row; each plane then
                # reads ITS mask with element_at (NULL when that band has no
                # mask row -> keep raw, same semantics as the old left join).
                needed_bands = [name_of[p] for p in plan.needed_planes]
                qa_map = (
                    self.qa_masks.filter(F.col("band").isin(needed_bands))
                    .groupBy("image_id", "tile_x", "tile_y")
                    .agg(
                        F.map_from_entries(
                            F.collect_list(F.struct("band", "qa"))
                        ).alias("_qa_map")
                    )
                )
                wide = wide.join(qa_map, ["image_id", "tile_x", "tile_y"], "left")
                for p in plan.needed_planes:
                    col = f"px_{name_of[p]}"
                    qa_b = F.element_at("_qa_map", F.lit(name_of[p]))
                    band_mask = radiometry.mask_union(
                        *[radiometry.bit_plane(qa_b, b) for b in bits]
                    )
                    wide = wide.withColumn(
                        col,
                        F.when(qa_b.isNull(), F.col(col)).otherwise(
                            radiometry.apply_mask(col, band_mask)
                        ),
                    )
                wide = wide.drop("_qa_map")
            else:
                wide = wide.join(self.qa_masks, ["image_id", "tile_x", "tile_y"], "left")
                for p in plan.needed_planes:
                    col = f"px_{name_of[p]}"
                    wide = wide.withColumn(
                        col,
                        F.when(F.col("qa").isNull(), F.col(col)).otherwise(
                            radiometry.apply_mask(col, mask)
                        ),
                    )
                wide = wide.drop("qa")

        # 3. DN -> reflectance (F2) + user gain/bias (X4) + clip (P6)
        if reflectance:
            for p in plan.needed_planes:
                col = f"px_{name_of[p]}"
                expr = radiometry.dn_to_reflectance(col)
                coef = radiometry.rad_adjust_coef(
                    bands_mod.SLSTR_BAND_IDS.get(name_of[p]), self.view, self.rad_adjust
                )
                if coef != 1.0:
                    # closure factory, NOT `lambda x, c=c`: a 2-param lambda
                    # is read by Spark as an (element, index) lambda
                    expr = F.transform(expr, radiometry._mul_by(float(coef)))
                if name_of[p] in self.gains:
                    g, b = self.gains[name_of[p]]
                    expr = F.transform(expr, lambda x: x * F.lit(float(g)) + F.lit(float(b)))
                wide = wide.withColumn(col, radiometry.clip_reflectance(expr))

        # 3b. alias columns for non-primary names sharing a decoded plane
        # (zero-copy projection: Catalyst collapses the duplicate reference)
        for b in plan.needed_names:
            prim = name_of[self.plane_map[b]]
            if prim != b:
                wide = wide.withColumn(f"px_{b}", F.col(f"px_{prim}"))

        # 4. indices over collocated planes (F1/J1 — collocation is implicit:
        # planes share the tile row).  JVM zip_with expressions where defined
        # (whole-stage codegen); any other registry index (incl. user-
        # registered X1 kernels) falls back to a vectorized pandas UDF over
        # the plane arrays — the full 32-index catalog is loadable.
        from eoreader_spark.functions import indices as _idx

        for idx in plan.indices:
            if idx in INDEX_EXPRS:
                needs, builder = INDEX_EXPRS[idx]
                cols = {b: F.col(f"px_{b}") for b in needs}
                wide = wide.withColumn(f"px_{idx}", builder(cols))
            else:
                needs, fn = _idx.INDEX_REGISTRY[idx]
                needs = list(needs)

                @F.pandas_udf("array<float>")
                def kernel(*cols, _fn=fn, _needs=tuple(needs)):
                    import numpy as _np
                    import pandas as _pd

                    mats = {
                        b: _np.stack([_np.asarray(v, dtype=_np.float32) for v in c])
                        for b, c in zip(_needs, cols)
                    }
                    out = _fn(mats).astype(_np.float32)
                    return _pd.Series(list(out))

                wide = wide.withColumn(
                    f"px_{idx}", kernel(*[F.col(f"px_{b}") for b in needs])
                )

        # 5. DEM derivatives (J3 + W1/W2): stencil jobs joined back on tile key
        if plan.dem:
            dem_px = self.dem.withColumnRenamed("z", "px")
            if window is not None:
                # prune the stencil side too — expanded by 1 tile so halo
                # rows at the window border stay correct
                tx0, ty0, tx1, ty1 = window
                dem_px = dem_px.filter(
                    (F.col("tile_x") >= tx0 - 1) & (F.col("tile_x") <= tx1 + 1)
                    & (F.col("tile_y") >= ty0 - 1) & (F.col("tile_y") <= ty1 + 1)
                )
            if {"SLOPE", "HILLSHADE"} & set(plan.dem):
                # FUSED stencil pass (round 3): SLOPE, HILLSHADE and the raw
                # DEM share one exchange and one Arrow pass — never one
                # exchange + join per derivative
                kernels: dict = {}
                if "DEM" in plan.dem:
                    kernels["px_DEM"] = ("px", stencil.center_kernel)
                if "SLOPE" in plan.dem:
                    kernels["px_SLOPE"] = ("px", stencil.slope_kernel)
                if "HILLSHADE" in plan.dem:
                    kernels["px_HILLSHADE"] = (
                        "px",
                        stencil.hillshade_kernel_factory(self.sun_azimuth, self.sun_zenith),
                    )
                derived = stencil.apply_stencil_multi(dem_px, kernels, tile=self.tile)
                wide = wide.join(derived, ["image_id", "tile_x", "tile_y"])
            elif "DEM" in plan.dem:
                # raw DEM only: a plain equi-join, no halo machinery
                wide = wide.join(
                    dem_px.withColumnRenamed("px", "px_DEM"),
                    ["image_id", "tile_x", "tile_y"],
                )

        # 5b. despeckled bands (W3, P8): ALL bases share one fused stencil
        # pass + one join back onto the wide row
        if plan.despeckle:
            band_tiles = wide.select(
                "image_id", "tile_x", "tile_y",
                *[f"px_{base}" for base in plan.despeckle],
            )
            refined = self.despeckle_method == "refined_lee"
            mk = stencil.refined_lee_kernel_factory if refined else stencil.lee_kernel_factory
            kernels = {
                f"px_{base}_DSPK": (f"px_{base}", mk()) for base in plan.despeckle
            }
            d = stencil.apply_stencil_multi(
                band_tiles, kernels, tile=self.tile, halo=3 if refined else 1
            )
            wide = wide.join(d, ["image_id", "tile_x", "tile_y"])

        # 6. masks as uint8-ish int arrays (optical_product.py:440-441);
        # SCL is the derived scene-classification analog (public class
        # codes).  Product-level masks over a per-band qa table use the
        # cross-band bit union ('masked in any band').  ALL requested masks
        # derive from the SAME qa plane in one select and attach with ONE
        # join — never a join per mask (the round-2 VERDICT #2 anti-pattern,
        # fixed for masks like for per-band qa).
        qa_product = self._qa_product_level() if plan.masks else None
        mask_cols = []
        for m in plan.masks:
            if m == "QA_PIXEL":
                # raw QA bitfield plane (Landsat QA_PIXEL/BQA: the reference
                # loads it as its own band, landsat_product.py:1445-1514)
                mask_col = F.col("qa")
            elif m == "SCL":
                mask_col = F.transform(
                    "qa",
                    lambda x: F.when(x.bitwiseAND(F.lit(1)) != 0, F.lit(_SCL_CODES["nodata"]))
                    .when(F.shiftright(x, 2).bitwiseAND(F.lit(1)) != 0, F.lit(_SCL_CODES["saturated"]))
                    .when(F.shiftright(x, 5).bitwiseAND(F.lit(1)) != 0, F.lit(_SCL_CODES["cloud"]))
                    .when(F.shiftright(x, 6).bitwiseAND(F.lit(1)) != 0, F.lit(_SCL_CODES["shadow"]))
                    .otherwise(F.lit(_SCL_CODES["clear"])),
                )
            elif m in bands_mod.SENSOR_MASK_DERIVATION:
                kind, param = bands_mod.SENSOR_MASK_DERIVATION[m]
                if kind == "bits":
                    mask_col = radiometry.mask_union(
                        *[radiometry.bit_plane("qa", b) for b in param]
                    )
                elif kind == "clear":
                    u = radiometry.mask_union(
                        *[radiometry.bit_plane("qa", b) for b in param]
                    )
                    mask_col = F.transform(u, lambda x: F.lit(1) - x)
                else:  # 'prob': 0/100 probability plane (CLDPRB/SNWPRB class)
                    mask_col = F.transform(
                        radiometry.bit_plane("qa", param), lambda x: x * F.lit(100)
                    )
            else:
                bits = _MASK_BITS[m]
                mask_col = radiometry.mask_union(*[radiometry.bit_plane("qa", b) for b in bits])
            mask_cols.append(mask_col.alias(f"px_{m}"))
        if mask_cols:
            qa_all = qa_product.select("image_id", "tile_x", "tile_y", *mask_cols)
            wide = wide.join(qa_all, ["image_id", "tile_x", "tile_y"])

        # 7. stable reorder to the user's band order (O2)
        return wide.select(
            "image_id", "tile_x", "tile_y", *[f"px_{b}" for b in plan.order]
        )

    # ---------------------------------------------------------------- stack
    def stack(
        self,
        bands: list[str],
        out_path: str | None = None,
        as_uint16: bool = True,
        **load_kw,
    ) -> DataFrame:
        """Materialize a multi-band stack (product.py:2217-2297): wide load,
        nodata fill, optional uint16 conversion (S10), optional parquet sink
        (S9)."""
        wide = self.load(bands, **load_kw)
        order = [to_band(b) for b in bands]
        cached = None
        if as_uint16:
            px_bands = [
                b for b in order
                if b not in MASK_BANDS and b not in bands_mod.DERIVED_MASK_BANDS
                and b not in bands_mod.SENSOR_MASK_DERIVATION
            ]
            # ONE action computes every band's quantile guard on a cached
            # plan (convert_to_uint16's per-band .first() would re-execute
            # the whole decode pipeline once per band)
            cached = wide = wide.persist()
            guards = wide.select(
                *[
                    F.expr(f"percentile_approx(array_min(px_{b}), 0.001)").alias(b)
                    for b in px_bands
                ]
            ).first()
            for b in px_bands:
                col = f"px_{b}"
                q = guards[b]
                if q is not None and q < -0.1:
                    continue  # keep float semantics (utils.py:482-492)
                wide = wide.withColumn(
                    col,
                    F.transform(
                        col,
                        # clip guard-passing small negatives to 0 before
                        # scaling (reference utils.py:492-497)
                        lambda x: F.when(x.isNull() | F.isnan(x), F.lit(radiometry.UINT16_NODATA))
                        .otherwise(
                            F.least(
                                F.round(F.greatest(x, F.lit(0.0)) * radiometry.UINT16_SCALE),
                                F.lit(65534.0),
                            )
                        )
                        .cast("int"),
                    ),
                )
        if out_path:
            wide.write.mode("overwrite").parquet(out_path)
            if cached is not None:  # guards + write done: release cached blocks
                cached.unpersist()
            return wide.sparkSession.read.parquet(out_path)
        if cached is not None:
            # no sink materializes the plan here — unpersist now so repeated
            # stack() calls don't leak cached blocks; the caller's first
            # action recomputes the decode once (same cost as no-uint16 path)
            cached.unpersist()
        return wide
