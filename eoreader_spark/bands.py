"""Canonical band vocabulary: names, aliases, per-constellation plane layouts.

Mirrors the reference's band-name nomenclature
(/root/reference/eoreader/bands/band_names.py:137-424 SpectralBandNames +
SarBandNames, :551-560 DemBandNames, :839-859 Sentinel2L2ABands) and its
alias-resolution semantics (/root/reference/eoreader/bands/__init__.py:556-646
``to_band``: enum name, enum value, or common id string all resolve to the
canonical band).  The reference keys per-product band numbers off these names
("each product will set their band number in regard to their corresponding
name"); here the same role is played by LAYOUTS: constellation-class ->
ordered list of canonical names = the plane order of the encoded image.

Everything below is public knowledge (Sentinel-2/Landsat band naming, the
spyndex/Awesome-Spectral-Indices short names, SAR polarizations).
"""

from __future__ import annotations

# ------------------------------------------------------------ canonical names
# Optical spectral bands (S2-based nomenclature, band_names.py:161-214)
SPECTRAL_NAMES = [
    "CA", "BLUE", "DEEP_BLUE", "GREEN", "GREEN_1", "YELLOW", "RED",
    "VRE_1", "VRE_2", "VRE_3", "NIR", "NARROW_NIR", "WV", "SWIR_CIRRUS",
    "SWIR_1", "SWIR_2", "TIR_1", "TIR_2", "PAN",
]
# SAR polarization bands (band_names.py:387-424); *_DSPK resolved by suffix
SAR_NAMES = ["VV", "VH", "HH", "HV", "RH", "RV"]
# S3-OLCI channels with no cross-sensor canonical name keep their Oa id as
# their OWN band name, exactly like the reference (s3_olci_product.py:203-435
# keys Oa01/Oa09/Oa10/Oa13/Oa14/Oa15/Oa18/Oa19/Oa21 by the Oa enum itself)
OLCI_EXTRA_NAMES = ["Oa01", "Oa09", "Oa10", "Oa13", "Oa14", "Oa15", "Oa18", "Oa19", "Oa21"]
DEM_BANDS = {"DEM", "SLOPE", "HILLSHADE"}
MASK_BANDS = {"NODATA_MASK", "CLOUD_MASK", "SHADOW_MASK", "ALL_MASK"}
# QA-derived classification bands (need qa_masks, carry class codes rather
# than 0/1 masks, excluded from uint16 pixel conversion).  SCL is the S2-L2A
# scene classification.
DERIVED_MASK_BANDS = {"SCL", "QA_PIXEL"}

# ----------------------------------------------------- per-sensor mask bands
# The reference enumerates dozens of per-sensor mask bands
# (/root/reference/eoreader/bands/band_names.py:569-835: S2MaskBandNames,
# LandsatMaskBandNames, DimapV2MaskBandNames, PlanetMaskBandNames,
# HlsMaskBandNames, S2TheiaMaskBandNames, VenusMaskBandNames).  Here each
# name carries a DERIVATION over the engine's synthetic 7-bit qa bitfield
# (bit 0 nodata, 1 dropped/degraded, 2 saturated, 5 cloud, 6 shadow/snow):
#   ('bits', (b,...))  -> 0/1, union of the listed bits (masked where set)
#   ('clear', (b,...)) -> 0/1, 1 where NONE of the listed bits is set
#   ('prob', b)        -> 0/100 probability plane (bit * 100)
# Snow-class masks share the shadow bit plane (the synthetic qa has no
# dedicated snow bit — documented divergence); angle rasters (SAA/SZA/
# VAA/VZA) are NOT mask bands here: sun-angle grids live in the T9 table
# (operators.raster.mean_sun_angles).
SENSOR_MASK_DERIVATION: dict[str, tuple] = {
    # Sentinel-2 (S2MaskBandNames) — legacy + processing baseline >= 04.00
    "DETFOO": ("clear", (0,)),         # detector footprint = has data
    "TECQUA": ("bits", (1, 2)),        # technical quality
    "DEFECT": ("bits", (1,)),
    "NODATA": ("bits", (0,)),
    "SATURA": ("bits", (2,)),
    "MSK_QUALIT_ANC_LOST": ("bits", (1,)),
    "MSK_QUALIT_ANC_DEG": ("bits", (1,)),
    "MSK_QUALIT_MSI_LOST": ("bits", (1,)),
    "MSK_QUALIT_MSI_DEG": ("bits", (1,)),
    "MSK_QUALIT_QT_DEFECTIVE_PIXELS": ("bits", (1,)),
    "MSK_QUALIT_QT_NODATA_PIXELS": ("bits", (0,)),
    "MSK_QUALIT_QT_PARTIALLY_CORRECTED_PIXELS": ("bits", (1,)),
    "MSK_QUALIT_QT_SATURATED_PIXELS": ("bits", (2,)),
    "MSK_CLASSI_OPAQUE": ("bits", (5,)),
    "MSK_CLASSI_CIRRUS": ("bits", (5,)),
    "MSK_CLASSI_SNOW_ICE": ("bits", (6,)),
    "CLDPRB": ("prob", 5),             # L2A cloud probability
    "SNWPRB": ("prob", 6),             # L2A snow probability
    # Landsat collection 1/2 (LandsatMaskBandNames)
    "QA_RADSAT": ("bits", (2,)),
    "SR_QA_AEROSOL": ("bits", (1,)),
    "SR_CLOUD_QA": ("bits", (5,)),
    "ST_QA": ("bits", (1,)),
    # DIMAP v2 / Pleiades-class (DimapV2MaskBandNames)
    "CLD": ("bits", (5,)),
    "DET": ("bits", (1,)),
    "QTE": ("bits", (1, 2)),
    "ROI": ("clear", (0,)),
    "SLT": ("bits", (1,)),
    "SNW": ("bits", (6,)),
    "VIS": ("bits", (0,)),
    # Planet UDM2 (PlanetMaskBandNames)
    "CLEAR": ("clear", (0, 1, 2, 5, 6)),
    "SNOW": ("bits", (6,)),
    "SHADOW": ("bits", (6,)),
    "LIGHT_HAZE": ("bits", (5,)),
    "HEAVY_HAZE": ("bits", (5,)),
    "CLOUD": ("bits", (5,)),
    "CONFIDENCE": ("prob", 0),
    "UNUSABLE": ("bits", (0, 1, 2)),
    "UDM": ("bits", (0,)),
    # HLS (HlsMaskBandNames)
    "FMASK": ("bits", (0, 2, 5, 6)),
    # S2 Theia / Venus (S2TheiaMaskBandNames, VenusMaskBandNames)
    "DFP": ("bits", (1,)),
    "EDG": ("bits", (0,)),
    "SAT": ("bits", (2,)),
    "MG2": ("bits", (5, 6)),
    "IAB": ("bits", (1,)),
    "CLM": ("bits", (5,)),
    "PIX": ("bits", (1,)),
    "USI": ("clear", (0, 1, 2)),
}

_S2_MASKS = frozenset({
    "DETFOO", "TECQUA", "DEFECT", "NODATA", "SATURA",
    "MSK_QUALIT_ANC_LOST", "MSK_QUALIT_ANC_DEG", "MSK_QUALIT_MSI_LOST",
    "MSK_QUALIT_MSI_DEG", "MSK_QUALIT_QT_DEFECTIVE_PIXELS",
    "MSK_QUALIT_QT_NODATA_PIXELS", "MSK_QUALIT_QT_PARTIALLY_CORRECTED_PIXELS",
    "MSK_QUALIT_QT_SATURATED_PIXELS", "MSK_CLASSI_OPAQUE",
    "MSK_CLASSI_CIRRUS", "MSK_CLASSI_SNOW_ICE",
})

# layout-class -> which sensor masks exist for it (the reference's per-product
# mask availability: _get_band_path raises for foreign masks)
SENSOR_MASK_BANDS: dict[str, frozenset[str]] = {
    "S2_L2A": _S2_MASKS | {"CLDPRB", "SNWPRB"},   # CLDPRB/SNWPRB are L2A-only
    "L8_OLI": frozenset({"QA_RADSAT", "SR_QA_AEROSOL", "SR_CLOUD_QA", "ST_QA"}),
    "PLD_MS": frozenset({"CLD", "DET", "QTE", "ROI", "SLT", "SNW", "VIS"}),
    "PS_MS": frozenset({
        "CLEAR", "SNOW", "SHADOW", "LIGHT_HAZE", "HEAVY_HAZE", "CLOUD",
        "CONFIDENCE", "UNUSABLE", "UDM",
    }),
    "HLS": frozenset({"FMASK"}),
    "S2_THEIA": frozenset({"DFP", "EDG", "SAT", "MG2", "IAB", "CLM"}),
    "VENUS": frozenset({"CLM", "EDG", "SAT", "MG2", "IAB", "PIX", "USI"}),
    # round-4 layout sweep: DIMAP v2 masks cover the whole Airbus family
    # (dimap_v2_product.py serves PLD/PNEO/SPOT6/7, band_names.py:676-719);
    # Planet UDM2 covers PlanetScope 8-band + SkySat, legacy UDM RapidEye
    # (planet_product.py:543-1018); Landsat C2 QA covers TM/ETM, MSS gets
    # the radiometric-saturation mask only (landsat_product.py:1445-1514).
}
_DIMAP_V2_MASKS = frozenset({"CLD", "DET", "QTE", "ROI", "SLT", "SNW", "VIS"})
_PLANET_MASKS = frozenset({
    "CLEAR", "SNOW", "SHADOW", "LIGHT_HAZE", "HEAVY_HAZE", "CLOUD",
    "CONFIDENCE", "UNUSABLE", "UDM",
})
SENSOR_MASK_BANDS.update({
    "PNEO_MS": _DIMAP_V2_MASKS,
    "SPOT67_MS": _DIMAP_V2_MASKS,
    "PS_8B": _PLANET_MASKS,
    "SKY_MS": _PLANET_MASKS,
    "RE_MS": frozenset({"UDM"}),
    "LANDSAT_TM": frozenset({"QA_RADSAT", "SR_QA_AEROSOL", "SR_CLOUD_QA", "ST_QA"}),
    "LANDSAT_ETM": frozenset({"QA_RADSAT", "SR_QA_AEROSOL", "SR_CLOUD_QA", "ST_QA"}),
    "LANDSAT_MSS": frozenset({"QA_RADSAT"}),
})

ALL_PLANE_BANDS = (
    set(SPECTRAL_NAMES) | set(SAR_NAMES) | set(OLCI_EXTRA_NAMES) | {"AOT", "WVP"}
)

# --------------------------------------------------------------------- aliases
# id-string -> canonical name.  Sources: S2 band ids (B01..B12, B8A), Landsat
# OLI/TIRS ids, S3-OLCI Oa ids, spyndex short names (A/B/G/R/RE1../N/N2/S1/S2/
# T1/T2), long enum values from band_names.py.
ALIASES: dict[str, str] = {
    # Sentinel-2 ids (also Landsat-8/9 equivalents where they coincide)
    "B01": "CA", "B02": "BLUE", "B03": "GREEN", "B04": "RED",
    "B05": "VRE_1", "B06": "VRE_2", "B07": "VRE_3", "B08": "NIR",
    "B8A": "NARROW_NIR", "B09": "WV", "B10": "SWIR_CIRRUS",
    "B11": "SWIR_1", "B12": "SWIR_2",
    "01": "CA", "02": "BLUE", "03": "GREEN", "04": "RED", "05": "VRE_1",
    "06": "VRE_2", "07": "VRE_3", "08": "NIR", "8A": "NARROW_NIR",
    "09": "WV", "10": "SWIR_CIRRUS", "11": "SWIR_1", "12": "SWIR_2",
    # Landsat TIRS thermal ids
    "B6": "TIR_1", "B10L": "TIR_1",
    # spyndex / Awesome-Spectral-Indices short names
    "A": "CA", "B": "BLUE", "G": "GREEN", "G1": "GREEN_1", "Y": "YELLOW",
    "R": "RED", "RE1": "VRE_1", "RE2": "VRE_2", "RE3": "VRE_3",
    "N": "NIR", "N2": "NARROW_NIR", "S1": "SWIR_1", "S2": "SWIR_2",
    "T1": "TIR_1", "T2": "TIR_2",
    # long enum values (band_names.py right-hand sides)
    "COASTAL_AEROSOL": "CA", "VEGETATION_RED_EDGE_1": "VRE_1",
    "VEGETATION_RED_EDGE_2": "VRE_2", "VEGETATION_RED_EDGE_3": "VRE_3",
    "WATER_VAPOUR": "WV", "THERMAL_IR_1": "TIR_1", "THERMAL_IR_2": "TIR_2",
    "PANCHROMATIC": "PAN", "GREEN_I": "GREEN_1",
    # S3-OLCI ids: the reference's eoreader_name per Oa channel
    # (s3_olci_product.py:203-435; Oa01/Oa09/... keep their own name)
    "Oa02": "DEEP_BLUE", "Oa03": "CA", "Oa04": "BLUE", "Oa05": "GREEN_1",
    "Oa06": "GREEN", "Oa07": "YELLOW", "Oa08": "RED", "Oa11": "VRE_1",
    "Oa12": "VRE_2", "Oa16": "VRE_3", "Oa17": "NIR", "Oa20": "WV",
    # CloudsBandNames (band_names.py:525-548) -> the engine's mask planes
    "CLOUDS": "CLOUD_MASK", "RAW CLOUDS": "CLOUD_MASK", "RAW_CLOUDS": "CLOUD_MASK",
    "SHADOWS": "SHADOW_MASK", "ALL CLOUDS": "ALL_MASK", "ALL_CLOUDS": "ALL_MASK",
    "CIRRUS": "CLOUD_MASK",
    # Landsat raw QA band ids (LandsatMaskBandNames, band_names.py:639-671)
    "BQA": "QA_PIXEL",
}

# ------------------------------------------------------------- plane layouts
# constellation-class -> ordered canonical names = plane order in the encoded
# image (the per-product band_number table of the reference, e.g.
# s2_product.py:279-348).  LEGACY3 is the round-1 default kept for
# compatibility with existing tables/fixtures.
LAYOUTS: dict[str, list[str] | dict[str, int]] = {
    "LEGACY3": ["RED", "GREEN", "NIR"],
    # Sentinel-2 L2A: 12 spectral planes + AOT/WVP quality planes (SCL is
    # derived from the QA bitfield, see loader).  60 m B10 is absent in L2A.
    "S2_L2A": [
        "CA", "BLUE", "GREEN", "RED", "VRE_1", "VRE_2", "VRE_3", "NIR",
        "NARROW_NIR", "WV", "SWIR_1", "SWIR_2", "AOT", "WVP",
    ],
    # Landsat-8/9 OLI+TIRS
    "L8_OLI": [
        "CA", "BLUE", "GREEN", "RED", "NIR", "SWIR_1", "SWIR_2",
        "SWIR_CIRRUS", "TIR_1", "TIR_2", "PAN",
    ],
    # Sentinel-1 IW GRD dual-pol
    "S1_GRD": ["VV", "VH"],
    # RADARSAT-class dual-pol HH/HV
    "RS2_SLC": ["HH", "HV"],
    # Pleiades-class VHR: PAN + 4-band MS
    "PLD_MS": ["PAN", "BLUE", "GREEN", "RED", "NIR"],
    # PlanetScope 4-band MS (UDM2 mask family)
    "PS_MS": ["BLUE", "GREEN", "RED", "NIR"],
    # Harmonized Landsat-Sentinel 30 m (Fmask family)
    "HLS": ["CA", "BLUE", "GREEN", "RED", "NIR", "SWIR_1", "SWIR_2"],
    # Sentinel-2 Theia L2A (FRE surface reflectance, no AOT/WVP planes)
    "S2_THEIA": [
        "BLUE", "GREEN", "RED", "VRE_1", "VRE_2", "VRE_3", "NIR",
        "NARROW_NIR", "SWIR_1", "SWIR_2",
    ],
    # Venus VIS/NIR 12-band (Theia mask family)
    "VENUS": [
        "CA", "BLUE", "GREEN", "GREEN_1", "YELLOW", "RED", "VRE_1",
        "VRE_2", "VRE_3", "NIR", "NARROW_NIR", "WV",
    ],
    # Sentinel-3 SLSTR: 5 solar channels (S1-S3, S5-S6) + 2 BT channels
    "S3_SLSTR": ["GREEN", "RED", "NIR", "SWIR_1", "SWIR_2", "TIR_1", "TIR_2"],
    # ------------------------------------------------------- round-4 sweep
    # Dict-valued layouts map SEVERAL canonical names onto one physical
    # plane, exactly like the reference's band maps where e.g. NIR and
    # NARROW_NIR share a file id (vantor_product.py:1192-1230).
    #
    # Maxar / Vantor WorldView-2/3 8-band Multi (vantor_product.py:1209-1222:
    # CA=1 BLUE=2 GREEN=3 YELLOW=4 RED=5 VRE=6 NIR=7 WV=8, 1-based ids)
    "MAXAR_MUL": {
        "CA": 0, "BLUE": 1, "GREEN": 2, "YELLOW": 3, "RED": 4,
        "VRE_1": 5, "VRE_2": 5, "VRE_3": 5, "NIR": 6, "NARROW_NIR": 6, "WV": 7,
    },
    # Maxar / Vantor 4-band members (GE01/QB02/WV04): BGRN band combination
    # (vantor_product.py:1189-1196: B=1 G=2 R=3 N=4, NARROW_NIR sharing the
    # NIR file id).  WV01 is panchromatic-only (vantor_product.py:213-215:
    # its calibration table carries PAN alone) and maps to VHR_PAN.
    "MAXAR_BGRN": {
        "BLUE": 0, "GREEN": 1, "RED": 2, "NIR": 3, "NARROW_NIR": 3,
    },
    # SPOT-6/7 DIMAP v2 MS (spot67_product.py:67-81: B=1 G=2 R=3 N=4)
    "SPOT67_MS": ["BLUE", "GREEN", "RED", "NIR"],
    # SPOT-4/5 DIMAP v1 (spot45_product.py:326-379: NIR=1 RED=2 GREEN=3 SWIR=4)
    "SPOT45_MS": ["NIR", "RED", "GREEN", "SWIR_1"],
    # Pleiades-Neo 6-band MS (pneo_product.py:60-110: B=1 G=2 R=3 N=4
    # DEEP_BLUE=5 (doubles as CA) RED_EDGE=6)
    "PNEO_MS": {
        "BLUE": 0, "GREEN": 1, "RED": 2, "NIR": 3, "NARROW_NIR": 3,
        "DEEP_BLUE": 4, "CA": 4, "VRE_1": 5, "VRE_2": 5, "VRE_3": 5,
    },
    # GEOSAT-2 / Deimos-2 (gs2_product.py:236-257: NIR=1 RED=2 GREEN=3 BLUE=4)
    "GS2_MS": ["NIR", "RED", "GREEN", "BLUE"],
    # Vision-1 / SuperView-1 / SkySat / Aleph-1 BGRN (vis1_product.py:192-213,
    # sv1_product.py:191-212, sky_product.py:252-298, aleph1_product.py:293-309)
    "VIS1_MS": ["BLUE", "GREEN", "RED", "NIR"],
    "SV1_MS": ["BLUE", "GREEN", "RED", "NIR"],
    "SKY_MS": ["BLUE", "GREEN", "RED", "NIR"],
    "ALEPH1_MS": ["BLUE", "GREEN", "RED", "NIR"],
    # RapidEye 5-band (re_product.py:146-167: B G R RED_EDGE NIR)
    "RE_MS": ["BLUE", "GREEN", "RED", "VRE_1", "NIR"],
    # PlanetScope SuperDove PSB.SD 8-band (pla_product.py:256-294:
    # CA=1 B=2 GREEN_I=3 G=4 Y=5 R=6 RED_EDGE=7 NIR=8)
    "PS_8B": {
        "CA": 0, "BLUE": 1, "GREEN_1": 2, "GREEN": 3, "YELLOW": 4,
        "RED": 5, "VRE_1": 6, "VRE_2": 6, "VRE_3": 6, "NIR": 7, "NARROW_NIR": 7,
    },
    # Sentinel-3 OLCI full 21-channel stack (s3_olci_product.py:203-435:
    # eoreader names where they exist, Oa ids otherwise)
    "S3_OLCI": {
        "Oa01": 0, "DEEP_BLUE": 1, "CA": 2, "BLUE": 3, "GREEN_1": 4,
        "GREEN": 5, "YELLOW": 6, "RED": 7, "Oa09": 8, "Oa10": 9,
        "VRE_1": 10, "VRE_2": 11, "Oa13": 12, "Oa14": 13, "Oa15": 14,
        "VRE_3": 15, "NIR": 16, "NARROW_NIR": 16, "Oa18": 17, "Oa19": 18,
        "WV": 19, "Oa21": 20,
    },
    # Landsat 1-5 MSS (landsat_product.py:446-489: G R VRE NIR; the two NIR
    # channels collapse onto VRE/NIR eoreader names)
    "LANDSAT_MSS": {
        "GREEN": 0, "RED": 1, "VRE_1": 2, "VRE_2": 2, "VRE_3": 2,
        "NIR": 3, "NARROW_NIR": 3,
    },
    # Landsat 4/5 TM (landsat_product.py:499-591: B=1 G=2 R=3 N=4 SWIR1=5
    # TIR=6 SWIR2=7)
    "LANDSAT_TM": {
        "BLUE": 0, "GREEN": 1, "RED": 2, "NIR": 3, "NARROW_NIR": 3,
        "SWIR_1": 4, "TIR_1": 5, "TIR_2": 5, "SWIR_2": 6,
    },
    # Landsat 7 ETM+ (landsat_product.py:609-716: TM + PAN=8, two TIR VCIDs
    # on one plane)
    "LANDSAT_ETM": {
        "BLUE": 0, "GREEN": 1, "RED": 2, "NIR": 3, "NARROW_NIR": 3,
        "SWIR_1": 4, "TIR_1": 5, "TIR_2": 5, "SWIR_2": 6, "PAN": 7,
    },
    # Panchromatic-only VHR products (the P band_combi of DIMAP/Maxar)
    "VHR_PAN": ["PAN"],
    # SAR polarization layouts.  The reference maps whatever pol channels the
    # metadata declares (sar_product.py:209-241); the engine's canonical
    # layouts carry the constellation's FULL capability.
    "SAR_QUAD": ["HH", "VV", "HV", "VH"],      # TSX/TDX/PAZ, CSK/CSG, RS2, SAOCOM
    "RCM_SAR": ["HH", "VV", "HV", "VH", "RH", "RV"],  # + compact pol
    "ICEYE_SAR": ["VV", "HH"],
    "CAPELLA_SAR": ["HH", "VV"],
    "UMBRA_SAR": ["VV", "HH"],
}

# ---------------------------------------------- constellation -> load layout
# Every constellation tag sources/reader.py can DETECT maps to a loadable
# layout class — the Reader.open "instantiate the right Product subclass"
# dispatch (reference reader.py:1009-1087) collapsed to a parameter lookup.
CONSTELLATION_LAYOUT: dict[str, str] = {
    "S2": "S2_L2A", "S2_E84": "S2_L2A", "S2_SIN": "S2_L2A",
    "S2_THEIA": "S2_THEIA",
    "S1": "S1_GRD", "S1_RTC_ASF": "S1_GRD",
    "S3_OLCI": "S3_OLCI", "S3_SLSTR": "S3_SLSTR",
    "L9": "L8_OLI", "L8": "L8_OLI", "L7": "LANDSAT_ETM",
    "L5": "LANDSAT_TM", "L4": "LANDSAT_TM",
    "L3": "LANDSAT_MSS", "L2": "LANDSAT_MSS", "L1": "LANDSAT_MSS",
    "HLS": "HLS",
    "PLD": "PLD_MS", "PNEO": "PNEO_MS",
    "SPOT6": "SPOT67_MS", "SPOT7": "SPOT67_MS",
    "SPOT5": "SPOT45_MS", "SPOT4": "SPOT45_MS", "SPOT45": "SPOT45_MS",
    "VIS1": "VIS1_MS", "GS2": "GS2_MS", "VENUS": "VENUS",
    "MAXAR": "MAXAR_MUL", "SV1": "SV1_MS", "ALEPH1": "ALEPH1_MS",
    # Maxar/Vantor per-member tags (SATID-refined, sources/reader.py
    # refine_constellation): 8-band members keep the Multi superset, 4-band
    # members get BGRN, WV01 is pan-only.  The umbrella aliases VANTOR and
    # SATELLOGIC dispatch like their canonical tags.
    "WV02": "MAXAR_MUL", "WV03": "MAXAR_MUL", "WVLG": "MAXAR_MUL",
    "QB02": "MAXAR_BGRN", "GE01": "MAXAR_BGRN", "WV04": "MAXAR_BGRN",
    "WV01": "VHR_PAN",
    "VANTOR": "MAXAR_MUL", "SATELLOGIC": "ALEPH1_MS",
    # STAC-hosted variants (sources/reader.py stac_constellation_of)
    "S2_MPC": "S2_L2A", "S1_RTC_MPC": "S1_GRD",
    "TSX": "SAR_QUAD", "TDX": "SAR_QUAD", "PAZ": "SAR_QUAD",
    "CSK": "SAR_QUAD", "CSG": "SAR_QUAD", "RS2": "SAR_QUAD",
    "SAOCOM": "SAR_QUAD", "RCM": "RCM_SAR", "ICEYE": "ICEYE_SAR",
    "CAPELLA": "CAPELLA_SAR", "UMBRA": "UMBRA_SAR",
    "RE": "RE_MS", "SKY": "SKY_MS", "PLA": "PS_MS",
}


def layout_for(constellation: str) -> str:
    """Detected constellation tag -> layout class (KeyError if undetectable)."""
    return CONSTELLATION_LAYOUT[constellation]


# ------------------------- Maxar/Vantor per-member radiometric calibration
# Band-dependent absolute-calibration adjustment (gain, offset) per member,
# from the public Maxar absolute-radiometric-calibration white paper as
# tabulated in the reference (vantor_product.py:147-215 _VANTOR_GAIN_OFFSET;
# GE01/WV02/WV03 2018v0, QB02/WV01 2016v0.Int, WV04 2017v0, Legion unity).
# These are the "Product subclass parameters" the per-member dispatch
# carries: feed to ImageEngine(gains=...) — the X4 affine applied at load.
_WV02_GO = {
    "PAN": (0.949, -5.523), "CA": (1.203, -11.839), "BLUE": (1.002, -9.835),
    "GREEN": (0.953, -7.218), "YELLOW": (0.946, -5.675), "RED": (0.955, -5.046),
    "VRE_1": (0.980, -6.114), "VRE_2": (0.980, -6.114), "VRE_3": (0.980, -6.114),
    "NIR": (0.966, -5.096), "NARROW_NIR": (0.966, -5.096), "WV": (1.01, -4.059),
}
_WV03_GO = {
    "PAN": (0.955, -5.505), "CA": (0.938, -13.099), "BLUE": (0.946, -9.409),
    "GREEN": (0.958, -7.771), "YELLOW": (0.979, -5.489), "RED": (0.969, -4.579),
    "VRE_1": (1.027, -5.552), "VRE_2": (1.027, -5.552), "VRE_3": (1.027, -5.552),
    "NIR": (0.977, -6.508), "NARROW_NIR": (0.977, -6.508), "WV": (1.007, -3.699),
}
VANTOR_GAIN_OFFSET: dict[str, dict[str, tuple[float, float]]] = {
    "WVLG": {b: (1.0, 0.0) for b in (
        "PAN", "CA", "BLUE", "GREEN", "YELLOW", "RED",
        "VRE_1", "VRE_2", "VRE_3", "NIR", "NARROW_NIR", "WV")},
    "GE01": {
        "PAN": (1.001, 0.0), "BLUE": (1.041, 0.0), "GREEN": (0.972, 0.0),
        "RED": (0.979, 0.0), "NIR": (0.951, 0.0), "NARROW_NIR": (0.951, 0.0),
    },
    "WV02": _WV02_GO,
    "WV03": _WV03_GO,
    "WV04": {b: (1.0, 0.0) for b in (
        "PAN", "BLUE", "GREEN", "RED", "NIR", "NARROW_NIR")},
    "QB02": {
        "PAN": (0.870, -1.491), "BLUE": (1.105, -2.820), "GREEN": (1.071, -3.338),
        "RED": (1.060, -2.954), "NIR": (1.020, -4.722), "NARROW_NIR": (1.020, -4.722),
    },
    "WV01": {"PAN": (1.016, -1.824)},
}


def vantor_gains(member: str) -> dict[str, tuple[float, float]]:
    """Per-member (gain, offset) calibration dict for ImageEngine(gains=...).

    KeyError on a non-Vantor tag; the umbrella MAXAR/VANTOR tags have no
    single calibration (it is member-dependent) so they are deliberately
    absent — refine the constellation first (sources/reader.py)."""
    return VANTOR_GAIN_OFFSET[member]


# ------------------------------------------------- STAC EO-extension vocab
# canonical band -> STAC eo common name
# (https://github.com/stac-extensions/eo/#common-band-names; mirrors the
# reference's StacCommonNames enum, _stac_keywords.py:98-115, and each
# SpectralBand's common_name assignment).  Bands with no STAC common name
# (SAR polarizations, L2A QA planes, OLCI Oa ids) are absent.
STAC_COMMON_NAMES: dict[str, str] = {
    "CA": "coastal", "BLUE": "blue", "GREEN": "green", "RED": "red",
    "YELLOW": "yellow", "VRE_1": "rededge", "VRE_2": "rededge",
    "VRE_3": "rededge", "NIR": "nir", "NARROW_NIR": "nir08", "WV": "nir09",
    "SWIR_CIRRUS": "cirrus", "SWIR_1": "swir16", "SWIR_2": "swir22",
    "TIR_1": "lwir11", "TIR_2": "lwir12", "PAN": "pan",
}

# canonical band -> center wavelength in micrometers (published S2 MSI /
# Landsat OLI-TIRS / S3 OLCI channel centers — public constants; the
# reference carries them per SpectralBand as `center_wavelength`,
# eoreader/bands/spectral_bands.py)
CENTER_WAVELENGTH_UM: dict[str, float] = {
    "CA": 0.443, "BLUE": 0.49, "DEEP_BLUE": 0.4125, "GREEN": 0.56,
    "GREEN_1": 0.531, "YELLOW": 0.62, "RED": 0.665, "VRE_1": 0.705,
    "VRE_2": 0.74, "VRE_3": 0.783, "NIR": 0.842, "NARROW_NIR": 0.865,
    "WV": 0.945, "SWIR_CIRRUS": 1.375, "SWIR_1": 1.61, "SWIR_2": 2.19,
    "TIR_1": 10.895, "TIR_2": 12.005, "PAN": 0.59,
    "Oa01": 0.4, "Oa09": 0.6735, "Oa10": 0.6815, "Oa13": 0.7615,
    "Oa14": 0.764, "Oa15": 0.7675, "Oa18": 0.885, "Oa19": 0.9, "Oa21": 1.02,
}


def eo_bands_for(constellation: str) -> list[tuple[str, str | None, float | None]]:
    """-> [(name, common_name, center_wavelength_um), ...] in plane order
    for a detected constellation — the eo:bands payload of its STAC item
    (reference EoExt, stac_extensions.py:62-170)."""
    return [
        (b, STAC_COMMON_NAMES.get(b), CENTER_WAVELENGTH_UM.get(b))
        for b in plane_of(layout_for(constellation))
    ]

# canonical name -> SLSTR band id (S1 555nm, S2 659nm, S3 865nm, S5 1.6um,
# S6 2.25um — the solar channels the radiance adjustment applies to;
# reference keys coefficients by this id, s3_slstr_product.py:836-841)
SLSTR_BAND_IDS = {"GREEN": "S1", "RED": "S2", "NIR": "S3", "SWIR_1": "S5", "SWIR_2": "S6"}


def plane_of(layout: str | list[str] | dict[str, int]) -> dict[str, int]:
    """-> {canonical band: plane index} for a layout name (constellation
    tags accepted), explicit band order, or an already-built map.  Several
    names may share one plane (dict-valued layouts)."""
    if isinstance(layout, dict):
        return dict(layout)
    if isinstance(layout, str):
        if layout not in LAYOUTS and layout in CONSTELLATION_LAYOUT:
            layout = CONSTELLATION_LAYOUT[layout]
        layout = LAYOUTS[layout]
        if isinstance(layout, dict):
            return dict(layout)
    return {b: i for i, b in enumerate(layout)}


def plane_names(layout: str | list[str] | dict[str, int]) -> list[str]:
    """-> primary band name per physical plane, in plane order.  For
    dict-valued layouts the FIRST name declared for a plane is primary
    (VRE_1 over VRE_2/VRE_3, NIR over NARROW_NIR)."""
    pm = plane_of(layout)
    primary: dict[int, str] = {}
    for name, p in pm.items():  # insertion order = declaration order
        primary.setdefault(p, name)
    return [primary[p] for p in sorted(primary)]


def n_planes(layout: str | list[str] | dict[str, int]) -> int:
    """Number of PHYSICAL planes in a layout (aliased names share planes)."""
    pm = plane_of(layout)
    return max(pm.values()) + 1 if pm else 0


class BandError(ValueError):
    """Invalid band request (reference: InvalidTypeError, bands/__init__.py:636)."""


def resolve(name: str, extra: set[str] | None = None) -> str:
    """Alias resolution to the canonical vocabulary (P1).

    'B04'/'04'/'red'/'RED' -> 'RED'; '<sar>_DSPK' keeps the suffix with its
    base resolved; DEM/mask/L2A names pass through; names in ``extra`` (e.g.
    the index registry) resolve verbatim.  Raises BandError otherwise.
    """
    key = str(name).strip()
    if extra and key in extra:
        return key
    up = key.upper()
    if up.endswith("_DSPK"):
        base = resolve(up[:-5])
        if base not in ALL_PLANE_BANDS:
            raise BandError(f"_DSPK requires a plane band base, got {base!r}")
        return base + "_DSPK"
    if (
        up in ALL_PLANE_BANDS or up in DEM_BANDS or up in MASK_BANDS
        or up in DERIVED_MASK_BANDS or up in SENSOR_MASK_DERIVATION
    ):
        return up
    # mixed-case canonical names (OLCI Oa ids keep the reference's casing)
    if key in ALL_PLANE_BANDS:
        return key
    for cand in ALL_PLANE_BANDS:
        if cand.upper() == up:
            return cand
    if key in ALIASES:
        return ALIASES[key]
    if up in ALIASES:
        return ALIASES[up]
    # case-insensitive alias fallback (reference accepts 'Green', 'vh'...)
    for k, v in ALIASES.items():
        if k.upper() == up:
            return v
    raise BandError(f"cannot resolve band: {name!r}")
