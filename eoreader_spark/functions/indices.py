"""Spectral-index registry + decode/compute kernels (mapInPandas, Arrow).

Reference: eoreader computes ~130 spyndex indices plus 4 hand-written linear
combos over loaded band arrays (/root/reference/eoreader/bands/indices.py:
102-373); any module-level function over {band: array} is an index (X1), and
parametric indices forward kwargs (X2, WDRVI alpha).  Bands are float32
reflectance after an affine DN conversion
(/root/reference/eoreader/products/optical/s2_product.py:653-722).

Here: the registry maps index name -> (needed_bands, kernel over plane dict).
``index_stats`` is the flagship pipeline — decode `bytes` inside Arrow
batches, apply the DN->reflectance affine, evaluate the index, and reduce to
per-image stats.  Per-pixel math is numpy on whole planes (vectorized); the
only Python loop is per image within a batch.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from eoreader_spark import codecs

# legacy default plane order (datagen.gen_images): 0=RED 1=GREEN 2=NIR.
# Multispectral layouts (bands.LAYOUTS) provide richer maps via the
# plane_map parameter of index_stats / ImageEngine(band_map=...).
RED, GREEN, NIR = "RED", "GREEN", "NIR"
CA, BLUE, YELLOW = "CA", "BLUE", "YELLOW"
VRE_1, VRE_2, VRE_3 = "VRE_1", "VRE_2", "VRE_3"
NARROW_NIR, WV = "NARROW_NIR", "WV"
SWIR_1, SWIR_2, TIR_1 = "SWIR_1", "SWIR_2", "TIR_1"
PLANE_OF = {RED: 0, GREEN: 1, NIR: 2}

# DN -> reflectance affine, the S2-style (DN + offset)/quantif
# (/root/reference/eoreader/products/optical/s2_product.py:653-722)
REFL_OFFSET = 0.0
REFL_QUANTIF = 255.0

_EPS = 1e-12  # guard denominators; reference relies on NaN propagation instead


def _ndvi(b: dict[str, np.ndarray]) -> np.ndarray:
    return (b[NIR] - b[RED]) / (b[NIR] + b[RED] + _EPS)


def _ndwi(b: dict[str, np.ndarray]) -> np.ndarray:
    return (b[GREEN] - b[NIR]) / (b[GREEN] + b[NIR] + _EPS)


def _evi(b: dict[str, np.ndarray], g=2.5, c1=6.0, c2=7.5, L=1.0) -> np.ndarray:
    # blue-less 2-band EVI variant (reference defaults g=2.5,C1=6,C2=7.5,L=1:
    # /root/reference/eoreader/bands/indices.py:162-253)
    return g * (b[NIR] - b[RED]) / (b[NIR] + c1 * b[RED] + L + _EPS)


def _savi(b: dict[str, np.ndarray], L=0.5) -> np.ndarray:
    return (1.0 + L) * (b[NIR] - b[RED]) / (b[NIR] + b[RED] + L + _EPS)


def _wdrvi(b: dict[str, np.ndarray], alpha=0.2) -> np.ndarray:
    return (alpha * b[NIR] - b[RED]) / (alpha * b[NIR] + b[RED] + _EPS)


def _tcbri(b: dict[str, np.ndarray]) -> np.ndarray:
    # hand-written tasseled-cap-style linear combo analog
    # (/root/reference/eoreader/bands/indices.py:58-72 TCBRI)
    return 0.3037 * b[RED] + 0.2793 * b[GREEN] + 0.3279 * b[NIR]


def _gndvi(b: dict[str, np.ndarray]) -> np.ndarray:
    return (b[NIR] - b[GREEN]) / (b[NIR] + b[GREEN] + _EPS)


INDEX_REGISTRY: dict[str, tuple[list[str], Callable[..., np.ndarray]]] = {
    "NDVI": ([RED, NIR], _ndvi),
    "NDWI": ([GREEN, NIR], _ndwi),
    "EVI": ([RED, NIR], _evi),
    "SAVI": ([RED, NIR], _savi),
    "WDRVI": ([RED, NIR], _wdrvi),
    "TCBRI": ([RED, GREEN, NIR], _tcbri),
    "GNDVI": ([GREEN, NIR], _gndvi),
}

# the remainder of the spyndex-style catalog definable over the 3-plane
# (RED/GREEN/NIR) model — each a one-line vectorized kernel, same pattern as
# the reference's generated indices (/root/reference/eoreader/bands/
# indices.py:102-159 pulls these formulas from spyndex/Awesome Spectral
# Indices; constants below are the published defaults)
_EXTRA = {
    "DVI": ([NIR, RED], lambda b: b[NIR] - b[RED]),
    "RVI": ([NIR, RED], lambda b: b[NIR] / (b[RED] + _EPS)),
    "SR": ([NIR, RED], lambda b: b[NIR] / (b[RED] + _EPS)),
    "IPVI": ([NIR, RED], lambda b: b[NIR] / (b[NIR] + b[RED] + _EPS)),
    "EVI2": ([NIR, RED], lambda b: 2.5 * (b[NIR] - b[RED]) / (b[NIR] + 2.4 * b[RED] + 1.0)),
    "OSAVI": ([NIR, RED], lambda b: (b[NIR] - b[RED]) / (b[NIR] + b[RED] + 0.16)),
    "MSAVI": (
        [NIR, RED],
        lambda b: 0.5
        * (2 * b[NIR] + 1 - np.sqrt(np.maximum((2 * b[NIR] + 1) ** 2 - 8 * (b[NIR] - b[RED]), 0.0))),
    ),
    "RDVI": (
        [NIR, RED],
        lambda b: (b[NIR] - b[RED]) / np.sqrt(np.maximum(b[NIR] + b[RED], _EPS)),
    ),
    "MSR": (
        [NIR, RED],
        lambda b: (b[NIR] / (b[RED] + _EPS) - 1)
        / np.sqrt(np.maximum(b[NIR] / (b[RED] + _EPS) + 1, _EPS)),
    ),
    "TVI": (
        [NIR, RED],
        lambda b: np.sqrt(np.maximum((b[NIR] - b[RED]) / (b[NIR] + b[RED] + _EPS) + 0.5, 0.0)),
    ),
    "NLI": ([NIR, RED], lambda b: (b[NIR] ** 2 - b[RED]) / (b[NIR] ** 2 + b[RED] + _EPS)),
    "MNLI": (
        [NIR, RED],
        lambda b: 1.5 * (b[NIR] ** 2 - b[RED]) / (b[NIR] ** 2 + b[RED] + 0.5 + _EPS),
    ),
    "GRVI": ([GREEN, RED], lambda b: (b[GREEN] - b[RED]) / (b[GREEN] + b[RED] + _EPS)),
    "NGRDI": ([GREEN, RED], lambda b: (b[GREEN] - b[RED]) / (b[GREEN] + b[RED] + _EPS)),
    "RGR": ([GREEN, RED], lambda b: b[RED] / (b[GREEN] + _EPS)),
    "CIG": ([NIR, GREEN], lambda b: b[NIR] / (b[GREEN] + _EPS) - 1.0),
    "GCVI": ([NIR, GREEN], lambda b: b[NIR] / (b[GREEN] + _EPS) - 1.0),
    "GRNDVI": (
        [NIR, GREEN, RED],
        lambda b: (b[NIR] - (b[GREEN] + b[RED])) / (b[NIR] + b[GREEN] + b[RED] + _EPS),
    ),
    "CVI": ([NIR, RED, GREEN], lambda b: b[NIR] * b[RED] / (b[GREEN] ** 2 + _EPS)),
    "GARI": (
        [NIR, GREEN, RED],
        lambda b: (b[NIR] - (b[GREEN] - 1.7 * (b[RED] - b[GREEN])))
        / (b[NIR] + (b[GREEN] - 1.7 * (b[RED] - b[GREEN])) + _EPS),
    ),
    "GBNDVI": (
        [NIR, GREEN, RED],
        lambda b: (b[NIR] - (b[GREEN] + b[RED])) / (b[NIR] + b[GREEN] + b[RED] + _EPS),
    ),
    "AVI": (
        [NIR, RED],
        lambda b: np.cbrt(np.maximum(b[NIR] * (1.0 - b[RED]) * (b[NIR] - b[RED]), 0.0)),
    ),
    "SIPI2": (
        [NIR, GREEN, RED],
        lambda b: (b[NIR] - b[GREEN]) / (b[NIR] - b[RED] + _EPS),
    ),
    "TCGRE": (
        [RED, GREEN, NIR],
        lambda b: -0.2848 * b[RED] - 0.2435 * b[GREEN] + 0.5436 * b[NIR],
    ),
    "TCWET": (
        [RED, GREEN, NIR],
        lambda b: 0.1509 * b[RED] + 0.1973 * b[GREEN] + 0.3279 * b[NIR],
    ),
}
INDEX_REGISTRY.update(_EXTRA)


def _ndr(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Normalized difference with the registry's epsilon guard."""
    return (x - y) / (x + y + _EPS)


# Full-vocabulary catalog (needs BLUE/CA/VRE/SWIR/TIR planes — loadable under
# the multispectral layouts in eoreader_spark.bands.LAYOUTS).  Formulas are
# the published Awesome-Spectral-Indices / spyndex defaults, the same public
# catalog the reference generates its ~130 indices from
# (/root/reference/eoreader/bands/indices.py:102-159 iterates spyndex.indices;
# :162-373 hand-writes the non-spyndex ones).  Kernels are whole-plane numpy —
# vectorized, Arrow-batch friendly.
_CATALOG = {
    # headline SWIR indices (also JVM zip_with exprs in plans/loader.py)
    "NBR": ([NIR, SWIR_2], lambda b: _ndr(b[NIR], b[SWIR_2])),
    "NDMI": ([NIR, SWIR_1], lambda b: _ndr(b[NIR], b[SWIR_1])),
    "NDSI": ([GREEN, SWIR_1], lambda b: _ndr(b[GREEN], b[SWIR_1])),
    "NDBI": ([SWIR_1, NIR], lambda b: _ndr(b[SWIR_1], b[NIR])),
    "NDRE": ([NIR, VRE_1], lambda b: _ndr(b[NIR], b[VRE_1])),
    # the reference's 4th hand-written index (indices.py:238-245)
    "SCI": ([GREEN, RED], lambda b: 3.0 * b[GREEN] - b[RED] - 100.0),
    # ------------------------------------------------------------ vegetation
    "ARVI": ([NIR, RED, BLUE], lambda b: _ndr(b[NIR], 2 * b[RED] - b[BLUE])),
    "ATSAVI": (
        [NIR, RED],
        lambda b: 1.22 * (b[NIR] - 1.22 * b[RED] - 0.03)
        / (1.22 * b[NIR] + b[RED] - 1.22 * 0.03 + 0.08 * (1 + 1.22**2) + _EPS),
    ),
    "BNDVI": ([NIR, BLUE], lambda b: _ndr(b[NIR], b[BLUE])),
    "BWDRVI": ([NIR, BLUE], lambda b: _ndr(0.1 * b[NIR], b[BLUE])),
    "CIRE": ([NIR, VRE_1], lambda b: b[NIR] / (b[VRE_1] + _EPS) - 1.0),
    "EVI3": (  # full 3-band EVI (blue term), reference EVI
        [NIR, RED, BLUE],
        lambda b: 2.5 * (b[NIR] - b[RED]) / (b[NIR] + 6 * b[RED] - 7.5 * b[BLUE] + 1.0 + _EPS),
    ),
    "ExG": ([GREEN, RED, BLUE], lambda b: 2 * b[GREEN] - b[RED] - b[BLUE]),
    "ExR": ([RED, GREEN], lambda b: 1.3 * b[RED] - b[GREEN]),
    "ExGR": (
        [GREEN, RED, BLUE],
        lambda b: (2 * b[GREEN] - b[RED] - b[BLUE]) - (1.3 * b[RED] - b[GREEN]),
    ),
    "GEMI": (
        [NIR, RED],
        lambda b: (
            lambda eta: eta * (1 - 0.25 * eta) - (b[RED] - 0.125) / (1 - b[RED] + _EPS)
        )((2 * (b[NIR] ** 2 - b[RED] ** 2) + 1.5 * b[NIR] + 0.5 * b[RED]) / (b[NIR] + b[RED] + 0.5)),
    ),
    "GLI": (
        [GREEN, RED, BLUE],
        lambda b: (2 * b[GREEN] - b[RED] - b[BLUE]) / (2 * b[GREEN] + b[RED] + b[BLUE] + _EPS),
    ),
    "GOSAVI": ([NIR, GREEN], lambda b: (b[NIR] - b[GREEN]) / (b[NIR] + b[GREEN] + 0.16)),
    "GSAVI": ([NIR, GREEN], lambda b: 1.5 * (b[NIR] - b[GREEN]) / (b[NIR] + b[GREEN] + 0.5)),
    "MCARI": (
        [VRE_1, RED, GREEN],
        lambda b: ((b[VRE_1] - b[RED]) - 0.2 * (b[VRE_1] - b[GREEN])) * (b[VRE_1] / (b[RED] + _EPS)),
    ),
    "MCARI1": (
        [NIR, RED, GREEN],
        lambda b: 1.2 * (2.5 * (b[NIR] - b[RED]) - 1.3 * (b[NIR] - b[GREEN])),
    ),
    "MTVI1": (
        [NIR, GREEN, RED],
        lambda b: 1.2 * (1.2 * (b[NIR] - b[GREEN]) - 2.5 * (b[RED] - b[GREEN])),
    ),
    "MGRVI": (
        [GREEN, RED],
        lambda b: (b[GREEN] ** 2 - b[RED] ** 2) / (b[GREEN] ** 2 + b[RED] ** 2 + _EPS),
    ),
    "NDREI": ([NIR, VRE_1], lambda b: _ndr(b[NIR], b[VRE_1])),
    "NDREI2": ([NIR, VRE_2], lambda b: _ndr(b[NIR], b[VRE_2])),
    "NIRV": ([NIR, RED], lambda b: _ndr(b[NIR], b[RED]) * b[NIR]),
    "NORMG": ([GREEN, NIR, RED], lambda b: b[GREEN] / (b[NIR] + b[GREEN] + b[RED] + _EPS)),
    "NORMNIR": ([NIR, GREEN, RED], lambda b: b[NIR] / (b[NIR] + b[GREEN] + b[RED] + _EPS)),
    "NORMR": ([RED, NIR, GREEN], lambda b: b[RED] / (b[NIR] + b[GREEN] + b[RED] + _EPS)),
    "RGBVI": (
        [GREEN, RED, BLUE],
        lambda b: (b[GREEN] ** 2 - b[BLUE] * b[RED]) / (b[GREEN] ** 2 + b[BLUE] * b[RED] + _EPS),
    ),
    "SELI": ([NARROW_NIR, VRE_1], lambda b: _ndr(b[NARROW_NIR], b[VRE_1])),
    "S2REP": (
        [RED, VRE_1, VRE_2, VRE_3],
        lambda b: 705.0
        + 35.0 * ((b[RED] + b[VRE_3]) / 2 - b[VRE_1]) / (b[VRE_2] - b[VRE_1] + _EPS),
    ),
    "TCARI": (
        [VRE_1, RED, GREEN],
        lambda b: 3 * ((b[VRE_1] - b[RED]) - 0.2 * (b[VRE_1] - b[GREEN]) * (b[VRE_1] / (b[RED] + _EPS))),
    ),
    "TGI": (
        [RED, GREEN, BLUE],
        lambda b: -0.5 * (190.0 * (b[RED] - b[GREEN]) - 120.0 * (b[RED] - b[BLUE])),
    ),
    "VARI": ([GREEN, RED, BLUE], lambda b: (b[GREEN] - b[RED]) / (b[GREEN] + b[RED] - b[BLUE] + _EPS)),
    "VIG": ([GREEN, RED], lambda b: _ndr(b[GREEN], b[RED])),
    "IRECI": (
        [VRE_3, RED, VRE_1, VRE_2],
        lambda b: (b[VRE_3] - b[RED]) * b[VRE_2] / (b[VRE_1] + _EPS),
    ),
    "CCCI": (
        [NIR, VRE_1, RED],
        lambda b: _ndr(b[NIR], b[VRE_1]) / (_ndr(b[NIR], b[RED]) + _EPS),
    ),
    "PSRI": ([RED, BLUE, VRE_2], lambda b: (b[RED] - b[BLUE]) / (b[VRE_2] + _EPS)),
    "ARI": ([GREEN, VRE_1], lambda b: 1 / (b[GREEN] + _EPS) - 1 / (b[VRE_1] + _EPS)),
    "MARI": (
        [GREEN, VRE_1, NIR],
        lambda b: (1 / (b[GREEN] + _EPS) - 1 / (b[VRE_1] + _EPS)) * b[NIR],
    ),
    "SIPI": ([NIR, CA, RED], lambda b: (b[NIR] - b[CA]) / (b[NIR] - b[RED] + _EPS)),
    "REDSI": (
        [VRE_3, RED, VRE_1],
        lambda b: (705.0 - 665.0) * (b[VRE_3] - b[RED])
        - (783.0 - 665.0) * (b[VRE_1] - b[RED]),
    ),
    "NDYI": ([GREEN, BLUE], lambda b: _ndr(b[GREEN], b[BLUE])),
    "BCC": ([BLUE, RED, GREEN], lambda b: b[BLUE] / (b[RED] + b[GREEN] + b[BLUE] + _EPS)),
    "GCC": ([GREEN, RED, BLUE], lambda b: b[GREEN] / (b[RED] + b[GREEN] + b[BLUE] + _EPS)),
    "RCC": ([RED, GREEN, BLUE], lambda b: b[RED] / (b[RED] + b[GREEN] + b[BLUE] + _EPS)),
    "GBNDVI2": ([NIR, GREEN, BLUE], lambda b: _ndr(b[NIR], b[GREEN] + b[BLUE])),
    "RBNDVI": ([NIR, RED, BLUE], lambda b: _ndr(b[NIR], b[RED] + b[BLUE])),
    "PNDVI": (
        [NIR, GREEN, RED, BLUE],
        lambda b: _ndr(b[NIR], b[GREEN] + b[RED] + b[BLUE]),
    ),
    "VDVI": (
        [GREEN, RED, BLUE],
        lambda b: (2 * b[GREEN] - b[RED] - b[BLUE]) / (2 * b[GREEN] + b[RED] + b[BLUE] + _EPS),
    ),
    "FCVI": ([NIR, RED, GREEN, BLUE], lambda b: b[NIR] - (b[RED] + b[GREEN] + b[BLUE]) / 3),
    "GVMI": (
        [NIR, SWIR_2],
        lambda b: ((b[NIR] + 0.1) - (b[SWIR_2] + 0.02)) / ((b[NIR] + 0.1) + (b[SWIR_2] + 0.02)),
    ),
    "KNDVI": ([NIR, RED], lambda b: np.tanh(_ndr(b[NIR], b[RED]) ** 2)),
    # ----------------------------------------------------------------- water
    "NDWI2": ([GREEN, NIR], lambda b: _ndr(b[GREEN], b[NIR])),  # McFeeters alias
    "MNDWI": ([GREEN, SWIR_1], lambda b: _ndr(b[GREEN], b[SWIR_1])),
    "ANDWI": (
        [BLUE, GREEN, RED, NIR, SWIR_1, SWIR_2],
        lambda b: _ndr(b[BLUE] + b[GREEN] + b[RED], b[NIR] + b[SWIR_1] + b[SWIR_2]),
    ),
    "AWEINSH": (
        [GREEN, SWIR_1, NIR, SWIR_2],
        lambda b: 4 * (b[GREEN] - b[SWIR_1]) - (0.25 * b[NIR] + 2.75 * b[SWIR_2]),
    ),
    "AWEISH": (
        [BLUE, GREEN, NIR, SWIR_1, SWIR_2],
        lambda b: b[BLUE] + 2.5 * b[GREEN] - 1.5 * (b[NIR] + b[SWIR_1]) - 0.25 * b[SWIR_2],
    ),
    "LSWI": ([NIR, SWIR_1], lambda b: _ndr(b[NIR], b[SWIR_1])),
    "NDTI": ([RED, GREEN], lambda b: _ndr(b[RED], b[GREEN])),
    "NDVIMNDWI": (
        [NIR, RED, GREEN, SWIR_1],
        lambda b: _ndr(b[NIR], b[RED]) - _ndr(b[GREEN], b[SWIR_1]),
    ),
    "SWM": (
        [BLUE, GREEN, NIR, SWIR_1],
        lambda b: (b[BLUE] + b[GREEN]) / (b[NIR] + b[SWIR_1] + _EPS),
    ),
    "WI1": ([GREEN, SWIR_2], lambda b: _ndr(b[GREEN], b[SWIR_2])),
    "WI2": ([BLUE, SWIR_2], lambda b: _ndr(b[BLUE], b[SWIR_2])),
    "WRI": (
        [GREEN, RED, NIR, SWIR_1],
        lambda b: (b[GREEN] + b[RED]) / (b[NIR] + b[SWIR_1] + _EPS),
    ),
    "NDMI2": ([NIR, SWIR_1], lambda b: _ndr(b[NIR], b[SWIR_1])),
    "NMDI": (
        [NIR, SWIR_1, SWIR_2],
        lambda b: _ndr(b[NIR], b[SWIR_1] - b[SWIR_2]),
    ),
    "MBWI": (
        [GREEN, RED, NIR, SWIR_1, SWIR_2],
        lambda b: 2 * b[GREEN] - b[RED] - b[NIR] - b[SWIR_1] - b[SWIR_2],
    ),
    "NWI": (
        [BLUE, NIR, SWIR_1, SWIR_2],
        lambda b: _ndr(b[BLUE], b[NIR] + b[SWIR_1] + b[SWIR_2]),
    ),
    # ------------------------------------------------------------------ burn
    "NBR2": ([SWIR_1, SWIR_2], lambda b: _ndr(b[SWIR_1], b[SWIR_2])),
    "NBRPLUS": (
        [SWIR_2, NARROW_NIR, GREEN, BLUE],
        lambda b: _ndr(b[SWIR_2] - b[NARROW_NIR] - b[GREEN], b[BLUE]),
    ),
    "BAI": (
        [RED, NIR],
        lambda b: 1.0 / ((0.1 - b[RED]) ** 2 + (0.06 - b[NIR]) ** 2 + _EPS),
    ),
    "BAIM": (
        [NIR, SWIR_2],
        lambda b: 1.0 / ((0.05 - b[NIR]) ** 2 + (0.2 - b[SWIR_2]) ** 2 + _EPS),
    ),
    "MIRBI": ([SWIR_1, SWIR_2], lambda b: 10.0 * b[SWIR_2] - 9.8 * b[SWIR_1] + 2.0),
    "CSI": ([NIR, SWIR_2], lambda b: b[NIR] / (b[SWIR_2] + _EPS)),
    "BAIS2": (
        [VRE_2, VRE_3, NARROW_NIR, RED, SWIR_2],
        lambda b: (1 - np.sqrt(np.maximum(b[VRE_2] * b[VRE_3] * b[NARROW_NIR], 0.0) / (b[RED] + _EPS)))
        * ((b[SWIR_2] - b[NARROW_NIR]) / np.sqrt(np.maximum(b[SWIR_2] + b[NARROW_NIR], _EPS)) + 1.0),
    ),
    "NDVIT": (
        [NIR, RED, TIR_1],
        lambda b: (b[NIR] - b[RED] * b[TIR_1] / 10000.0)
        / (b[NIR] + b[RED] * b[TIR_1] / 10000.0 + _EPS),
    ),
    "NBRT1": (
        [NIR, SWIR_2, TIR_1],
        lambda b: (b[NIR] - b[SWIR_2] * b[TIR_1] / 10000.0)
        / (b[NIR] + b[SWIR_2] * b[TIR_1] / 10000.0 + _EPS),
    ),
    # ----------------------------------------------------------- soil / urban
    "BSI": (
        [SWIR_1, RED, NIR, BLUE],
        lambda b: _ndr(b[SWIR_1] + b[RED], b[NIR] + b[BLUE]),
    ),
    "BLFEI": (
        [GREEN, RED, SWIR_1, SWIR_2],
        lambda b: _ndr((b[GREEN] + b[RED] + b[SWIR_2]) / 3, b[SWIR_1]),
    ),
    "BAI_S": ([RED, SWIR_1, NIR], lambda b: b[RED] + b[SWIR_1] - b[NIR]),
    "DBSI": (
        [SWIR_1, GREEN, NIR, RED],
        lambda b: _ndr(b[SWIR_1], b[GREEN]) - _ndr(b[NIR], b[RED]),
    ),
    "UI": ([SWIR_2, NIR], lambda b: _ndr(b[SWIR_2], b[NIR])),
    "NDSOI": ([SWIR_2, GREEN], lambda b: _ndr(b[SWIR_2], b[GREEN])),
    "IBI": (
        [SWIR_1, NIR, RED, GREEN],
        lambda b: (
            lambda ndbi, savi, mndwi_less: _ndr(ndbi, (savi + mndwi_less) / 2)
        )(
            _ndr(b[SWIR_1], b[NIR]),
            1.5 * (b[NIR] - b[RED]) / (b[NIR] + b[RED] + 0.5),
            _ndr(b[GREEN], b[SWIR_1]),
        ),
    ),
    "NBLI": ([RED, TIR_1], lambda b: _ndr(b[RED], b[TIR_1])),
    "BRBA": ([RED, SWIR_1], lambda b: b[RED] / (b[SWIR_1] + _EPS)),
    "NHFD": ([VRE_1, CA], lambda b: _ndr(b[VRE_1], b[CA])),
    "VGNIRBI": ([GREEN, NIR], lambda b: _ndr(b[GREEN], b[NIR])),
    "VRNIRBI": ([RED, NIR], lambda b: _ndr(b[RED], b[NIR])),
    # ------------------------------------------------------------------ snow
    "NDSII": ([GREEN, NIR], lambda b: _ndr(b[GREEN], b[NIR])),
    "S3_SNOW": (
        [NIR, RED, SWIR_1],
        lambda b: b[NIR] * (b[RED] - b[SWIR_1])
        / ((b[NIR] + b[RED]) * (b[NIR] + b[SWIR_1]) + _EPS),
    ),
    "SWI_SNOW": (
        [GREEN, NIR, SWIR_1],
        lambda b: b[GREEN] * (b[NIR] - b[SWIR_1])
        / ((b[GREEN] + b[NIR]) * (b[NIR] + b[SWIR_1]) + _EPS),
    ),
    "NDGLAI": ([GREEN, RED], lambda b: _ndr(b[GREEN], b[RED])),
    "SNOWMAP": (
        [GREEN, SWIR_1, NIR],
        lambda b: ((_ndr(b[GREEN], b[SWIR_1]) > 0.4) & (b[NIR] > 0.11)).astype(np.float64),
    ),
    # ------------------------------------------------- aquatic / chlorophyll
    "NDCI": ([VRE_1, RED], lambda b: _ndr(b[VRE_1], b[RED])),
    "TURB": ([RED, GREEN], lambda b: b[RED] / (b[GREEN] + _EPS)),
    "CDOM": ([GREEN, BLUE], lambda b: b[GREEN] / (b[BLUE] + _EPS)),
    "BGR": ([BLUE, GREEN], lambda b: b[BLUE] / (b[GREEN] + _EPS)),
    "OSI": (
        [BLUE, GREEN, RED],
        lambda b: (b[GREEN] + b[RED]) / (b[BLUE] + _EPS),
    ),
    # ------------------------------------------------------ SWIR cirrus etc.
    "CIRRUS_RATIO": (["SWIR_CIRRUS", BLUE], lambda b: b["SWIR_CIRRUS"] / (b[BLUE] + _EPS)),
    "PANNDVI": ([NIR, "PAN"], lambda b: _ndr(b[NIR], b["PAN"])),
    # ----------------------------------------------------- tasseled cap (6b)
    "TCB6": (
        [BLUE, GREEN, RED, NIR, SWIR_1, SWIR_2],
        lambda b: 0.3029 * b[BLUE] + 0.2786 * b[GREEN] + 0.4733 * b[RED]
        + 0.5599 * b[NIR] + 0.508 * b[SWIR_1] + 0.1872 * b[SWIR_2],
    ),
    "TCG6": (
        [BLUE, GREEN, RED, NIR, SWIR_1, SWIR_2],
        lambda b: -0.2941 * b[BLUE] - 0.243 * b[GREEN] - 0.5424 * b[RED]
        + 0.7276 * b[NIR] + 0.0713 * b[SWIR_1] - 0.1608 * b[SWIR_2],
    ),
    "TCW6": (
        [BLUE, GREEN, RED, NIR, SWIR_1, SWIR_2],
        lambda b: 0.1511 * b[BLUE] + 0.1973 * b[GREEN] + 0.3283 * b[RED]
        + 0.3407 * b[NIR] - 0.7117 * b[SWIR_1] - 0.4559 * b[SWIR_2],
    ),
}
INDEX_REGISTRY.update(_CATALOG)


def register_index(name: str, needs: list[str], fn: Callable[..., np.ndarray]) -> None:
    """X1 extension point: user-registered index kernels
    (reference: /root/reference/eoreader/bands/indices.py:337-373)."""
    INDEX_REGISTRY[name] = (needs, fn)


def needed_bands(index_names: list[str]) -> list[str]:
    """NEEDED_BANDS dependency expansion
    (/root/reference/eoreader/products/product.py:1238-1240)."""
    out: list[str] = []
    for n in index_names:
        for b in INDEX_REGISTRY[n][0]:
            if b not in out:
                out.append(b)
    return out


def to_reflectance(plane: np.ndarray) -> np.ndarray:
    return (plane + REFL_OFFSET) / REFL_QUANTIF


STATS_SCHEMA = "image_id string, index_name string, mean double, min double, max double"
STATS_INPUT = ["image_id", "bytes", "fmt", "h", "w"]


def stats_kernel(
    index_names: list[str],
    params: dict[str, dict] | None = None,
    plane_map: dict[str, int] | None = None,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """The decode+index kernel: a pandas batch of ``STATS_INPUT`` columns ->
    ``STATS_SCHEMA`` rows, one per (image, index).

    One decode per image feeds every requested index (the reference's
    'open them only one time!' CSE,
    /root/reference/eoreader/products/product.py:1242-1247).
    ``plane_map`` is the constellation's band->plane table (default: the
    legacy 3-plane layout); a missing band raises here, on the driver.
    """
    params = params or {}
    names = list(index_names)
    pmap = dict(plane_map) if plane_map is not None else dict(PLANE_OF)
    # capture the kernels in the task closure — executors re-import the module,
    # so driver-side register_index() mutations must travel with the plan
    fns = {n: INDEX_REGISTRY[n][1] for n in names}
    needs = needed_bands(names)
    missing = [b for b in needs if b not in pmap]
    if missing:
        raise KeyError(f"index dependencies not in plane_map: {missing}")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for iid, data, fmt, h, w in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"],
                                        pdf["h"], pdf["w"]):
            img = codecs.decode(bytes(data), fmt, int(h), int(w))
            # cast only the planes some index reads, not the whole stack
            bands = {b: to_reflectance(img[pmap[b]].astype(np.float32)) for b in needs}
            for n in names:
                v = fns[n](bands, **params.get(n, {})).astype(np.float64)
                rows.append((iid, n, float(v.mean()), float(v.min()), float(v.max())))
        return pd.DataFrame(rows, columns=["image_id", "index_name", "mean", "min", "max"])

    return kernel


def index_stats(
    images: DataFrame,
    index_names: list[str],
    params: dict[str, dict] | None = None,
    plane_map: dict[str, int] | None = None,
) -> DataFrame:
    """images -> (image_id, index_name, mean, min, max) per index: the
    ``stats_kernel`` over the Arrow bridge (sources/pyscan.index_stats_scan
    runs the same kernel on data-local reads)."""
    kernel = stats_kernel(index_names, params, plane_map)

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                yield kernel(pdf)

    return images.select(*STATS_INPUT).mapInPandas(batch, schema=STATS_SCHEMA)


def oracle_index_stats(
    image_seed: int,
    h: int,
    w: int,
    index_names: list[str],
    plane_map: dict[str, int] | None = None,
) -> dict:
    """Numpy closed-form oracle for tests: same math straight from the pixel fn."""
    pmap = dict(plane_map) if plane_map is not None else dict(PLANE_OF)
    img = codecs.make_image(image_seed, h, w, planes=max(pmap.values()) + 1).astype(np.float32)
    bands = {b: to_reflectance(img[pmap[b]]) for b in pmap}
    out = {}
    for n in index_names:
        needs, fn = INDEX_REGISTRY[n]
        v = fn({b: bands[b] for b in needs}).astype(np.float64)
        out[n] = (float(v.mean()), float(v.min()), float(v.max()))
    return out
