"""Single-threaded kernel timings on samples of the seeded inputs (traced
runs only): codec decode, index kernels and the PIP ray-cast."""

from __future__ import annotations

import time

import numpy as np

from eoreader_spark import codecs, datagen
from eoreader_spark.functions import indices
from eoreader_spark.spatial import pip
from perfbench import inputs

MIN_SECONDS = 0.2
PER_FMT = 6


def _rate(fn, units: float) -> float:
    """Seconds per unit of ``fn``'s work, repeating it for MIN_SECONDS."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_SECONDS:
            return dt / (reps * units)


def kernel_rates(seed: int) -> dict[str, float]:
    ids = inputs.id_window(seed, 3 * PER_FMT)
    out = {}
    decoded = []
    for fmt in ("raw8", "png", "jpeg"):
        sample = [i for i in ids.tolist() if datagen.image_fmt(i) == fmt][:PER_FMT]
        enc = []
        for i in sample:
            h, w = datagen.image_dims(i)
            enc.append((codecs.encode(codecs.make_image(i, h, w), fmt), h, w))
        mpix = sum(h * w for _, h, w in enc) / 1e6

        def decode(enc=enc, fmt=fmt):
            return [codecs.decode(b, fmt, h, w) for b, h, w in enc]

        out[f"codecs.decode_ms_per_mpix.{fmt}"] = _rate(decode, mpix) * 1e3
        decoded.extend(img.astype(np.float32) for img in decode())

    needs = indices.needed_bands(inputs.INDEX_NAMES)

    def kernels():
        for img in decoded:
            bands = {b: indices.to_reflectance(img[indices.PLANE_OF[b]]) for b in needs}
            for n in inputs.INDEX_NAMES:
                indices.INDEX_REGISTRY[n][1](bands)

    mpix = sum(img.shape[1] * img.shape[2] for img in decoded) / 1e6
    out["indices.kernel_ms_per_mpix"] = _rate(kernels, mpix) * 1e3

    ring = pip.parse_wkt_polygon(inputs.aoi_frame(seed, 3)["geom_wkt"].iloc[2])
    x0, y0, x1, y1 = pip.polygon_bbox(ring)
    rng = np.random.default_rng(seed)
    n = 100_000
    px = rng.uniform(x0 - 1, x1 + 1, n)
    py = rng.uniform(y0 - 1, y1 + 1, n)
    out["pip.us_per_point"] = _rate(lambda: pip.points_in_polygon(px, py, ring), n) * 1e6
    return out
