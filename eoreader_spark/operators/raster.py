"""Raster tile model: decode images into tile rows + collocation joins.

Reference: eoreader reads rasters into dask-chunked arrays (chunk = {band:1,
x:1024, y:1024}, /root/reference/eoreader/utils.py:137-239) and collocates
every loaded band onto the first band's grid so per-pixel math is valid
("bands MUST BE exactly aligned",
/root/reference/eoreader/products/product.py:2192-2215).

Spark model: a *tile row* = (image_id, tile_x, tile_y, px array<float>) — the
chunk analog and the unit of parallelism.  Collocation is an equi-join on
(image_id, tile_x, tile_y).  Decode runs once per image inside mapInPandas
and fans out tile rows (the S3 scan analog, SURVEY §2.1).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eoreader_spark import codecs
from eoreader_spark.datagen import TILE


def tiles_from_images(images: DataFrame, plane: int, tile: int = TILE) -> DataFrame:
    """Decode `bytes` -> float32 tile rows for one plane (band).

    One decode per image per call; to read several planes, prefer
    ``multi_plane_tiles`` (decodes once, like the reference's
    'open them only one time!' product.py:1242-1247).
    """
    return multi_plane_tiles(images, [plane], tile).withColumnRenamed(f"px_{plane}", "px")


def multi_plane_tiles(images: DataFrame, planes: list[int], tile: int = TILE) -> DataFrame:
    """Decode once, emit one array column per plane: px_0, px_1, ..."""
    cols = ", ".join(f"px_{p} array<float>" for p in planes)
    schema = f"image_id string, tile_x int, tile_y int, {cols}"

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for iid, data, fmt, h, w in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["h"], pdf["w"]
            ):
                # select the planes before the cast: only they become float32
                arr = codecs.decode(bytes(data), fmt, int(h), int(w))[planes].astype(np.float32)
                for ty in range(int(h) // tile):
                    for tx in range(int(w) // tile):
                        sl = arr[:, ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile]
                        rows.append((iid, tx, ty, *[p.ravel() for p in sl]))
            yield pd.DataFrame(
                rows, columns=["image_id", "tile_x", "tile_y", *[f"px_{p}" for p in planes]]
            )

    return images.select("image_id", "bytes", "fmt", "h", "w").mapInPandas(batch, schema=schema)


def jp2_scene_tiles(
    files: DataFrame,
    plane: int = 0,
    max_res: int | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Tile-parallel decode of TILED JPEG 2000 scenes — the split-plan scan
    for the case where ONE scene is too big for one task (the reference's
    real S2 band files are single 10980x10980 JP2s; at 100 TB a scene must
    decode across executors, not within one).

    Two-stage plan, same architecture as sources/pyscan.py:
      1. index: per file, a seek-based marker walk (jp2_file_index —
         O(#tiles) reads of ~12 bytes, never pixel payload) emits NARROW
         split descriptors (path, isot, offset, length, tile geometry).
      2. decode: descriptors repartition across the cluster (a few dozen
         bytes each — image bytes NEVER shuffle); each task ranged-reads
         its tile-part [offset, offset+length) plus the tiny main header
         (both object-store GETs at scale; the header is cached per path
         within a task) and entropy-decodes ONE independently-coded tile.

    ``files``: (image_id, path).  Output: (image_id, tile_x, tile_y, th,
    tw, px array<float>) — the standard tile-row model, so downstream
    stencils/indices/collocation compose unchanged.
    """

    def index_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from eoreader_spark.sources import jp2 as _jp2

        for pdf in it:
            rows = []
            for iid, path in zip(pdf["image_id"], pdf["path"]):
                ix = _jp2.jp2_file_index(path)
                m = ix["meta"]
                grid = _jp2._tile_grid(
                    m["h"], m["w"], m["tile_h"], m["tile_w"]
                )
                for isot, off, ln in ix["parts"]:
                    ty, tx, _y0, _x0, th, tw = grid[isot]
                    rows.append((iid, path, isot, off, ln, tx, ty, th, tw))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "path", "isot", "off", "ln",
                         "tile_x", "tile_y", "th", "tw"],
            )

    splits = files.select("image_id", "path").mapInPandas(
        index_batch,
        schema="image_id string, path string, isot int, off long, ln long, "
               "tile_x int, tile_y int, th int, tw int",
    )
    # descriptors spread across the cluster; range on (image_id, isot) so one
    # scene's tiles land on MANY executors.  The partition count MUST be
    # explicit: descriptor rows are a few dozen bytes, so AQE's size-based
    # coalescing would otherwise fold the whole shuffle into ONE partition
    # and serialize the expensive decode stage (measured: 512 tiles ran at
    # single-core speed).  Explicit repartition(n, cols) is exempt from AQE
    # coalescing; size by decode cost, not by bytes.
    if parallelism is None:
        parallelism = files.sparkSession.sparkContext.defaultParallelism * 2
    # repartitionByRange samples boundaries -> near-equal tile COUNTS per
    # partition; hash bucketing leaves +-20% skew that turns into last-wave
    # stragglers on a compute-bound decode (measured at 1x4 -> 4x4 real
    # executors: range 0.800 vs hash 0.785 efficiency, and 2x parallelism
    # beats 4x — finer tasks just add scheduling)
    splits = splits.repartitionByRange(parallelism, "image_id", "isot")

    def decode_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from eoreader_spark.sources import jp2 as _jp2

        headers: dict[str, bytes] = {}
        for pdf in it:
            rows = []
            for iid, path, isot, off, ln, tx, ty in zip(
                pdf["image_id"], pdf["path"], pdf["isot"], pdf["off"],
                pdf["ln"], pdf["tile_x"], pdf["tile_y"],
            ):
                if path not in headers:
                    headers[path] = _jp2.jp2_file_index(path)["header"]
                with open(path, "rb") as f:
                    f.seek(int(off))
                    part = f.read(int(ln))
                dec = _jp2.decode_jp2_part(
                    headers[path], part, int(isot), max_res=max_res
                )[plane].astype(np.float32)
                rows.append(
                    (iid, int(tx), int(ty), dec.shape[0], dec.shape[1],
                     dec.ravel())
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "tile_x", "tile_y", "th", "tw", "px"],
            )

    return splits.mapInPandas(
        decode_batch,
        schema="image_id string, tile_x int, tile_y int, th int, tw int, "
               "px array<float>",
    )


def collocate(bands: dict[str, DataFrame]) -> DataFrame:
    """J1 collocation: equi-join band tile DataFrames on the tile key.

    Input: {band_name: tiles DF with px column}; output: one wide DF with a
    px_<band> column per band.  Inner join = intersection of valid tiles
    (the reference errors if grids differ; here grids are keyed identically).
    At scale this join is shuffle-free when all band DFs share the same
    partitioning (written bucketed by tile key).
    """
    renamed = [
        df.withColumnRenamed("px", f"px_{name}") for name, df in bands.items()
    ]
    return reduce(
        lambda a, b: a.join(b, ["image_id", "tile_x", "tile_y"]), renamed
    )


def quicklook(images: DataFrame, factor: int = 4, fmt: str = "png") -> DataFrame:
    """S13 quicklook + decimated-read analog: decode, box-downsample by
    ``factor``, re-encode small previews (the reference renders RGB
    quicklooks and computes footprints on 10x-decimated reads —
    /root/reference/eoreader/products/product.py:2581-2644,
    /root/reference/eoreader/products/sar/sar_product.py:301-307).

    Output rows: (image_id, w, h, fmt, bytes) — a thumbnail column suitable
    for a preview/pyramid table."""
    from eoreader_spark import codecs as _codecs

    schema = "image_id string, w int, h int, fmt string, bytes binary"

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for iid, data, f, h, w in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["h"], pdf["w"]
            ):
                img = _codecs.decode(bytes(data), f, int(h), int(w))
                p, hh, ww = img.shape
                th, tw = hh // factor, ww // factor
                small = (
                    img[:, : th * factor, : tw * factor]
                    .reshape(p, th, factor, tw, factor)
                    .mean(axis=(2, 4))
                    .round()
                    # keep the source dtype: uint16 rasters must not wrap
                    # mod 256 (round-4 codec-dtype fix applies here too)
                    .astype(img.dtype)
                )
                rows.append((iid, tw, th, fmt, _codecs.encode(small, fmt)))
            yield pd.DataFrame(rows, columns=["image_id", "w", "h", "fmt", "bytes"])

    return images.select("image_id", "bytes", "fmt", "h", "w").mapInPandas(batch, schema=schema)


def pyramid(images: DataFrame, levels: tuple[int, ...] = (2, 4, 8), fmt: str = "png") -> DataFrame:
    """S13 multi-resolution overview pyramid (the COG-overview analog: the
    reference writes COGs whose driver builds /2 /4 /8 overviews,
    /root/reference/eoreader/utils.py:242-299 `utils.write` with the COG
    driver).  ONE decode per image emits every level — each overview is a
    box-mean of the PREVIOUS level (the standard overview recurrence, so
    level 4 == mean-of-means, not a direct /4 of the base; identical when
    dims divide evenly, cheaper to build, and matching GDAL's cascade).

    Output rows: (image_id, level, w, h, fmt, bytes)."""
    from eoreader_spark import codecs as _codecs

    lvls = sorted(set(int(v) for v in levels))
    assert all(v >= 2 for v in lvls)
    schema = "image_id string, level int, w int, h int, fmt string, bytes binary"

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for iid, data, f, h, w in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["h"], pdf["w"]
            ):
                dec = _codecs.decode(bytes(data), f, int(h), int(w))
                src_dtype = dec.dtype  # uint16 overviews stay uint16
                cur = dec.astype(np.float64)
                cur_level = 1
                for lv in lvls:
                    assert lv % cur_level == 0, (
                        f"levels must form a divisor chain (got {lv} after {cur_level})"
                    )
                    step = lv // cur_level
                    p, hh, ww = cur.shape
                    th, tw = hh // step, ww // step
                    if th == 0 or tw == 0:
                        break
                    cur = (
                        cur[:, : th * step, : tw * step]
                        .reshape(p, th, step, tw, step)
                        .mean(axis=(2, 4))
                    )
                    cur_level = lv
                    enc = _codecs.encode(np.round(cur).astype(src_dtype), fmt)
                    rows.append((iid, lv, tw, th, fmt, enc))
            yield pd.DataFrame(
                rows, columns=["image_id", "level", "w", "h", "fmt", "bytes"]
            )

    return images.select("image_id", "bytes", "fmt", "h", "w").mapInPandas(batch, schema=schema)


def mean_sun_angles(angle_tiles: DataFrame, az_col: str = "saa", zen_col: str = "sza") -> DataFrame:
    """A5 angle-grid aggregate: per-image mean sun azimuth/zenith from the
    full angle GRIDS (the reference averages the S2 angle grid rasters,
    /root/reference/eoreader/products/optical/optical_product.py:467-501 —
    round 1 only took scalar constructor params).

    Zenith: plain arithmetic mean over all grid pixels.  Azimuth: CIRCULAR
    mean (atan2 of summed unit vectors) so grids straddling north (359/1 deg)
    average to ~0, not ~180.  All JVM higher-order aggregates + one final
    groupBy — map-side combined, 4 doubles per tile across the exchange."""
    rad = lambda c: F.radians(c)  # noqa: E731
    sum_sin = F.aggregate(
        az_col, F.lit(0.0), lambda a, x: a + F.sin(rad(x))
    )
    sum_cos = F.aggregate(
        az_col, F.lit(0.0), lambda a, x: a + F.cos(rad(x))
    )
    sum_zen = F.aggregate(zen_col, F.lit(0.0), lambda a, x: a + x)
    n = F.size(az_col).cast("long")
    per_tile = angle_tiles.select(
        "image_id",
        sum_sin.alias("ss"),
        sum_cos.alias("sc"),
        sum_zen.alias("sz"),
        n.alias("n"),
    )
    mean_az = F.degrees(F.atan2(F.sum("ss"), F.sum("sc")))
    return (
        per_tile.groupBy("image_id")
        .agg(
            # wrap into [0, 360)
            ((mean_az + 360.0) % 360.0).alias("mean_azimuth"),
            (F.sum("sz") / F.sum("n")).alias("mean_zenith"),
            F.sum("n").alias("n_px"),
        )
    )


def tile_stats(tiles: DataFrame, px_col: str = "px") -> DataFrame:
    """Per-image stats over tile arrays — JVM-side aggregate over array
    columns via higher-order functions (no Python in the loop)."""
    s = F.aggregate(px_col, F.lit(0.0), lambda acc, x: acc + x)
    n = F.size(px_col)
    return (
        tiles.select(
            "image_id",
            s.alias("s"),
            n.cast("long").alias("n"),
            F.array_min(px_col).alias("mn"),
            F.array_max(px_col).alias("mx"),
        )
        .groupBy("image_id")
        .agg(
            (F.sum("s") / F.sum("n")).alias("mean"),
            F.min("mn").alias("min"),
            F.max("mx").alias("max"),
            F.sum("n").alias("n_px"),
        )
    )
