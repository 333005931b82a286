"""Seeded benchmark inputs, built from the library's public per-id functions.

The **landing tables** of the ingest workload: images (mixed raw8 / png /
jpeg), their 64x64 tile grid, AOI polygons and DEM tiles.  Pixels, dims,
formats and scene footprints come from ``datagen.image_dims``, ``image_fmt``,
``scene_bbox`` and ``caption_of`` plus ``codecs.make_image`` and
``codecs.encode``.  The seed picks the image-id window and the AOI anchors;
the window starts on a multiple of ``ID_PERIOD`` so sizes, the hot-cell skew
and the format mix are identical for every seed while the pixels, jitter and
AOI positions change.

``scene_queries`` generates nothing: it reads the repository's test tables
(TESTDATA.md), of which ``perfbench/testdata/`` holds byte-identical copies of
the six tables the eight bench queries read.

Everything here is plain numpy/pyarrow on the driver: no Spark job runs
while inputs are generated.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from eoreader_spark import cells, codecs, datagen

TESTDATA = Path(__file__).resolve().parent / "testdata"

# lcm of the per-id cycles in datagen: dims (63), format (3), hot fraction (10),
# hot spot (5) and constellation (4).  Windows starting on a multiple of it
# have the same size / format / skew profile.
ID_PERIOD = 1260
N_WINDOWS = 4096
INDEX_NAMES = ["NDVI", "NDWI", "EVI"]


@dataclass(frozen=True)
class IngestSizes:
    images: int
    aois: int
    dem_scenes: int

    @property
    def image_files(self) -> int:
        # bench.py's at-rest layout: max(32, n // 256) files
        return max(32, self.images // 256)


def id_window(seed: int, n: int) -> np.ndarray:
    start = (1 + seed % N_WINDOWS) * ID_PERIOD
    return np.arange(start, start + n, dtype=np.int64)


def image_id(i: int) -> str:
    return f"img{i:012d}"


# ------------------------------------------------------------------ images
def image_row(i: int) -> tuple:
    h, w = datagen.image_dims(i)
    fmt = datagen.image_fmt(i)
    return (image_id(i), codecs.encode(codecs.make_image(i, h, w), fmt), w, h, fmt,
            datagen.caption_of(i))


def write_images(ids: np.ndarray, n_files: int, path: str) -> None:
    """Encode the images and write them as ``n_files`` parquet files (one
    row group each, so each file is one pyscan split)."""
    rows = [image_row(i) for i in ids.tolist()]
    df = pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption"])
    write_frame(df.astype({"w": "int32", "h": "int32"}), path, n_files)


# ------------------------------------------------------------------- tiles
def tile_frame(ids: np.ndarray) -> pd.DataFrame:
    """The tile grid of each image: geo bounds mapped from the scene bbox,
    cell of the tile center (same math as datagen.gen_tiles)."""
    cols = {k: [] for k in ("image_id", "tile_x", "tile_y", "x0", "y0", "x1", "y1")}
    for i in ids.tolist():
        h, w = datagen.image_dims(i)
        bx0, by0, bx1, by1 = (float(v[0]) for v in datagen.scene_bbox(np.array([i])))
        ntx, nty = w // datagen.TILE, h // datagen.TILE
        dx, dy = (bx1 - bx0) / ntx, (by1 - by0) / nty
        iid = image_id(i)
        for ty in range(nty):
            for tx in range(ntx):
                x0, y0 = bx0 + tx * dx, by1 - (ty + 1) * dy
                cols["image_id"].append(iid)
                cols["tile_x"].append(tx)
                cols["tile_y"].append(ty)
                cols["x0"].append(x0)
                cols["y0"].append(y0)
                cols["x1"].append(x0 + dx)
                cols["y1"].append(y0 + dy)
    df = pd.DataFrame(cols).astype({"tile_x": "int32", "tile_y": "int32"})
    cx = (df["x0"].to_numpy() + df["x1"].to_numpy()) / 2
    cy = (df["y0"].to_numpy() + df["y1"].to_numpy()) / 2
    df["cell_r7"] = cells.encode(cx, cy, datagen.CELL_RES)
    return df


# -------------------------------------------------------------------- AOIs
def aoi_frame(seed: int, n_aoi: int) -> pd.DataFrame:
    """Square AOIs anchored near the hot spots at seeded offsets: tiny /
    scene-sized / multi-scene in rotation, every 20th snapped onto a cell edge
    so the half-open ray-cast tie rule is exercised."""
    rng = np.random.default_rng(seed)
    off = rng.uniform(-1.0, 1.0, size=(n_aoi, 2))
    rows = []
    for j in range(n_aoi):
        sx, sy = datagen.HOT_SPOTS[j % len(datagen.HOT_SPOTS)]
        cx, cy = sx + off[j, 0], sy + off[j, 1]
        half = [0.05, 0.3, 1.5][j % 3]
        if j % 20 == 4:
            nx = 1 << (datagen.CELL_RES + 1)
            cx = round((cx + 180.0) / 360.0 * nx) / nx * 360.0 - 180.0
        ring = np.array([(cx - half, cy - half), (cx + half, cy - half),
                         (cx + half, cy + half), (cx - half, cy + half)])
        _, cc = cells.cover_bbox(np.array([cx - half]), np.array([cy - half]),
                                 np.array([cx + half]), np.array([cy + half]),
                                 datagen.CELL_RES)
        rows.append((f"aoi{j:06d}", datagen.ring_wkt(ring), np.unique(cc).tolist()))
    return pd.DataFrame(rows, columns=["aoi_id", "geom_wkt", "cells_r7"])


# --------------------------------------------------------------------- DEM
def dem_frame(seed: int, ids: np.ndarray) -> pd.DataFrame:
    """Closed-form DEM tiles z = 100 sin((x + phase) / 5) + 2 y per scene,
    tile grid from the scene dims; the seed shifts the phase."""
    phase = float(seed % 97)
    t = datagen.TILE
    yy, xx = np.mgrid[0:t, 0:t]
    rows = []
    for i in ids.tolist():
        h, w = datagen.image_dims(i)
        for ty in range(h // t):
            for tx in range(w // t):
                z = 100.0 * np.sin((tx * t + xx + phase) / 5.0) + 2.0 * (ty * t + yy)
                rows.append((image_id(i), tx, ty, z.ravel().astype(np.float32)))
    df = pd.DataFrame(rows, columns=["image_id", "tile_x", "tile_y", "z"])
    return df.astype({"tile_x": "int32", "tile_y": "int32"})


def write_frame(df: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """Write a pandas frame as ``n_files`` parquet files under ``path``."""
    Path(path).mkdir(parents=True, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        pq.write_table(pa.Table.from_pandas(df.iloc[part], preserve_index=False),
                       f"{path}/part-{k:05d}.parquet")


@dataclass
class Landing:
    """Paths and in-memory copies of one seeded landing table set."""

    root: str
    ids: np.ndarray
    tiles: pd.DataFrame
    aoi: pd.DataFrame
    dem: pd.DataFrame

    @property
    def images_path(self) -> str:
        return f"{self.root}/images"

    @property
    def tiles_path(self) -> str:
        return f"{self.root}/tiles"

    @property
    def aoi_path(self) -> str:
        return f"{self.root}/aoi"

    @property
    def dem_path(self) -> str:
        return f"{self.root}/dem"


def build_landing(seed: int, sizes: IngestSizes, root: str) -> Landing:
    """Generate the seeded frames (no Spark); ``write_landing`` persists them."""
    ids = id_window(seed, sizes.images)
    # DEM scenes: every 8th image of the window keeps the dims mix
    dem_ids = ids[:: max(1, sizes.images // sizes.dem_scenes)][: sizes.dem_scenes]
    return Landing(root, ids, tile_frame(ids), aoi_frame(seed, sizes.aois),
                   dem_frame(seed, dem_ids))


def write_landing(land: Landing, sizes: IngestSizes) -> None:
    write_images(land.ids, sizes.image_files, land.images_path)
    write_frame(land.tiles, land.tiles_path, n_files=8)
    write_frame(land.aoi, land.aoi_path)
    write_frame(land.dem, land.dem_path, n_files=8)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    files = [p for p in Path(path).rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)
