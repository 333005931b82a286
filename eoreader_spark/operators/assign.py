"""Tile <-> AOI assignment: the engine's headline spatial join.

Reference semantics: eoreader rasterizes AOI/mask polygons onto the band grid
(features.rasterize — a pixel is burned iff its CENTER is inside the polygon;
/root/reference/eoreader/products/optical/s2_product.py:1908-1957,
_create_mask /root/reference/eoreader/products/optical/optical_product.py:699-723)
and windows reads to an AOI (/root/reference/eoreader/utils.py:137-239,729-761).

Spark-first re-expression (BASELINE.json north_star):
  1. coarse:  explode AOI covering cells -> equi-join tiles on cell_r7
              (Catalyst partition-prunes when tiles are laid out by cell).
  2. strategy, chosen by one AOI-count probe (BROADCAST_AOI_LIMIT):
     - 'broadcast' (the AOI set is driver-sized, the common case for query
       polygons): AOI rings are parsed ONCE on the driver and
       broadcast; only NARROW (aoi_id, cell) pairs enter the join and only
       narrow numeric tile rows cross the Arrow bridge to the refine kernel.
       Shipping polygon WKT per candidate row measurably contends on the
       Arrow allocator at high core counts — geometry goes via broadcast,
       never via the shuffle.
     - 'salted' (huge AOI tables): distributed join with EXPLICIT SALTING of
       hot cells (count > SKEW_FACTOR x median from the cell histogram):
       tile side gets a deterministic salt, AOI side is exploded x N_SALTS
       on hot cells only.
  3. refine:  batched ray-casting PIP of tile centers vs the AOI ring inside
              mapInPandas — vectorized, no per-row Python.

Assignment rule (bit-for-bit determinism): tile is assigned iff its center is
inside by the even-odd half-open rule in spatial/pip.py — the same rule at
every parallelism level, so join rows and tile assignments match exactly
between local[8] and local[32] runs (BASELINE.json:2,6).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eoreader_spark.spatial import pip

BROADCAST_AOI_LIMIT = 100_000  # AOI polygons under this -> driver broadcast
SKEW_FACTOR = 8.0  # cell hotter than 8x median tile count -> salt
N_SALTS = 16

_REFINE_SCHEMA = "aoi_id string, image_id string, tile_x int, tile_y int, cell_r7 long"


def aoi_cells_exploded(aoi: DataFrame) -> DataFrame:
    """aoi(aoi_id, geom_wkt, cells_r7 array) -> one row per covering cell."""
    return aoi.select("aoi_id", "geom_wkt", F.explode("cells_r7").alias("cell_r7"))


def cell_histogram(tiles: DataFrame) -> DataFrame:
    """Per-cell tile counts — the stats table driving join strategy + salting.
    At 10^12 scale this is a cheap pre-aggregated metadata table; here we
    compute it on the fly (one map-side-combined groupBy)."""
    return tiles.groupBy("cell_r7").agg(F.count(F.lit(1)).alias("n_tiles"))


def _tile_centers() -> tuple[Column, Column]:
    """Tile-center expressions: the point every strategy tests against the
    AOI polygon."""
    return (F.col("x0") + F.col("x1")) * 0.5, (F.col("y0") + F.col("y1")) * 0.5


def _in_bbox(bx0: Column, by0: Column, bx1: Column, by1: Column) -> Column:
    """Conservative bbox prefilter, run JVM-side (Tungsten predicate) so only
    plausible candidates reach the Python ray-cast — PIP-inside is a subset
    of the closed bbox, so results are unchanged."""
    cx, cy = _tile_centers()
    return (cx >= bx0) & (cx <= bx1) & (cy >= by0) & (cy <= by1)


def _assign_broadcast(tiles: DataFrame, rows: list) -> DataFrame:
    """Driver-sized AOI path: rings via sc.broadcast, narrow join keys.
    ``rows`` are the AOI rows the strategy probe already collected.

    The refine is a vectorized BOOLEAN pandas UDF over (aoi_idx int, cx, cy
    doubles) only — string columns stay in the JVM and the filter applies
    there.  Measured on this box: moving candidate rows with their id strings
    through the Arrow bridge costs ~7x the PIP math itself at 32 cores;
    numeric-only legs scale cleanly.
    """
    spark = tiles.sparkSession
    ring_list = [pip.parse_wkt_polygon(r.geom_wkt) for r in rows]
    bc = spark.sparkContext.broadcast(ring_list)
    pairs = [
        (i, r.aoi_id, int(c), *pip.polygon_bbox(ring_list[i]))
        for i, r in enumerate(rows)
        for c in r.cells_r7
    ]
    ac = spark.createDataFrame(
        pairs, "aoi_idx int, aoi_id string, cell_r7 long,"
        " bx0 double, by0 double, bx1 double, by1 double"
    )
    cand = tiles.join(F.broadcast(ac), "cell_r7").filter(
        _in_bbox(F.col("bx0"), F.col("by0"), F.col("bx1"), F.col("by1"))
    )

    @F.pandas_udf("boolean")
    def inside(aoi_idx: pd.Series, cx: pd.Series, cy: pd.Series) -> pd.Series:
        rings = bc.value
        keep = pip.points_in_polygons_grouped(
            cx.to_numpy(np.float64),
            cy.to_numpy(np.float64),
            aoi_idx.to_numpy(np.int64),
            rings,
        )
        return pd.Series(keep)

    cx, cy = _tile_centers()
    return (
        cand.withColumn("keep", inside(F.col("aoi_idx"), cx, cy))
        .filter(F.col("keep"))
        .select("aoi_id", "image_id", "tile_x", "tile_y", "cell_r7")
    )


def _refine_wkt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Refine for the distributed path (polygon WKT travels with the row)."""
    for pdf in it:
        if len(pdf) == 0:
            continue
        cx = ((pdf["x0"].to_numpy() + pdf["x1"].to_numpy()) * 0.5).astype(np.float64)
        cy = ((pdf["y0"].to_numpy() + pdf["y1"].to_numpy()) * 0.5).astype(np.float64)
        wkts = pdf["geom_wkt"].to_numpy()
        uniq, inv = np.unique(wkts, return_inverse=True)
        rings = [pip.parse_wkt_polygon(w) for w in uniq]
        keep = pip.points_in_polygons_grouped(cx, cy, inv.astype(np.int64), rings)
        out = pdf.loc[keep, ["aoi_id", "image_id", "tile_x", "tile_y", "cell_r7"]]
        if len(out):
            yield out


def _assign_salted(
    tiles: DataFrame, aoi: DataFrame, skew_factor: float, n_salts: int
) -> DataFrame:
    """Distributed path for huge AOI tables: shuffle join with explicit
    hot-cell salting from the cell histogram."""
    @F.pandas_udf("array<double>")
    def wkt_bbox(wkts: pd.Series) -> pd.Series:
        return pd.Series([list(pip.polygon_bbox(pip.parse_wkt_polygon(w))) for w in wkts])

    ac = aoi_cells_exploded(aoi).withColumn("__bbox", wkt_bbox(F.col("geom_wkt")))
    hist = cell_histogram(tiles)
    med = hist.agg(F.expr("percentile_approx(n_tiles, 0.5)")).first()[0] or 1
    hot = [r["cell_r7"] for r in hist.filter(F.col("n_tiles") > skew_factor * med).collect()]
    if not hot:
        cand = tiles.join(ac, "cell_r7")
    else:
        hot_lit = F.array(*[F.lit(c) for c in set(hot)])
        t = tiles.withColumn(
            "salt",
            F.when(
                F.array_contains(hot_lit, F.col("cell_r7")),
                F.pmod(F.xxhash64("image_id", "tile_x", "tile_y"), F.lit(n_salts)),
            ).otherwise(F.lit(0)),
        )
        a = ac.withColumn(
            "salt",
            F.explode(
                F.when(
                    F.array_contains(hot_lit, F.col("cell_r7")),
                    F.sequence(F.lit(0), F.lit(n_salts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        cand = t.join(a, ["cell_r7", "salt"]).drop("salt")
    bb = F.col("__bbox")
    cand = cand.filter(_in_bbox(bb[0], bb[1], bb[2], bb[3])).select(
        "aoi_id", "image_id", "tile_x", "tile_y", "cell_r7", "x0", "y0", "x1", "y1", "geom_wkt"
    )
    return cand.mapInPandas(_refine_wkt, schema=_REFINE_SCHEMA)


def assign_tiles(tiles: DataFrame, aoi: DataFrame) -> DataFrame:
    """-> (aoi_id, image_id, tile_x, tile_y, cell_r7): tiles whose center is
    inside the AOI polygon.  One probe job fetches up to
    BROADCAST_AOI_LIMIT + 1 AOI rows: under the limit the same rows feed the
    broadcast path directly (at scale this is a table-metadata row count,
    free); over it the salted shuffle join runs."""
    probe = aoi.select("aoi_id", "geom_wkt", "cells_r7").limit(BROADCAST_AOI_LIMIT + 1).collect()
    if len(probe) <= BROADCAST_AOI_LIMIT:
        return _assign_broadcast(tiles, probe)
    return _assign_salted(tiles, aoi, SKEW_FACTOR, N_SALTS)


def join_rows(tiles: DataFrame, aoi: DataFrame) -> DataFrame:
    """Scene-level join rows (aoi_id, image_id) — the BASELINE.json:2
    'join-row match' output: distinct images with >=1 assigned tile."""
    return assign_tiles(tiles, aoi).select("aoi_id", "image_id").distinct()
