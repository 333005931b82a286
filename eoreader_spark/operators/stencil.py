"""Focal (stencil) raster operators with halo exchange over tile rows.

Reference operators re-expressed (SURVEY §2.5):
- slope / hillshade from a warped DEM
  (/root/reference/eoreader/products/product.py:2141-2190,
   /root/reference/eoreader/products/optical/optical_product.py:503-556)
- Refined-Lee-style 3x3 despeckle (SNAP Speckle-Filter graph,
  /root/reference/eoreader/data/sar_despeckle_default.xml, runner
  /root/reference/eoreader/products/sar/sar_product.py:1251-1308)
- NaN gap-fill along x with a limit
  (/root/reference/eoreader/products/sar/sar_product.py:1344-1358)

The reference hides chunk boundaries inside dask; in a row model the halo is
explicit: every tile emits its edge strips addressed to its 8 neighbours,
the strips (and ONLY the strips) shuffle — one groupBy collapses them to a
single halo row per target tile — and an equi-join against the center tiles,
co-partitioned on the tile key, hands each tile its (T+2)^2 padded input for
a narrow mapInPandas kernel pass.  Per-op exchange volume = 4 edges + 4
corners per tile (~4*T+4 floats ≈ 6% of a 64^2 tile, ~0.4% of a 1024^2
production tile).  The center payload crosses an exchange at most ONCE: the
caller-visible ``partitioned=`` flag skips even that when the tile table is
already hash-distributed on the tile key (bucketed/partitioned at rest, or
repartitioned once and reused across several stencil ops — Spark reuses the
exchange across the slope/hillshade/despeckle subtrees of one plan).
Image borders pad with NaN and kernels use nan-aware reductions, matching
xarray edge semantics.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from eoreader_spark.datagen import TILE

# (dx, dy) -> which strip of THIS tile the neighbour at (dx,dy) needs
_DIRS = [(-1, -1), (0, -1), (1, -1), (-1, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]


_KEY = ["image_id", "tile_x", "tile_y"]

# direction -> (halo column, pad placement).  The neighbour at (tx+dx, ty+dy)
# receives the sender's edge FACING it, which lands on the OPPOSITE border of
# the receiver's padded array: dx=+1 (sender's rightmost column) -> pad x=0.
_DIR_COLS = {
    (1, 1): "h_nw", (0, 1): "h_top", (-1, 1): "h_ne",
    (1, 0): "h_left", (-1, 0): "h_right",
    (1, -1): "h_sw", (0, -1): "h_bot", (-1, -1): "h_se",
}


def _strip_exprs(
    tile: int, px_col: str = "px", halo: int = 1
) -> dict[tuple[int, int], str]:
    """JVM strip-extraction expressions over a row-major (T,T) px array —
    slices for rows, strided slices for columns; pure codegen, NO
    Python/Arrow in the extraction pass.  ``halo`` = strip width in pixels
    (1 for 3x3 kernels, 3 for the 7x7 refined Lee): edge strips are w*T,
    corners w*w, all flat row-major."""
    t, px, w = tile, px_col, halo
    if w == 1:
        return {
            (0, 1): f"slice({px}, {t * (t - 1) + 1}, {t})",   # sender's bottom row
            (0, -1): f"slice({px}, 1, {t})",                   # sender's top row
            (1, 0): f"transform(sequence(0, {t - 1}), i -> element_at({px}, i * {t} + {t}))",
            (-1, 0): f"transform(sequence(0, {t - 1}), i -> element_at({px}, i * {t} + 1))",
            (1, 1): f"array(element_at({px}, {t * t}))",       # sender's SE corner
            (1, -1): f"array(element_at({px}, {t}))",          # sender's NE corner
            (-1, 1): f"array(element_at({px}, {t * (t - 1) + 1}))",  # sender's SW
            (-1, -1): f"array(element_at({px}, 1))",            # sender's NW corner
        }

    def rows(r0: int) -> str:  # w full rows starting at row r0 (w*t, row-major)
        return f"slice({px}, {r0 * t + 1}, {w * t})"

    def cols(c0: int) -> str:  # w columns starting at col c0 (t rows of w)
        return f"flatten(transform(sequence(0, {t - 1}), i -> slice({px}, i * {t} + {c0 + 1}, {w})))"

    def block(r0: int, c0: int) -> str:  # w x w corner block, row-major
        return (
            f"flatten(transform(sequence(0, {w - 1}),"
            f" r -> slice({px}, (r + {r0}) * {t} + {c0 + 1}, {w})))"
        )

    return {
        (0, 1): rows(t - w),            # sender's bottom w rows
        (0, -1): rows(0),               # sender's top w rows
        (1, 0): cols(t - w),            # sender's rightmost w cols
        (-1, 0): cols(0),               # sender's leftmost w cols
        (1, 1): block(t - w, t - w),    # SE corner block
        (1, -1): block(0, t - w),       # NE corner block
        (-1, 1): block(t - w, 0),       # SW corner block
        (-1, -1): block(0, 0),          # NW corner block
    }


def _strip_rows(
    tiles: DataFrame, tile: int, px_cols: tuple[str, ...] = ("px",), halo: int = 1
) -> DataFrame:
    """Emit ONLY the 8 neighbour-addressed edge strips of each tile (the
    center tile does NOT re-enter the shuffle), entirely JVM-side.  With
    several px columns (multi-band stencil) each direction's strip is the
    per-band strips CONCATENATED in px_cols order — bands share ONE strips
    exchange instead of one per band."""
    import pyspark.sql.functions as F

    per_col = {c: _strip_exprs(tile, c, halo) for c in px_cols}
    strip_of = {
        d: (
            per_col[px_cols[0]][d]
            if len(px_cols) == 1
            else "concat(" + ", ".join(per_col[c][d] for c in px_cols) + ")"
        )
        for d in _DIRS
    }
    structs = ", ".join(
        f"named_struct('tile_x', tile_x + {dx}, 'tile_y', tile_y + {dy},"
        f" 'dir', '{_DIR_COLS[(dx, dy)]}', 'strip', {strip_of[(dx, dy)]})"
        for dx, dy in _DIRS
    )
    return tiles.select(
        "image_id", F.expr(f"inline(array({structs}))")
    ).select("image_id", "tile_x", "tile_y", "dir", "strip")


def halo_rows(
    tiles: DataFrame,
    tile: int = TILE,
    partitioned: bool = False,
    px_cols: tuple[str, ...] = ("px",),
    halo: int = 1,
) -> DataFrame:
    """Strips-only exchange -> (key, px, halo) rows where ``halo`` is ONE
    flat 4wT+4w^2 float array (nw, top rows, ne, left cols, right cols, sw,
    bottom rows, se; NaN where the image has no neighbour), NULL for tiles
    with no neighbours at all.  ``halo`` (width w) supports wider kernels:
    w=3 for the 7x7 refined Lee.

    Why one flat column and no JVM pad assembly (round-3 finding, BENCH.md):
    (a) carrying 8 separate array columns through the SortMergeJoin made the
    post-join row->Arrow conversion ~4x slower than the same bytes in one
    array; (b) the old flatten/transform pad expression is a higher-order
    function — interpreted per element (~284M element evals per 65k-tile
    pass), reaching compiled speed only after HotSpot warms the interpreter
    path, i.e. a 10-20x cold-JVM cliff that EVERY fresh executor would pay
    at cluster scale.  The coalesce/concat layout below is plain codegen'd
    expressions; the (T+2)^2 pad is assembled in numpy (vectorized strided
    writes) inside the kernel pass that already crosses Arrow."""
    import pyspark.sql.functions as F

    t, w = tile, halo
    nb = len(px_cols)
    # The explicit centers repartition is load-bearing twice over (re-checked
    # r9, measured): it lets the halo join reuse one exchange AND it fans the
    # downstream compute-heavy kernel pass out to spark.sql.shuffle.partitions
    # tasks — a tile table at rest often has far fewer input splits than
    # cores (the r5 landmine: descriptor/tile inputs feeding expensive
    # mapInPandas stages need an explicit repartition, sized by compute, not
    # bytes).  An r9 experiment that dropped it for a broadcast-halo join
    # saved the exchange but ran the kernel at input-split parallelism
    # (8 tasks on a 32-core box) and was net slower.
    centers = tiles if partitioned else tiles.repartition(*_KEY)
    strips = _strip_rows(tiles, tile, px_cols, halo)
    halos = strips.groupBy(*_KEY).agg(
        *[
            F.max(F.when(F.col("dir") == c, F.col("strip"))).alias(c)
            for c in _DIR_COLS.values()
        ]
    )
    nan1 = f"transform(sequence(1, {nb * w * w}), i -> cast('NaN' as float))"
    nanrow = f"transform(sequence(1, {nb * w * t}), i -> cast('NaN' as float))"
    flat = F.expr(
        f"concat(coalesce(h_nw, {nan1}), coalesce(h_top, {nanrow}),"
        f" coalesce(h_ne, {nan1}), coalesce(h_left, {nanrow}),"
        f" coalesce(h_right, {nanrow}), coalesce(h_sw, {nan1}),"
        f" coalesce(h_bot, {nanrow}), coalesce(h_se, {nan1}))"
    )
    hflat = halos.select(*_KEY, flat.alias("halo"))
    return centers.join(hflat, _KEY, "left")


def assemble_pads_multi(
    pdf: pd.DataFrame, t: int, px_cols: tuple[str, ...] = ("px",), halo: int = 1
) -> dict[str, np.ndarray]:
    """{px_col: (n, T+2w, T+2w) float32 pads} from (px..., halo) rows —
    vectorized numpy strided writes; NaN outside the image (missing halo row
    or direction).  The flat halo segments are band-concatenated in px_cols
    order (see _strip_rows); ``halo`` = strip width w."""
    nb = len(px_cols)
    w = halo
    n = len(pdf)
    pads = {
        c: np.full((n, t + 2 * w, t + 2 * w), np.nan, dtype=np.float32)
        for c in px_cols
    }
    for c in px_cols:
        pads[c][:, w : t + w, w : t + w] = np.stack(
            [np.asarray(p, dtype=np.float32) for p in pdf[c]]
        ).reshape(n, t, t)
    hv = pdf["halo"].to_numpy()
    mask = pd.notna(hv)
    if mask.any():
        idx = np.nonzero(mask)[0]
        h = np.stack([np.asarray(hv[i], dtype=np.float32) for i in idx])
        # segment offsets in the flat layout: nw | top | ne | left | right
        # | sw | bot | se; corners hold nb blocks of w*w, edges nb of w*t
        cw, ew = w * w, w * t
        nw = 0
        top = nw + nb * cw
        ne = top + nb * ew
        left = ne + nb * cw
        right = left + nb * ew
        sw = right + nb * ew
        bot = sw + nb * cw
        se = bot + nb * ew
        m = len(idx)
        for i, c in enumerate(px_cols):
            p = pads[c]
            # corners: w x w row-major blocks
            p[idx, 0:w, 0:w] = h[:, nw + i * cw : nw + (i + 1) * cw].reshape(m, w, w)
            p[idx, 0:w, t + w : t + 2 * w] = h[:, ne + i * cw : ne + (i + 1) * cw].reshape(m, w, w)
            p[idx, t + w : t + 2 * w, 0:w] = h[:, sw + i * cw : sw + (i + 1) * cw].reshape(m, w, w)
            p[idx, t + w : t + 2 * w, t + w : t + 2 * w] = h[:, se + i * cw : se + (i + 1) * cw].reshape(m, w, w)
            # top/bottom: w rows x t cols (row-major); left/right: t rows x w cols
            p[idx, 0:w, w : t + w] = h[:, top + i * ew : top + (i + 1) * ew].reshape(m, w, t)
            p[idx, t + w : t + 2 * w, w : t + w] = h[:, bot + i * ew : bot + (i + 1) * ew].reshape(m, w, t)
            p[idx, w : t + w, 0:w] = h[:, left + i * ew : left + (i + 1) * ew].reshape(m, t, w)
            p[idx, w : t + w, t + w : t + 2 * w] = h[:, right + i * ew : right + (i + 1) * ew].reshape(m, t, w)
    return pads


def assemble_pads(pdf: pd.DataFrame, t: int, px_col: str = "px", halo: int = 1) -> np.ndarray:
    """Single-band pad assembly (see assemble_pads_multi)."""
    return assemble_pads_multi(pdf, t, (px_col,), halo)[px_col]


def apply_stencil(
    tiles: DataFrame,
    kernel: Callable[[np.ndarray], np.ndarray],
    tile: int = TILE,
    out_col: str = "px",
    partitioned: bool = False,
    halo: int = 1,
) -> DataFrame:
    """Generic halo stencil with a PYTHON kernel (X3 extension point):
    kernel((T+2w,T+2w) padded) -> (T,T).  Strips-only shuffle; the flat halo
    column joins the center tiles JVM-side, and the pad assembles in numpy
    inside the one Arrow pass (see halo_rows for why).  ``halo``=1 serves
    3x3 kernels, 3 the 7x7 refined Lee."""
    t = tile
    joined = halo_rows(tiles, tile, partitioned, halo=halo)
    schema = f"image_id string, tile_x int, tile_y int, {out_col} array<float>"

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            pads = assemble_pads(pdf, t, halo=halo)
            out_px = [
                kernel(pads[i]).astype(np.float32).ravel() for i in range(len(pdf))
            ]
            out = pdf[["image_id", "tile_x", "tile_y"]].copy()
            out[out_col] = out_px
            yield out

    return joined.mapInPandas(batch, schema=schema)


def apply_stencil_multi(
    tiles: DataFrame,
    kernels: dict[str, tuple[str, Callable[[np.ndarray], np.ndarray]]],
    tile: int = TILE,
    partitioned: bool = False,
    halo: int = 1,
) -> DataFrame:
    """Several stencil kernels over several bands in ONE pass: kernels maps
    out_col -> (px_col, kernel).  All bands share a single strips exchange,
    a single halo join, and a single Arrow pass — the fused form the loader
    uses for SLOPE+HILLSHADE(+DEM) over one DEM and for multi-band
    despeckle, instead of one exchange + join per output (the round-2
    VERDICT #2 join-per-thing anti-pattern, killed for stencils too)."""
    t = tile
    px_cols = tuple(dict.fromkeys(pc for pc, _ in kernels.values()))
    joined = halo_rows(tiles, tile, partitioned, px_cols=px_cols, halo=halo)
    out_cols = list(kernels)
    schema = "image_id string, tile_x int, tile_y int, " + ", ".join(
        f"{oc} array<float>" for oc in out_cols
    )

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            pads = assemble_pads_multi(pdf, t, px_cols, halo=halo)
            out = pdf[["image_id", "tile_x", "tile_y"]].copy()
            for oc, (pc, kernel) in kernels.items():
                p = pads[pc]
                out[oc] = [
                    kernel(p[i]).astype(np.float32).ravel() for i in range(len(pdf))
                ]
            yield out

    return joined.mapInPandas(batch, schema=schema)


def center_kernel(pad: np.ndarray) -> np.ndarray:
    """Identity kernel (returns the unpadded center) — lets a raw band ride
    a fused apply_stencil_multi pass for free (e.g. DEM next to SLOPE)."""
    t = pad.shape[0] - 2
    return pad[1 : t + 1, 1 : t + 1]


def morton_key(x_col, y_col):
    """Z-order (Morton) interleave of two non-negative 32-bit ints into a
    64-bit key as a JVM column expression — the space-filling-curve key for
    at-rest tile layouts: sorting/partitioning tile (or block) tables by
    this key keeps 2-D neighbourhoods in the same file ranges, so stencil
    neighbours co-locate (the north_rule's partition-by-parent-cell idea
    applied to tile grids).  Full 32-bit magic-number spreading — no silent
    truncation for coordinates >= 2^16 (round-4 review fix); pure codegen."""
    import pyspark.sql.functions as F

    def spread(c):
        c = c.cast("long")
        c = c.bitwiseOR(F.shiftleft(c, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
        c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x3333333333333333))
        c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x5555555555555555))
        return c

    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))


# inverse of _DIR_COLS: halo column name -> (dx, dy) sender offset
_COL_DIRS = {v: k for k, v in _DIR_COLS.items()}


def block_cols(tiles: DataFrame, block: int) -> DataFrame:
    """Tag tile rows with their block coords (_bx, _by) and Morton key
    (_bkey).  In-session: repartition on ("image_id", "_bx", "_by") — the
    blocked stencil's groupBy reuses that exchange, so the center payload
    never moves again.  At rest: SORT/range-partition files by _bkey so
    adjacent blocks share file ranges (the space-filling-curve layout)."""
    import pyspark.sql.functions as F

    df = tiles.withColumn("_bx", F.floor(F.col("tile_x") / block).cast("int"))
    df = df.withColumn("_by", F.floor(F.col("tile_y") / block).cast("int"))
    return df.withColumn("_bkey", morton_key("_bx", "_by"))


def apply_stencil_blocked(
    tiles: DataFrame,
    kernels: dict[str, tuple[str, Callable[[np.ndarray], np.ndarray]]],
    tile: int = TILE,
    block: int = 8,
    halo: int = 1,
) -> DataFrame:
    """Block-cooperative stencil — the multi-executor scale design (round-4;
    BASELINE.md's one unmet criterion was the hash-partitioned stencil's
    cross-executor halo traffic).

    Tasks own Morton-ordered BxB tile blocks.  Within a block, neighbour
    halos are plain array slices of the block mosaic — ZERO exchange.  Only
    strips that CROSS a block boundary shuffle, cutting strip traffic by
    ~B x vs per-tile halo exchange (8.3M -> 1.1M floats per 65k-tile pass at
    B=8), and the grouped join disappears entirely: one groupBy on the
    block key feeds an applyInPandas that assembles the (B*T + 2w)^2 mosaic
    and runs the kernel ONCE over the whole block (better kernel locality
    than 64 per-tile calls, same numerics).

    When the input is ALREADY hash-distributed on ("image_id", "_bx",
    "_by") (block_cols + repartition, reused across stencils; bucketed or
    Morton-range-partitioned at rest in a real deployment) Catalyst elides
    the groupBy exchange and the center payload never moves: total traffic
    = cross-block strips only (~1.5% of payload at B=8, w=1).

    Missing tiles inside a block stay NaN in the mosaic — identical border
    semantics to the per-tile path; outputs are emitted only for present
    tiles, so blocked == per-tile bit-for-bit (pinned in
    tests/test_stencil_blocked.py)."""
    import pyspark.sql.functions as F

    t, w, B = tile, halo, block
    px_cols = tuple(dict.fromkeys(pc for pc, _ in kernels.values()))
    nb = len(px_cols)
    out_cols = list(kernels)

    # reuse the caller's block columns when present (block_cols +
    # repartition): recomputing them would mint fresh expression ids, and
    # Catalyst could no longer prove the cogroup's clustering requirement is
    # already satisfied — the center payload would re-shuffle.  Callers that
    # pass _bx/_by MUST have derived them with the same ``block``.
    tagged = (
        tiles if {"_bx", "_by"} <= set(tiles.columns) else block_cols(tiles, B)
    )

    # centers keep their native per-band columns — no concat, no reshape
    centers = tagged.select(
        "image_id", "_bx", "_by", "tile_x", "tile_y", *px_cols
    )

    # cross-block strips: only block-edge tiles can emit one, so prefilter
    # before the 8-way inline explode; then keep exactly the strips whose
    # target lies in another block
    # pmod, not %: Spark's % takes the dividend's sign, so tile_x=-1 with
    # B=8 gives -1 — negative tile coords would silently drop block-edge
    # tiles from the strips exchange (floor-div block ids handle negatives)
    edge = tagged.filter(
        (F.pmod(F.col("tile_x"), B) == 0) | (F.pmod(F.col("tile_x"), B) == B - 1)
        | (F.pmod(F.col("tile_y"), B) == 0) | (F.pmod(F.col("tile_y"), B) == B - 1)
    )
    strips = _strip_rows(
        edge.select("image_id", "tile_x", "tile_y", *px_cols), t, px_cols, w
    )
    # sender coords from the direction name; keep only block-crossing strips
    dx_case = "CASE dir " + " ".join(
        f"WHEN '{c}' THEN {d[0]}" for c, d in _COL_DIRS.items()
    ) + " END"
    dy_case = "CASE dir " + " ".join(
        f"WHEN '{c}' THEN {d[1]}" for c, d in _COL_DIRS.items()
    ) + " END"
    strips = strips.withColumn(
        "_bx", F.floor(F.col("tile_x") / B).cast("int")
    ).withColumn(
        "_by", F.floor(F.col("tile_y") / B).cast("int")
    ).filter(
        (F.floor((F.col("tile_x") - F.expr(dx_case)) / B) != F.col("_bx"))
        | (F.floor((F.col("tile_y") - F.expr(dy_case)) / B) != F.col("_by"))
    ).select(
        "image_id", "_bx", "_by", "tile_x", "tile_y", "dir",
        F.col("strip").alias("data"),
    )

    schema = "image_id string, tile_x int, tile_y int, " + ", ".join(
        f"{oc} array<float>" for oc in out_cols
    )
    seg_edge, seg_corner = w * t, w * w

    def block_fn(key, cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        _img, bx, by = key
        if len(cpdf) == 0:  # strips aimed at an empty block
            return pd.DataFrame(columns=["image_id", "tile_x", "tile_y", *out_cols])
        side = B * t + 2 * w
        mosaics = {c: np.full((side, side), np.nan, dtype=np.float32) for c in px_cols}
        tiles_here: list[tuple[int, int]] = []
        for row in cpdf.itertuples(index=False):
            tyl, txl = row.tile_y - by * B, row.tile_x - bx * B
            Y0, X0 = w + tyl * t, w + txl * t
            tiles_here.append((row.tile_x, row.tile_y))
            for c in px_cols:
                mosaics[c][Y0 : Y0 + t, X0 : X0 + t] = np.asarray(
                    getattr(row, c), dtype=np.float32
                ).reshape(t, t)
        for row in spdf.itertuples(index=False):
            # strip placement around the TARGET tile (same geometry as
            # assemble_pads_multi, in block-mosaic coordinates)
            tyl, txl = row.tile_y - by * B, row.tile_x - bx * B
            Y0, X0 = w + tyl * t, w + txl * t
            d = np.asarray(row.data, dtype=np.float32)
            corner = row.dir in ("h_nw", "h_ne", "h_sw", "h_se")
            seg = seg_corner if corner else seg_edge
            for i, c in enumerate(px_cols):
                part = d[i * seg : (i + 1) * seg]
                mo = mosaics[c]
                if row.dir == "h_top":
                    mo[Y0 - w : Y0, X0 : X0 + t] = part.reshape(w, t)
                elif row.dir == "h_bot":
                    mo[Y0 + t : Y0 + t + w, X0 : X0 + t] = part.reshape(w, t)
                elif row.dir == "h_left":
                    mo[Y0 : Y0 + t, X0 - w : X0] = part.reshape(t, w)
                elif row.dir == "h_right":
                    mo[Y0 : Y0 + t, X0 + t : X0 + t + w] = part.reshape(t, w)
                elif row.dir == "h_nw":
                    mo[Y0 - w : Y0, X0 - w : X0] = part.reshape(w, w)
                elif row.dir == "h_ne":
                    mo[Y0 - w : Y0, X0 + t : X0 + t + w] = part.reshape(w, w)
                elif row.dir == "h_sw":
                    mo[Y0 + t : Y0 + t + w, X0 - w : X0] = part.reshape(w, w)
                else:  # h_se
                    mo[Y0 + t : Y0 + t + w, X0 + t : X0 + t + w] = part.reshape(w, w)
        # kernels run PER TILE over (T+2w)^2 views of the mosaic, not once
        # over the whole block: a B=8 mosaic's temporaries (~8 arrays x
        # 270k floats) spill L2 and run ~5x slower per pixel than the
        # cache-resident tile-sized calls (measured); outputs are identical
        # because the kernels are local.
        out_rows = []
        for tx, ty in tiles_here:
            tyl, txl = ty - by * B, tx - bx * B
            rec = {"image_id": _img, "tile_x": tx, "tile_y": ty}
            for oc, (pc, kernel) in kernels.items():
                pad = mosaics[pc][
                    tyl * t : tyl * t + t + 2 * w, txl * t : txl * t + t + 2 * w
                ]
                rec[oc] = kernel(pad).astype(np.float32).ravel()
            out_rows.append(rec)
        return pd.DataFrame(
            out_rows, columns=["image_id", "tile_x", "tile_y", *out_cols]
        )

    # cogroup, NOT union+groupBy: a Union never preserves children's
    # partitioning, so the grouped exchange would re-shuffle pre-partitioned
    # centers.  CoGroup requires clustering per SIDE — centers already
    # hash-distributed on the block key stay PUT; only the (small) strips
    # side shuffles.
    return (
        centers.groupby("image_id", "_bx", "_by")
        .cogroup(strips.groupby("image_id", "_bx", "_by"))
        .applyInPandas(block_fn, schema=schema)
    )


# ------------------------------------------------------------------ kernels
def slope_kernel(pad: np.ndarray) -> np.ndarray:
    """Slope in degrees from central differences (unit grid spacing).
    NaN borders fall back to one-sided differences via nan-replacement."""
    t = pad.shape[0] - 2
    c = pad[1 : t + 1, 1 : t + 1]
    right = np.where(np.isnan(pad[1 : t + 1, 2 : t + 2]), c, pad[1 : t + 1, 2 : t + 2])
    left = np.where(np.isnan(pad[1 : t + 1, 0:t]), c, pad[1 : t + 1, 0:t])
    down = np.where(np.isnan(pad[2 : t + 2, 1 : t + 1]), c, pad[2 : t + 2, 1 : t + 1])
    up = np.where(np.isnan(pad[0:t, 1 : t + 1]), c, pad[0:t, 1 : t + 1])
    dzdx = (right - left) / 2.0
    dzdy = (down - up) / 2.0
    return np.degrees(np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy)))


def hillshade_kernel_factory(azimuth_deg: float, zenith_deg: float):
    """Standard hillshade from sun azimuth/zenith (broadcast scalars, the
    reference reads them from metadata, optical_product.py:467-501)."""
    az = math.radians(azimuth_deg)
    zen = math.radians(zenith_deg)

    def kernel(pad: np.ndarray) -> np.ndarray:
        t = pad.shape[0] - 2
        c = pad[1 : t + 1, 1 : t + 1]
        right = np.where(np.isnan(pad[1 : t + 1, 2 : t + 2]), c, pad[1 : t + 1, 2 : t + 2])
        left = np.where(np.isnan(pad[1 : t + 1, 0:t]), c, pad[1 : t + 1, 0:t])
        down = np.where(np.isnan(pad[2 : t + 2, 1 : t + 1]), c, pad[2 : t + 2, 1 : t + 1])
        up = np.where(np.isnan(pad[0:t, 1 : t + 1]), c, pad[0:t, 1 : t + 1])
        dzdx = (right - left) / 2.0
        dzdy = (down - up) / 2.0
        slope = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
        aspect = np.arctan2(dzdy, -dzdx)
        hs = np.cos(zen) * np.cos(slope) + np.sin(zen) * np.sin(slope) * np.cos(az - aspect)
        return np.clip(hs, 0.0, 1.0)

    return kernel


def lee_kernel_factory(noise_var: float = 25.0):
    """Lee 3x3 speckle filter (Refined-Lee analog of the SNAP graph):
    out = mean + var/(var+noise_var) * (px - mean), 3x3 nan-aware stats."""

    def kernel(pad: np.ndarray) -> np.ndarray:
        t = pad.shape[0] - 2
        stack = np.stack(
            [pad[1 + dy : 1 + dy + t, 1 + dx : 1 + dx + t] for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
        )
        with np.errstate(invalid="ignore"):
            mean = np.nanmean(stack, axis=0)
            var = np.nanvar(stack, axis=0)
        c = pad[1 : t + 1, 1 : t + 1]
        w = var / (var + noise_var)
        return mean + w * (c - mean)

    return kernel


def _fill_along_rows(a: np.ndarray, limit: int) -> np.ndarray:
    """NaN fill along axis 1 (forward then backward, each capped at
    ``limit``) — the numpy core shared by gap_fill_x / gap_fill_xy."""
    t, n = a.shape
    out = a.copy()
    for direction in (1, -1):
        arr = out[:, ::direction]
        idx = np.arange(n)
        valid = ~np.isnan(arr)
        # index of most recent valid column per position (per row)
        last = np.where(valid, idx[None, :], -1)
        last = np.maximum.accumulate(last, axis=1)
        dist = idx[None, :] - last
        can = (last >= 0) & (dist > 0) & (dist <= limit)
        rows = np.nonzero(can & np.isnan(arr))
        arr[rows] = arr[rows[0], last[rows]]
        out[:, ::direction] = arr
    return out


def _gap_fill(
    tiles: DataFrame, fill: Callable[[np.ndarray], np.ndarray], tile: int, px_col: str
) -> DataFrame:
    schema = f"image_id string, tile_x int, tile_y int, {px_col} array<float>"

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            pdf[px_col] = [
                fill(np.asarray(px, dtype=np.float32).reshape(tile, tile)).ravel()
                for px in pdf[px_col]
            ]
            yield pdf[["image_id", "tile_x", "tile_y", px_col]]

    return tiles.mapInPandas(batch, schema=schema)


def gap_fill_x(tiles: DataFrame, limit: int = 10, tile: int = TILE, px_col: str = "px") -> DataFrame:
    """W4 NaN gap-fill along x (forward then backward, each capped at
    ``limit``), tile-local — the reference's interpolate_na(dim=x, limit=10)
    with retry on the reversed index (sar_product.py:1344-1358).
    Gaps spanning a tile boundary are filled up to the boundary (documented
    divergence; reference operates on the whole array)."""
    return _gap_fill(tiles, lambda a: _fill_along_rows(a, limit), tile, px_col)


def gap_fill_xy(
    tiles: DataFrame, limit: int = 10, tile: int = TILE, px_col: str = "px"
) -> DataFrame:
    """W4 full parity: the reference fills along y FIRST, then x
    (sar_product.py:1383-1384, 1457-1458 — `interp_na(arr, dim="y");
    interp_na(arr, dim="x")`), each direction forward with a reversed-index
    retry.  Same tile-local divergence note as gap_fill_x."""

    def fill(a: np.ndarray) -> np.ndarray:
        a = _fill_along_rows(a.T, limit).T  # y first
        return _fill_along_rows(a, limit)   # then x

    return _gap_fill(tiles, fill, tile, px_col)


def slope(
    dem_tiles: DataFrame,
    tile: int = TILE,
    partitioned: bool = False,
    block: int | None = None,
) -> DataFrame:
    """W2: dem tile rows (px = z) -> slope degrees.  Vectorized numpy kernel
    over the numpy-assembled pad (strips-only shuffle, see halo_rows; the
    tile and its flat halo cross Arrow once — with the 512-row Arrow batches
    set in session.py this is the fastest measured configuration, BENCH.md).
    ``block=B`` routes through the block-cooperative path (multi-executor
    scale design; bit-identical outputs)."""
    if block:
        return apply_stencil_blocked(
            dem_tiles, {"px": ("px", slope_kernel)}, tile=tile, block=block
        )
    return apply_stencil(dem_tiles, slope_kernel, tile=tile, partitioned=partitioned)


def hillshade(
    dem_tiles: DataFrame,
    azimuth_deg: float,
    zenith_deg: float,
    tile: int = TILE,
    partitioned: bool = False,
) -> DataFrame:
    """W1: dem tile rows -> hillshade [0,1] (numpy kernel, JVM halo path)."""
    return apply_stencil(
        dem_tiles, hillshade_kernel_factory(azimuth_deg, zenith_deg),
        tile=tile, partitioned=partitioned,
    )


def refined_lee_kernel_factory(num_looks: float = 4.0):
    """Refined Lee 7x7 edge-directed speckle filter — the reference's actual
    despeckle graph is filter "Refined Lee"
    (/root/reference/eoreader/data/sar_despeckle_default.xml, runner
    sar_product.py:1251-1308, executed by SNAP).  Re-derived from the
    published algorithm (J.S. Lee 1981, "Refined filtering of image noise
    using local statistics"); orientation/tie conventions are this engine's
    own and documented below, NOT copied from SNAP:

      1. the 7x7 window's 3x3 sub-area means m[j][i] (block centers at
         offsets -2/0/+2) feed 4 edge-axis gradients
           g0=|m[1][0]-m[1][2]| (vertical edge), g1=|m[0][2]-m[2][0]|
           (main-diagonal edge), g2=|m[0][1]-m[2][1]| (horizontal edge),
           g3=|m[0][0]-m[2][2]| (anti-diagonal edge);
         the axis with the largest gradient wins (first wins ties).
      2. of the axis's two half-windows (28 pixels each, diagonal halves
         include the diagonal), keep the side whose sub-mean proxy is
         CLOSER to the center sub-mean m[1][1] (ties -> first side) — the
         non-edge area containing the center pixel.
      3. Lee MMSE weighting over the 28 selected pixels with multiplicative
         speckle: varX = (varY - meanY^2*sv2) / (1 + sv2), sv2 = 1/ENL;
         b = clamp(varX/varY, 0, 1); out = meanY + b*(center - meanY);
         flat windows (varY <= 0) pass meanY through.

    Windows touching NaN (image borders) fall back to the nan-aware 7x7
    mean — the valid-pixels-only degradation of the published filter.
    All sums are exact in float64 for integer-valued DN inputs, so outputs
    are bit-reproducible across engines (the oracle replays this closed
    form in SQL).
    """
    sv2 = 1.0 / float(num_looks)

    # half-window membership over (dy, dx) in [-3,3]^2; diagonal halves
    # include their diagonal (28 px each, all containing the center)
    offs = [(dy, dx) for dy in range(-3, 4) for dx in range(-3, 4)]
    temp = {
        ("0A"): [(dy, dx) for dy, dx in offs if dx <= 0],   # left,  proxy m[1][0]
        ("0B"): [(dy, dx) for dy, dx in offs if dx >= 0],   # right, proxy m[1][2]
        ("1A"): [(dy, dx) for dy, dx in offs if dx >= dy],  # top-right,  m[0][2]
        ("1B"): [(dy, dx) for dy, dx in offs if dx <= dy],  # bottom-left, m[2][0]
        ("2A"): [(dy, dx) for dy, dx in offs if dy <= 0],   # top,    m[0][1]
        ("2B"): [(dy, dx) for dy, dx in offs if dy >= 0],   # bottom, m[2][1]
        ("3A"): [(dy, dx) for dy, dx in offs if dx + dy <= 0],  # top-left, m[0][0]
        ("3B"): [(dy, dx) for dy, dx in offs if dx + dy >= 0],  # bot-right, m[2][2]
    }

    def kernel(pad: np.ndarray) -> np.ndarray:
        w = 3
        t = pad.shape[0] - 2 * w
        p = pad.astype(np.float64)

        def sh(dy: int, dx: int) -> np.ndarray:
            return p[w + dy : w + dy + t, w + dx : w + dx + t]

        # 3x3 sub-area means on block centers (-2, 0, 2)
        m = {}
        for jj, cy in enumerate((-2, 0, 2)):
            for ii, cx in enumerate((-2, 0, 2)):
                s = sum(sh(cy + a, cx + b) for a in (-1, 0, 1) for b in (-1, 0, 1))
                m[(jj, ii)] = s / 9.0
        g = np.stack([
            np.abs(m[(1, 0)] - m[(1, 2)]),
            np.abs(m[(0, 2)] - m[(2, 0)]),
            np.abs(m[(0, 1)] - m[(2, 1)]),
            np.abs(m[(0, 0)] - m[(2, 2)]),
        ])
        axis = np.argmax(g, axis=0)  # first max wins ties (np.argmax semantics)
        proxies = {
            0: (m[(1, 0)], m[(1, 2)]), 1: (m[(0, 2)], m[(2, 0)]),
            2: (m[(0, 1)], m[(2, 1)]), 3: (m[(0, 0)], m[(2, 2)]),
        }
        # per-template sums / sums of squares (28 shifted adds each)
        S = {}
        SS = {}
        for key, cells in temp.items():
            s = np.zeros_like(sh(0, 0))
            ss = np.zeros_like(s)
            for dy, dx in cells:
                v = sh(dy, dx)
                s = s + v
                ss = ss + v * v
            S[key], SS[key] = s, ss
        c = sh(0, 0)
        sum_sel = np.zeros_like(c)
        ssq_sel = np.zeros_like(c)
        for k in range(4):
            pa, pb = proxies[k]
            use_b = np.abs(pb - m[(1, 1)]) < np.abs(pa - m[(1, 1)])
            on_axis = axis == k
            for side, mask in (("A", on_axis & ~use_b), ("B", on_axis & use_b)):
                keyk = f"{k}{side}"
                sum_sel = np.where(mask, S[keyk], sum_sel)
                ssq_sel = np.where(mask, SS[keyk], ssq_sel)
        mean_y = sum_sel / 28.0
        var_y = ssq_sel / 28.0 - mean_y * mean_y
        with np.errstate(invalid="ignore", divide="ignore"):
            var_x = (var_y - mean_y * mean_y * sv2) / (1.0 + sv2)
            b = np.clip(var_x / var_y, 0.0, 1.0)
        out = np.where(var_y > 0, mean_y + b * (c - mean_y), mean_y)
        # border fallback: any NaN in the 7x7 window -> nan-aware window mean
        win = np.stack([sh(dy, dx) for dy, dx in offs])
        has_nan = np.isnan(win).any(axis=0)
        if has_nan.any():
            with np.errstate(invalid="ignore"):
                nanmean = np.nanmean(win, axis=0)
            out = np.where(has_nan, nanmean, out)
        return out

    return kernel


def despeckle(
    band_tiles: DataFrame,
    noise_var: float = 25.0,
    tile: int = TILE,
    partitioned: bool = False,
    method: str = "refined_lee",
    num_looks: float = 4.0,
) -> DataFrame:
    """W3: VV -> VV_DSPK.  ``method='refined_lee'`` (default — matches the
    reference's SNAP graph, data/sar_despeckle_default.xml) runs the 7x7
    edge-directed filter over a width-3 halo; ``method='lee'`` keeps the
    plain Lee 3x3 (noise_var additive model)."""
    if method == "refined_lee":
        return apply_stencil(
            band_tiles, refined_lee_kernel_factory(num_looks),
            tile=tile, partitioned=partitioned, halo=3,
        )
    if method == "lee":
        return apply_stencil(
            band_tiles, lee_kernel_factory(noise_var), tile=tile, partitioned=partitioned
        )
    raise ValueError(f"unknown despeckle method: {method!r}")
