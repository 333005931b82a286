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
explicit.  Every tile emits nine (image_id, tile_x, tile_y, role, payload)
rows, all JVM-side: its own pixels (role 0) and its 8 edge strips (roles
1-8), each keyed by the neighbour that needs it.  ONE hash exchange on the
tile key brings a tile's center and the strips sent to it into one
partition, a sort within partitions makes them adjacent, and ONE mapInArrow
pass writes each (T+2w)^2 pad with vectorised numpy and runs the kernels —
no aggregate and no join.  Strips add 4 edges + 4 corners per tile (~4*T+4
floats ≈ 6% of a 64^2 tile, ~0.4% of a 1024^2 production tile) and the
center payload crosses the exchange once.  ``partitioned=True`` (a tile
table hash-distributed on the tile key at rest) keeps the center off the
exchange entirely: only the strips move, and a co-partitioned join hands
them to the centers (see halo_rows for why that regime needs the join).
Image borders pad with NaN and kernels use nan-aware reductions, matching
xarray edge semantics.  Every stencil here runs these per-tile plans: a
Morton-block cogroup plan that shuffles only block-boundary strips measured
4-5x slower at both cluster sizes (BENCH.md "One stencil path").
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from eoreader_spark.datagen import TILE

# (dx, dy) -> which strip of THIS tile the neighbour at (dx,dy) needs
_DIRS = [(-1, -1), (0, -1), (1, -1), (-1, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]

# role r of a payload row -> the direction (dx, dy) it travelled: role 0 is
# the tile's own center, roles 1-8 the strips of _DIRS in order
_ROLES = [(0, 0), *_DIRS]

_KEY = ["image_id", "tile_x", "tile_y"]

# array<float> as Spark names it in Arrow.  Every output batch is built
# against one explicit schema: the Arrow stream a task writes back takes
# only batches of the schema its first batch had
_F32_LIST = pa.list_(pa.field("element", pa.float32()))


def _span(d: int, t: int, w: int) -> slice:
    """Pad rows (d = dy) or columns (d = dx) that a payload which travelled
    d fills.  The neighbour at (tx+dx, ty+dy) receives the sender's edge
    FACING it, which lands on the OPPOSITE border of the receiver's padded
    array: dx=+1 (sender's rightmost columns) -> pad x in [0, w)."""
    return {1: slice(0, w), 0: slice(w, w + t), -1: slice(t + w, t + 2 * w)}[d]


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
    tiles: DataFrame,
    tile: int,
    px_cols: tuple[str, ...] = ("px",),
    halo: int = 1,
    center: bool = False,
) -> DataFrame:
    """(image_id, tile_x, tile_y, role, payload) rows, entirely JVM-side:
    each tile's 8 edge strips keyed by the neighbour that receives them
    (roles 1-8) and, with ``center``, the tile's own pixels (role 0).  With
    several px columns each payload is the per-band strips CONCATENATED in
    px_cols order — bands share ONE exchange instead of one per band."""
    import pyspark.sql.functions as F

    per_col = {c: {(0, 0): c, **_strip_exprs(tile, c, halo)} for c in px_cols}

    def payload(d: tuple[int, int]) -> str:
        parts = [per_col[c][d] for c in px_cols]
        return parts[0] if len(parts) == 1 else "concat(" + ", ".join(parts) + ")"

    structs = ", ".join(
        f"named_struct('tile_x', tile_x + {dx}, 'tile_y', tile_y + {dy},"
        f" 'role', cast({r} as tinyint), 'payload', {payload((dx, dy))})"
        for r, (dx, dy) in enumerate(_ROLES)
        if center or r
    )
    return tiles.select("image_id", F.expr(f"inline(array({structs}))"))


def halo_rows(
    tiles: DataFrame,
    tile: int = TILE,
    partitioned: bool = False,
    px_cols: tuple[str, ...] = ("px",),
    halo: int = 1,
) -> DataFrame:
    """The rows the kernel pass reads; ``halo`` is the strip width w (3 for
    the 7x7 refined Lee).

    Default: every tile's center and strip rows (see _strip_rows) in ONE
    ``repartition`` on the tile key, sorted within partitions so a tile's
    rows are adjacent for the Arrow pass.  The repartition is load-bearing
    twice over: it is the one exchange that meets a tile with its halo, and
    it fans the compute-heavy kernel pass out to spark.sql.shuffle.partitions
    tasks — a tile table at rest often has far fewer input splits than cores
    (the r5 landmine).  An r9 experiment that broadcast the halo instead ran
    the kernel at input-split parallelism (8 tasks on a 32-core box) and was
    net slower.

    ``partitioned=True`` (tiles hash-distributed on the tile key at rest,
    e.g. bucketed): (key, px..., halo) rows, where ``halo`` collects the
    strips sent to the tile as array<struct<role, payload>> (NULL for a tile
    with no neighbours), left-joined to the centers.  This regime keeps the
    join because nothing above a plain union + mapInArrow requires a
    distribution: Spark then disables the bucketed scan and the union only
    concatenates partitions, so a tile's center and its strips would not
    meet and the halos would silently be wrong.  The join requires the
    tile-key distribution, which the bucketed centers already satisfy, so
    only the strips move.  A grouped applyInArrow over the union stayed
    correct but exchanged the union again and ran slower than the join."""
    import pyspark.sql.functions as F

    if not partitioned:
        rows = _strip_rows(tiles, tile, px_cols, halo, center=True)
        return rows.repartition(*_KEY).sortWithinPartitions(*_KEY)
    strips = _strip_rows(tiles, tile, px_cols, halo)
    halos = strips.groupBy(*_KEY).agg(
        F.collect_list(F.struct("role", "payload")).alias("halo")
    )
    return tiles.select(*_KEY, *px_cols).join(halos, _KEY, "left")


def _fill_pads(
    pads: list[np.ndarray],
    payload: pa.ListArray,
    rows: np.ndarray,
    dest: np.ndarray,
    role: np.ndarray,
    t: int,
    w: int,
) -> None:
    """Write payload rows ``rows`` into pads ``dest`` at the border their
    ``role`` names: one vectorised numpy write per role and band.  Each
    payload holds one block per pad in ``pads``, concatenated in order.  A
    role's rows are gathered through a strided window view of the values,
    so no index array as large as the block is built."""
    vals = payload.values.to_numpy(zero_copy_only=False)
    off = payload.offsets.to_numpy()[rows]
    for r in np.unique(role):
        dx, dy = _ROLES[r]
        ys, xs = _span(dy, t, w), _span(dx, t, w)
        h, wd = ys.stop - ys.start, xs.stop - xs.start
        sel = role == r
        block = np.lib.stride_tricks.sliding_window_view(vals, len(pads) * h * wd)[off[sel]]
        block = block.reshape(-1, len(pads), h, wd)
        for b, p in enumerate(pads):
            p[dest[sel], ys, xs] = block[:, b]


def _role_pads(
    rb: pa.RecordBatch, new: np.ndarray, nb: int, t: int, w: int
) -> tuple[np.ndarray, list[np.ndarray]]:
    """(center row indices, per-band pads) of the tiles in a batch of
    key-sorted role rows; ``new`` flags each row that starts a tile key.
    Keys with no center row are strips addressed to tiles that do not
    exist, and are dropped."""
    role = rb.column("role").to_numpy()
    gid = np.cumsum(new) - 1
    centers = np.flatnonzero(role == 0)
    slot = np.full(gid[-1] + 1, -1)
    slot[gid[centers]] = np.arange(len(centers))
    dest = slot[gid]
    rows = np.flatnonzero(dest >= 0)
    n, s = len(centers), t + 2 * w
    pads = [np.full((n, s, s), np.nan, dtype=np.float32) for _ in range(nb)]
    _fill_pads(pads, rb.column("payload"), rows, dest[rows], role[rows], t, w)
    return centers, pads


def _joined_pads(
    rb: pa.RecordBatch, px_cols: tuple[str, ...], t: int, w: int
) -> list[np.ndarray]:
    """Per-band pads of a batch of (key, px..., halo) rows (the
    ``partitioned=True`` join)."""
    n, s = rb.num_rows, t + 2 * w
    pads = [np.full((n, s, s), np.nan, dtype=np.float32) for _ in px_cols]
    every, zero = np.arange(n), np.zeros(n, dtype=np.int64)
    for p, c in zip(pads, px_cols):
        _fill_pads([p], rb.column(c), every, every, zero, t, w)
    halo = rb.column("halo")
    role, payload = pc.list_flatten(halo).flatten()
    dest = pc.list_parent_indices(halo).to_numpy()
    _fill_pads(pads, payload, np.arange(len(dest)), dest, role.to_numpy(), t, w)
    return pads


def _f32_lists(arrays: list[np.ndarray]) -> pa.ListArray:
    offsets = np.zeros(len(arrays) + 1, dtype=np.int32)
    np.cumsum([len(a) for a in arrays], out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(np.concatenate(arrays)), type=_F32_LIST
    )


def _kernel_batch(
    keys: list[pa.Array],
    pads: list[np.ndarray],
    kernels: dict[str, tuple[str, Callable[[np.ndarray], np.ndarray]]],
    px_cols: tuple[str, ...],
) -> pa.RecordBatch:
    """Run every kernel on each tile's 2-D pad and build the output batch
    against an explicit schema, so every batch of a task has the same one."""
    image_id, tile_x, tile_y = keys
    fields = [pa.field("image_id", image_id.type),
              pa.field("tile_x", pa.int32()), pa.field("tile_y", pa.int32())]
    arrays = [image_id, tile_x.cast(pa.int32()), tile_y.cast(pa.int32())]
    for oc, (px_col, kernel) in kernels.items():
        p = pads[px_cols.index(px_col)]
        arrays.append(_f32_lists(
            [kernel(p[i]).astype(np.float32).ravel() for i in range(len(p))]
        ))
        fields.append(pa.field(oc, _F32_LIST))
    return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))


def _key_starts(rb: pa.RecordBatch) -> np.ndarray:
    """Flags the rows of a key-sorted batch that start a new tile key."""
    cols = [rb.column(k).to_numpy(zero_copy_only=False) for k in _KEY]
    new = np.ones(rb.num_rows, dtype=bool)
    new[1:] = np.logical_or.reduce([c[1:] != c[:-1] for c in cols])
    return new


def apply_stencil(
    tiles: DataFrame,
    kernel: Callable[[np.ndarray], np.ndarray],
    tile: int = TILE,
    partitioned: bool = False,
    halo: int = 1,
) -> DataFrame:
    """Generic halo stencil with a PYTHON kernel (X3 extension point):
    kernel((T+2w,T+2w) padded) -> (T,T) over the ``px`` band.  The
    one-kernel case of apply_stencil_multi: one exchange of center and
    strip rows, and the pad assembles in numpy inside the one Arrow pass
    (see halo_rows).  ``halo``=1 serves 3x3 kernels, 3 the 7x7 refined
    Lee."""
    return apply_stencil_multi(
        tiles, {"px": ("px", kernel)}, tile=tile, partitioned=partitioned, halo=halo
    )


def apply_stencil_multi(
    tiles: DataFrame,
    kernels: dict[str, tuple[str, Callable[[np.ndarray], np.ndarray]]],
    tile: int = TILE,
    partitioned: bool = False,
    halo: int = 1,
) -> DataFrame:
    """Several stencil kernels over several bands in ONE pass: kernels maps
    out_col -> (px_col, kernel).  All bands share one exchange and one
    mapInArrow pass — the fused form the loader uses for
    SLOPE+HILLSHADE(+DEM) over one DEM and for multi-band despeckle,
    instead of one exchange per output (the round-2 VERDICT #2
    join-per-thing anti-pattern, killed for stencils too).

    The Arrow pass reads halo_rows' key-sorted role rows.  A tile's rows
    can straddle two Arrow batches, so each batch's last tile key is carried
    into the next one (the carry never holds more than one tile).  Each
    kernel still runs per tile on its 2-D pad: a kernel stacked over the
    batch's (n, T+2w, T+2w) pads gained nothing at 178 tiles of 64^2."""
    t, w = tile, halo
    px_cols = tuple(dict.fromkeys(px for px, _ in kernels.values()))
    rows = halo_rows(tiles, tile, partitioned, px_cols=px_cols, halo=halo)
    schema = "image_id string, tile_x int, tile_y int, " + ", ".join(
        f"{oc} array<float>" for oc in kernels
    )

    def joined(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            if rb.num_rows:
                keys = [rb.column(k) for k in _KEY]
                yield _kernel_batch(keys, _joined_pads(rb, px_cols, t, w), kernels, px_cols)

    def emit(rb: pa.RecordBatch, new: np.ndarray) -> Iterator[pa.RecordBatch]:
        centers, pads = _role_pads(rb, new, len(px_cols), t, w)
        if len(centers):  # a batch can hold only strips of missing tiles
            keys = [rb.column(k).take(centers) for k in _KEY]
            yield _kernel_batch(keys, pads, kernels, px_cols)

    def sorted_roles(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry = None
        for rb in it:
            if carry is not None:
                rb = pa.Table.from_batches([carry, rb]).combine_chunks().to_batches()[0]
            if not rb.num_rows:
                continue
            new = _key_starts(rb)
            last = int(np.flatnonzero(new)[-1])
            carry = rb.slice(last)
            if last:
                yield from emit(rb.slice(0, last), new[:last])
        if carry is not None:
            yield from emit(carry, _key_starts(carry))

    return rows.mapInArrow(joined if partitioned else sorted_roles, schema)


def center_kernel(pad: np.ndarray) -> np.ndarray:
    """Identity kernel (returns the unpadded center) — lets a raw band ride
    a fused apply_stencil_multi pass for free (e.g. DEM next to SLOPE)."""
    t = pad.shape[0] - 2
    return pad[1 : t + 1, 1 : t + 1]


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
) -> DataFrame:
    """W2: dem tile rows (px = z) -> slope degrees.  Vectorized numpy kernel
    over the numpy-assembled pad (one exchange of center and strip rows,
    see halo_rows; each row crosses Arrow once).  ``partitioned=True``
    skips the center exchange for tile tables already hash-distributed on
    the tile key (bucketed at rest)."""
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
