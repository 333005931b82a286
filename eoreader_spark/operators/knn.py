"""kNN spatial lookup: H3 k-ring expansion + distance-bounded refine + top-k.

Reference: Sentinel-3 swath geocoding resamples with a nearest-neighbour /
bilinear lookup within a bounded radius (pyresample XArrayResamplerNN,
/root/reference/eoreader/products/optical/s3_product.py:584-683).

Spark-first (north_star): queries expand to their k-ring of cells, equi-join
candidate points on cell, compute the distance JVM-side (built-in column
math, codegen'd — no UDF in the hot path), and keep top-k per query with a
rank window.  Ties broken by point id for bit-for-bit determinism.

Exactness: a query is RESOLVED by the ring pass iff it found >= k candidates
and its k-th scaled distance is under the ring guarantee radius
(k_cells * cell_extent * cos(lat) — any point outside the ring is at least
that far).  The unresolved residue (a plain, non-broadcast left_anti join —
at 10^12 queries a broadcast of the resolved-id set would OOM the driver)
goes through ONE full-cover pass at a coarse resolution, which is exact by
construction because every point is a candidate.  No brute-force pass and no
driver broadcast of an unbounded residue exist on this path, under any point
distribution.  At 1000-executor scale the ring pass touches only k-ring
cells per query — no global shuffle of the points table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eoreader_spark import cells


def _scaled_d2(
    qlon: Column, qlat: Column, plon: Column, plat: Column, coslat: bool = True
) -> Column:
    """Squared equirectangular distance in degrees, lon wrapped at the
    antimeridian, optionally scaled by cos(query lat).  Monotone in true
    distance at scene scale; pure JVM column math (whole-stage codegen).
    ``coslat=False`` gives a plain degree metric built only from exactly
    rounded IEEE ops (+,-,*,abs,least) — bit-identical across engines/libms,
    used where results must match an external SQL oracle."""
    dlon = F.abs(plon - qlon)
    dlon = F.least(dlon, F.lit(360.0) - dlon)
    if coslat:
        dlon = dlon * F.cos(F.radians(qlat))
    dlat = plat - qlat
    return dlon * dlon + dlat * dlat


def _topk(cand: DataFrame, q_id: str, p_id: str, k: int) -> DataFrame:
    w = Window.partitionBy(q_id).orderBy(F.col("dist").asc(), F.col(p_id).asc())
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_brute(
    queries: DataFrame, points: DataFrame, k: int = 5,
    q_id: str = "query_id", p_id: str = "image_id", coslat: bool = True,
) -> DataFrame:
    """Broadcast brute force over every (query, point) pair — the reference
    the exactness tests compare knn_join against."""
    q = queries.select(q_id, F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
    p = points.select(p_id, "lon", "lat")
    cand = F.broadcast(q).crossJoin(p).withColumn(
        "dist", _scaled_d2(F.col("qlon"), F.col("qlat"), F.col("lon"), F.col("lat"), coslat)
    )
    return _topk(cand, q_id, p_id, k).select(q_id, p_id, "dist", "rank")


def _ring_pass(
    q: DataFrame,
    p: DataFrame,
    k: int,
    res: int,
    k_cells: int,
    q_id: str,
    p_id: str,
    coslat: bool,
    full_cover: bool = False,
) -> DataFrame:
    """One k-ring equi-join pass.  q carries a precomputed qcell column.
    -> exact top-k rows for resolved queries.

    ``full_cover=True`` marks a ring that already spans the whole grid: every
    point is then a candidate, so the top-k is exact by construction and the
    guarantee-radius test (and the >=k-hits test — a table with < k points
    can never satisfy it) is skipped."""
    # JVM ring expansion (cells.k_ring_expr == cells.k_ring, parity-tested):
    # with encode_expr this makes the whole ring pass Python-free.
    # r9: ops folded — every DataFrame call triggers a JVM analysis pass over
    # the accumulated plan (measured: the two-phase build spent ~0.5s in py4j
    # round-trips), so the explode rides the projection, the distance rides
    # the window/select, and both resolution windows share one select.
    qx = q.select(
        q_id,
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
        F.explode(cells.k_ring_expr("qcell", res, k_cells)).alias("cand_cell"),
    )
    cand = qx.join(p.withColumnRenamed("pcell", "cand_cell"), "cand_cell")
    dist = _scaled_d2(F.col("qlon"), F.col("qlat"), F.col("lon"), F.col("lat"), coslat)
    w = Window.partitionBy(q_id).orderBy(dist.asc(), F.col(p_id).asc())
    ranked = cand.select(
        q_id, "qlat", p_id, dist.alias("dist"), F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= k)
    if full_cover:
        return ranked.select(q_id, p_id, "dist", "rank")

    # resolution test: k-th hit inside the guarantee radius of the ring —
    # computed with plain window functions over the already-partitioned
    # ranked rows (no extra aggregate exchange; reuses the rank window's
    # partitioning)
    cell_deg = 180.0 / (1 << res)
    g = F.lit(float(k_cells) * cell_deg)
    if coslat:
        g = g * F.cos(F.radians(F.col("qlat")))
    guarantee = g * g
    wq = Window.partitionBy(q_id)
    is_resolved = (F.count(F.lit(1)).over(wq) >= k) & (
        F.max("dist").over(wq) < guarantee
    )
    return (
        ranked.select(q_id, p_id, "dist", "rank", is_resolved.alias("_ok"))
        .filter(F.col("_ok"))
        .select(q_id, p_id, "dist", "rank")
    )


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    res: int = 7,
    k_cells: int = 1,
    q_id: str = "query_id",
    p_id: str = "image_id",
    coslat: bool = True,
) -> DataFrame:
    """queries(q_id, lon, lat) x points(p_id, lon, lat) -> exact top-k per
    query: (q_id, p_id, dist, rank 1..k).

    Two passes, ONE consumer action and zero driver probes.  Pass 1 is the
    k_cells ring at ``res`` (persisted, so its plan executes once although
    both the residue anti-join and the union read it).  Pass 2 is a lazy
    full-cover pass over the anti-join residue: every point is a candidate,
    so it is exact under any point distribution.  It runs at the coarse
    resolution ``min(res, 3)`` (<= 128 cells): a full-cover ring at ``res``
    would explode each leftover query into all nx*ny cells (32k at res=7,
    524k at res=9).  When pass 1 resolves every query — the common case —
    AQE's empty-relation propagation collapses pass 2 at runtime."""
    # single-select projections (r9 op folding — see _ring_pass note)
    q = queries.select(
        q_id, "lon", "lat", cells.encode_expr("lon", "lat", res).alias("qcell")
    )
    p = points.select(
        p_id, "lon", "lat", cells.encode_expr("lon", "lat", res).alias("pcell")
    )
    # a Chebyshev ring of radius 1 << res spans all 2 << res columns
    full1 = k_cells >= 1 << res
    exact1 = _ring_pass(q, p, k, res, k_cells, q_id, p_id, coslat, full1)
    if full1:
        return exact1
    # NB: intentionally not unpersisted — the returned lazy plan references
    # the cache; the ContextCleaner reclaims the blocks when the consumer
    # releases the DataFrame
    exact1 = exact1.persist()
    resolved = exact1.select(q_id).distinct()
    # NO broadcast of the resolved set: it is query-scale; Spark picks the
    # join strategy by its own stats (AQE) instead of a driver-side collect
    remaining = q.join(resolved, q_id, "left_anti")
    r2 = min(res, 3)
    q2 = remaining.select(
        q_id, "lon", "lat", cells.encode_expr("lon", "lat", r2).alias("qcell")
    )
    p2 = p.select(
        p_id, "lon", "lat", cells.encode_expr("lon", "lat", r2).alias("pcell")
    )
    exact2 = _ring_pass(q2, p2, k, r2, 1 << r2, q_id, p_id, coslat, True)
    return exact1.unionByName(exact2)
