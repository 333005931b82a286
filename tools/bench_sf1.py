"""sf1 scale-ratio bench (round-6 VERDICT #8): run the engine's headline
stages at sf0.1-equivalent AND 10x (sf1: 20k images / ~110k tiles / 50k
docs) on the SAME session and report throughput at both, plus the ratio
large_rate / small_rate.  A healthy (linear or better-amortized) stage
holds a ratio near 1; a hidden O(n^2) collapses it — the candidates the
sf0.1 bench cannot see are the dedup/winnow self-joins and the JP2/scan
descriptor paths.

Usage:  python tools/bench_sf1.py [n_images] [n_docs]   (defaults 20000, 50000)
Prints ONE JSON line.  Nightly/cluster lane — ~3-6 min; run on a QUIET box
(kill stray JVMs first), best-of is the caller's job.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from eoreader_spark import datagen  # noqa: E402
from eoreader_spark.operators import assign, dedup, stencil  # noqa: E402
from eoreader_spark.session import get_spark  # noqa: E402
from eoreader_spark.sources import pyscan  # noqa: E402


def run_scale(spark, workdir: str, n_images: int, n_docs: int) -> dict:
    t: dict[str, float] = {}
    rates: dict[str, float] = {}

    t0 = time.perf_counter()
    datagen.gen_images(spark, n_images, partitions=max(32, n_images // 256)).write.mode(
        "overwrite"
    ).parquet(f"{workdir}/images.parquet")
    t["gen_write_images"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    pyscan.index_stats_scan(
        spark, f"{workdir}/images.parquet", ["NDVI", "NDWI", "EVI"]
    ).count()
    t["index_stats"] = time.perf_counter() - t0
    rates["images_per_sec"] = n_images / t["index_stats"]

    t0 = time.perf_counter()
    tiles = datagen.gen_tiles(spark, n_images).persist()
    n_tiles = tiles.count()
    n_assign = assign.assign_tiles(tiles, datagen.gen_aoi(spark, n_images)).count()
    t["tile_assign"] = time.perf_counter() - t0
    tiles.unpersist()
    rates["tiles_per_sec"] = n_tiles / t["tile_assign"]

    n_dem = max(50, n_images // 8)
    datagen.gen_dem(spark, n_dem).write.mode("overwrite").parquet(
        f"{workdir}/dem.parquet"
    )
    dem = spark.read.parquet(f"{workdir}/dem.parquet").withColumnRenamed("z", "px")
    t0 = time.perf_counter()
    n_stencil = stencil.slope(dem).count()
    t["dem_slope"] = time.perf_counter() - t0
    rates["stencil_tiles_per_sec"] = n_stencil / t["dem_slope"]

    # --- dedup family on synthesized documents (the self-join risks) ---
    docs = datagen.gen_documents(spark, n_docs).persist()
    docs.count()

    t0 = time.perf_counter()
    dedup.exact_dedup(docs).count()
    t["dedup_exact"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    dedup.minhash_lsh_pairs(docs, n_hashes=32, bands=8).count()
    t["minhash_lsh"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    # k=12 (plagiarism-detection regime): prints are 12-char windows, so
    # cross-doc collisions need REAL shared substrings; k=5 on word-salad
    # text floods the self-join with mid-df prints (measured: 12.3M pair
    # rows at 5k docs vs 4.8k here, identical planted-dup recall)
    dedup.winnow_pairs(docs, k=12, w=8).count()
    t["winnow"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    # ABSOLUTE cap, same value at every scale (round-7 fix: the previous
    # n_docs*0.02 fraction re-introduced the O((f*n)^2) regime the round-6
    # winnow fix removed — the leg must measure the production shape,
    # where per-key fanout is bounded independent of corpus size)
    dedup.ngram_jaccard(docs, max_df=512).count()
    t["ngram_jaccard"] = time.perf_counter() - t0

    docs.unpersist()
    for k in ("dedup_exact", "minhash_lsh", "winnow", "ngram_jaccard"):
        rates[f"{k}_docs_per_sec"] = n_docs / t[k]

    # --- iterative / ANN family (round-7 VERDICT #3): operators whose
    # scale behavior is governed by kNN residue size and bucket occupancy,
    # which the decode/assign/stencil/dedup stages above cannot see ---
    from pyspark.sql import functions as F

    from eoreader_spark.operators import dedup as _dd
    from eoreader_spark.operators import knn, similarity, warp

    # knn_join: fixed query count, corpus scales — residue size must not
    n_q = 256
    pts = datagen.gen_scenes(spark, n_images).select("image_id", "lon", "lat").persist()
    pts.count()
    q = (
        datagen.gen_scenes(spark, n_q * 7)
        .filter(F.col("image_id").substr(-1, 1) == "3")
        .selectExpr("concat('q', image_id) as query_id", "lon + 0.37 as lon",
                    "lat - 0.21 as lat")
    )
    t0 = time.perf_counter()
    knn.knn_join(q, pts, k=5).count()
    t["knn_join"] = time.perf_counter() - t0
    pts.unpersist()
    rates["knn_points_per_sec"] = n_images / t["knn_join"]

    n_vec = n_docs
    emb = datagen.gen_embeddings(spark, n_vec).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    ).persist()
    emb.count()

    # IVF: build (bounded driver Lloyd + distributed assignment) + probe
    t0 = time.perf_counter()
    C, indexed = similarity.ivf_build(emb, n_centroids=32)
    indexed = indexed.persist()
    indexed.count()
    qv = emb.filter(F.col("vec_id") % 997 == 1).limit(n_q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    similarity.ivf_topk(qv, indexed, C, k=5, n_probe=4).count()
    t["ivf_topk"] = time.perf_counter() - t0
    indexed.unpersist()
    rates["ivf_vectors_per_sec"] = n_vec / t["ivf_topk"]

    # embedding near-dup: hyperplane-LSH buckets + exact verify
    t0 = time.perf_counter()
    _dd.embedding_near_dups(emb, threshold=0.95).count()
    t["embedding_near_dups"] = time.perf_counter() - t0
    emb.unpersist()
    rates["embnd_vectors_per_sec"] = n_vec / t["embedding_near_dups"]

    # geocode LUT build: kNN anchor + candidate explode + inverse bilinear;
    # swath AND grid scale together (10x rows => ~3.16x per side)
    m = max(8, int(n_images**0.5))
    swath = spark.range(m * m).selectExpr(
        "cast(id / %d as int) as line" % m,
        "cast(id %% %d as int) as sample" % m,
        "(id %% %d) * 0.25 + cast(id / %d as int) * 0.0625 as lon" % (m, m),
        "cast(id / %d as int) * 0.25 as lat" % m,
    ).persist()
    swath.count()
    grid = spark.range(2 * m * m).selectExpr(
        "concat('g', id) as grid_id",
        "(id %% 89) * (%d * 0.25 / 89) + 0.07 as lon" % m,
        "(id %% 83) * (%d * 0.25 / 83) + 0.05 as lat" % m,
    )
    t0 = time.perf_counter()
    warp.geocode_bilinear_lut(swath, grid).count()
    t["geocode_lut"] = time.perf_counter() - t0
    swath.unpersist()
    rates["geocode_cells_per_sec"] = (m * m) / t["geocode_lut"]

    # --- round-7 operators (round-8 VERDICT #5): orbit interpolation,
    # static-catalog walk, H.264 codec throughput ---
    from eoreader_spark.operators import multimodal, orbit
    from eoreader_spark.sources import stac

    # orbit interpolation: swath-time rows scale 10x against a
    # broadcast packed-OSV dimension (20 OSVs x n_images/200 images) —
    # the leg collapses if pack_osv stops broadcasting or the per-image
    # window gather in the pandas pass goes quadratic
    n_oimg = max(4, n_images // 200)
    osv = spark.range(n_oimg * 20).selectExpr(
        "concat('o', cast(id / 20 as int)) as image_id",
        "cast(id % 20 as double) * 10.0 as t",
        "7000e3 + (id % 20) * 60e3 + (id % 7) as px",
        "100e3 - (id % 20) * 45e3 + (id % 5) as py",
        "(id % 20) * 30e3 + (id % 3) as pz",
        "7.5e3 - (id % 20) * 11.0 as vx",
        "(id % 20) * 7.0 - 60.0 as vy",
        "1.5e3 + (id % 20) * 3.0 as vz",
    )
    n_times = n_images * 4
    times = spark.range(n_times, numPartitions=64).selectExpr(
        f"concat('o', id % {n_oimg}) as image_id",
        "(id % 1000) * 0.19 as t",
    )
    t0 = time.perf_counter()
    orbit.interpolate_osv(times, osv).count()
    t["orbit_interp"] = time.perf_counter() - t0
    rates["orbit_rows_per_sec"] = n_times / t["orbit_interp"]

    # static STAC catalog: n_images items sharded by executors, driver
    # writes/walks only catalog + collection documents — the leg
    # collapses if the driver fan-out stops being shard-bounded
    scenes = datagen.gen_scenes(spark, n_images)
    items = stac.to_stac_items(scenes).repartition(32)
    t0 = time.perf_counter()
    stac.write_stac_catalog(items, f"{workdir}/stac")
    n_back = stac.read_stac_catalog(spark, f"{workdir}/stac").count()
    t["stac_catalog"] = time.perf_counter() - t0
    assert n_back == n_images
    rates["stac_items_per_sec"] = n_images / t["stac_catalog"]

    # H.264 GOP encode+decode (round-8 inter path): one 6-frame
    # 32x64 IDR+P+P GOP per video, engine encoder -> video_frame_sample
    # decode; per-video work is constant so rate must hold at 10x count.
    # Floor of 64 (= 2 waves at 32 cores) keeps wave quantization from
    # polluting the small-leg rate.
    n_vid = max(64, n_images // 32)

    def _gen_vid(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from eoreader_spark import codecs as _c
        from eoreader_spark.sources import avcc as _a

        for pdf in it:
            rows = []
            for j in pdf["id"].astype("int64"):
                j = int(j)
                base = _c.make_image(1700 + j, 32, 64, planes=1)[0]
                frames = [np.roll(base, (fi * 3, fi * 5), axis=(0, 1))
                          for fi in range(6)]
                payload = _a.encode_h264(frames, qp=10, gop=3)
                rows.append((f"v{j:05d}", "video", payload, "h264",
                             64, 32, 0, 6))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "bytes", "fmt", "w",
                               "h", "sample_rate", "n_frames"])

    t0 = time.perf_counter()
    media = spark.range(n_vid, numPartitions=min(64, n_vid)).mapInPandas(
        _gen_vid, schema=multimodal.MEDIA_SCHEMA
    )
    n_frames_out = multimodal.video_frame_sample(media, every_n=2, resize=4).count()
    t["h264_gop_codec"] = time.perf_counter() - t0
    assert n_frames_out == n_vid * 3
    rates["h264_frames_per_sec"] = (n_vid * 6) / t["h264_gop_codec"]

    return {
        "sec": {k: round(v, 3) for k, v in t.items()},
        "rates": {k: round(v, 1) for k, v in rates.items()},
        "n_images": n_images,
        "n_tiles": n_tiles,
        "n_assignments": n_assign,
        "n_docs": n_docs,
    }


def main() -> None:
    n_images = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 50000

    spark = get_spark("bench_sf1", cpus=32, shuffle_partitions=64)
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm
    spark.range(256, numPartitions=128).mapInPandas(
        lambda it: (p for p in it), schema="id long"
    ).count()  # python-worker warm

    out = {"metric": "sf1_scale_ratio", "unit": "ratio"}
    legs = {}
    for tag, ni, nd in (("small", n_images // 10, n_docs // 10),
                        ("large", n_images, n_docs)):
        workdir = tempfile.mkdtemp(prefix=f"eoreader_sf1_{tag}_")
        try:
            legs[tag] = run_scale(spark, workdir, ni, nd)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    ratios = {}
    for k, small_rate in legs["small"]["rates"].items():
        large_rate = legs["large"]["rates"][k]
        ratios[k] = round(large_rate / small_rate, 3) if small_rate else None
    out.update(
        value=round(min(r for r in ratios.values() if r is not None), 3),
        ratios=ratios, small=legs["small"], large=legs["large"],
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
