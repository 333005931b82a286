"""Per-query isolation bench (guide §1.4): noop-sink timing of every bench
component, with labelled jobs.  NOT the driver contract — bench.py stays the
frozen measurement; this file exists to isolate computation cost from the
collect()/sink and to give per-stage numbers for OPTIMIZATION_r09.md.

Usage: python bench_extra.py [repeat]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from bench import BENCH_QUERIES  # noqa: E402
from eoreader_spark import datagen  # noqa: E402
from eoreader_spark.operators import assign, stencil  # noqa: E402
from eoreader_spark.session import get_spark  # noqa: E402
from eoreader_spark.sources import pyscan  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeat = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_images = int(os.environ.get("SPARK_GRAFT_N_IMAGES", "2000"))

    spark = get_spark("bench_extra", cpus=cpus, shuffle_partitions=cpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(cpus * 8, numPartitions=cpus * 4).mapInPandas(
        lambda it: (p for p in it), schema="id long"
    ).count()
    spark.read.parquet(f"{sf_dir}/region.parquet").groupBy("r_name").count().collect()

    qs = entrymod.queries()
    out: dict[str, list[float]] = {}
    for r in range(repeat):
        for name in BENCH_QUERIES:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            noop(qs[name](spark, sf_dir))
            out.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)

    workdir = tempfile.mkdtemp(prefix="eoreader_bx_")
    try:
        for r in range(repeat):
            spark.sparkContext.setJobDescription("bench_extra:gen_write_images")
            t0 = time.perf_counter()
            datagen.gen_images(spark, n_images, partitions=max(32, n_images // 256)).write.mode(
                "overwrite"
            ).parquet(f"{workdir}/images.parquet")
            out.setdefault("gen_write_images", []).append(round(time.perf_counter() - t0, 3))

            spark.sparkContext.setJobDescription("bench_extra:index_stats")
            t0 = time.perf_counter()
            noop(pyscan.index_stats_scan(spark, f"{workdir}/images.parquet", ["NDVI", "NDWI", "EVI"]))
            out.setdefault("index_stats", []).append(round(time.perf_counter() - t0, 3))

            spark.sparkContext.setJobDescription("bench_extra:tile_assign")
            t0 = time.perf_counter()
            tiles = datagen.gen_tiles(spark, n_images).persist()
            tiles.count()
            aoi = datagen.gen_aoi(spark, n_images)
            noop(assign.assign_tiles(tiles, aoi))
            out.setdefault("tile_assign", []).append(round(time.perf_counter() - t0, 3))
            tiles.unpersist()

            n_dem_imgs = max(50, n_images // 8)
            datagen.gen_dem(spark, n_dem_imgs).write.mode("overwrite").parquet(
                f"{workdir}/dem.parquet"
            )
            dem = spark.read.parquet(f"{workdir}/dem.parquet").withColumnRenamed("z", "px")
            spark.sparkContext.setJobDescription("bench_extra:dem_slope")
            t0 = time.perf_counter()
            noop(stencil.slope(dem))
            out.setdefault("dem_slope", []).append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
