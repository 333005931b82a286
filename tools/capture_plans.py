"""Capture .explain("formatted") for every bench-path query into plans/r09/.

Usage: python tools/capture_plans.py [before|after] [sf_dir]

Planning only (no execution) for the 8 BENCH_QUERIES; the synthetic-pipeline
stages (index_stats / tile_assign / dem_slope) need tiny inputs materialized
first, so a small workdir is generated at n=64 images — plan SHAPE is
n-independent (same operators/exchanges), which is what the files document.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from bench import BENCH_QUERIES  # noqa: E402
from eoreader_spark import datagen  # noqa: E402
from eoreader_spark.operators import assign, stencil  # noqa: E402
from eoreader_spark.session import get_spark  # noqa: E402
from eoreader_spark.sources import pyscan  # noqa: E402


def fmt_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    out_dir = Path(__file__).resolve().parent.parent / "plans" / "r09"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("capture_plans")
    qs = entrymod.queries()
    for name in BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        (out_dir / f"{name}_{tag}.txt").write_text(fmt_plan(df))
        print(f"wrote {name}_{tag}.txt")

    workdir = tempfile.mkdtemp(prefix="eoreader_plans_")
    try:
        n = 64
        datagen.gen_images(spark, n, partitions=8).write.mode("overwrite").parquet(
            f"{workdir}/images.parquet"
        )
        df = pyscan.index_stats_scan(
            spark, f"{workdir}/images.parquet", ["NDVI", "NDWI", "EVI"]
        )
        (out_dir / f"index_stats_{tag}.txt").write_text(fmt_plan(df))
        print(f"wrote index_stats_{tag}.txt")

        tiles = datagen.gen_tiles(spark, n)
        aoi = datagen.gen_aoi(spark, n)
        df = assign.assign_tiles(tiles, aoi)
        (out_dir / f"tile_assign_{tag}.txt").write_text(fmt_plan(df))
        print(f"wrote tile_assign_{tag}.txt")

        datagen.gen_dem(spark, max(8, n // 8)).write.mode("overwrite").parquet(
            f"{workdir}/dem.parquet"
        )
        dem = spark.read.parquet(f"{workdir}/dem.parquet").withColumnRenamed("z", "px")
        df = stencil.slope(dem)
        (out_dir / f"dem_slope_{tag}.txt").write_text(fmt_plan(df))
        print(f"wrote dem_slope_{tag}.txt")

        df = datagen.gen_images(spark, n, partitions=8)
        (out_dir / f"gen_write_images_{tag}.txt").write_text(fmt_plan(df))
        print(f"wrote gen_write_images_{tag}.txt")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
