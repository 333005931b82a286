"""Skew handling: the synthetic data puts 70% of scenes in 5 hot cells
(datagen.HOT_SPOTS); these tests verify the salting path actually spreads
those keys, not just that results stay correct."""

import numpy as np
from pyspark.sql import functions as F

from eoreader_spark import datagen
from eoreader_spark.operators import assign

N = 400


def test_data_is_skewed(spark):
    tiles = datagen.gen_tiles(spark, N)
    hist = tiles.groupBy("cell_r7").count().toPandas()
    top = hist["count"].max()
    med = hist["count"].median()
    assert top > 8 * med  # hot cells really are hot


def test_salting_spreads_hot_keys(spark):
    tiles = datagen.gen_tiles(spark, N)
    hist = tiles.groupBy("cell_r7").count()
    med = hist.agg(F.expr("percentile_approx(count, 0.5)")).first()[0]
    hot = [r.cell_r7 for r in hist.filter(F.col("count") > 8 * med).collect()]
    assert hot, "expected hot cells"
    hot_lit = F.array(*[F.lit(c) for c in hot])
    salted = tiles.withColumn(
        "salt",
        F.when(
            F.array_contains(hot_lit, F.col("cell_r7")),
            F.pmod(F.xxhash64("image_id", "tile_x", "tile_y"), F.lit(assign.N_SALTS)),
        ).otherwise(F.lit(0)),
    )
    # per-key group sizes: the hottest (cell) group must shrink by ~N_SALTS
    before = tiles.groupBy("cell_r7").count().agg(F.max("count")).first()[0]
    after = salted.groupBy("cell_r7", "salt").count().agg(F.max("count")).first()[0]
    assert after <= before / (assign.N_SALTS / 3)  # allow hash imbalance
    # salts are reasonably uniform on the hottest cell
    hottest = (
        tiles.groupBy("cell_r7").count().orderBy(F.col("count").desc()).first().cell_r7
    )
    sizes = [
        r["count"]
        for r in salted.filter(F.col("cell_r7") == hottest).groupBy("salt").count().collect()
    ]
    assert len(sizes) > assign.N_SALTS // 2
    assert max(sizes) < 4 * (sum(sizes) / len(sizes))


def test_salted_equals_broadcast_on_skewed_data(spark):
    tiles = datagen.gen_tiles(spark, N)
    aoi = datagen.gen_aoi(spark, N)
    a = {tuple(r) for r in assign.assign_tiles(tiles, aoi).collect()}
    b = {tuple(r) for r in assign._assign_salted(tiles, aoi, 2.0, assign.N_SALTS).collect()}
    assert a == b and len(a) > 0
