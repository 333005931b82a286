import numpy as np

from eoreader_spark import datagen
from eoreader_spark.functions import indices
from eoreader_spark.sources import pyscan

N = 24


def test_pyscan_matches_arrow_bridge_path(spark, tmp_path):
    """The data-local scan must produce exactly the same stats as the
    Arrow-bridge index_stats (same kernels, different transport)."""
    out = str(tmp_path / "images.parquet")
    images = datagen.gen_images(spark, N)
    images.write.mode("overwrite").parquet(out)

    names = ["NDVI", "NDWI"]
    via_scan = {
        (r.image_id, r.index_name): (r["mean"], r["min"], r["max"])
        for r in pyscan.index_stats_scan(spark, out, names).collect()
    }
    via_bridge = {
        (r.image_id, r.index_name): (r["mean"], r["min"], r["max"])
        for r in indices.index_stats(spark.read.parquet(out), names).collect()
    }
    assert via_scan.keys() == via_bridge.keys()
    assert len(via_scan) == N * len(names)
    for k in via_scan:
        assert np.allclose(via_scan[k], via_bridge[k], rtol=0, atol=0), k


def test_parquet_splits_row_groups(spark, tmp_path):
    out = str(tmp_path / "t.parquet")
    spark.range(1000).repartition(4).write.mode("overwrite").parquet(out)
    splits = pyscan.parquet_splits(out)
    assert len(splits) >= 4
    total = 0
    import pyarrow.parquet as pq

    for f, rg0, rg1 in splits:
        total += sum(
            pq.ParquetFile(f).metadata.row_group(i).num_rows for i in range(rg0, rg1)
        )
    assert total == 1000


def test_rowgroup_stats_pruning(spark, tmp_path):
    """predicate=(col, lo, hi) must drop provably-excluded row groups at
    plan time and leave the scan RESULT identical (pruning is conservative;
    survivors keep their residual filter)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "sorted")
    ids = np.arange(2000, dtype=np.int64)
    table = pa.table({"k": ids, "v": ids * 3})
    pq.write_table(table, f"{out}.parquet", row_group_size=100)  # 20 groups, sorted

    all_splits = pyscan.parquet_splits(f"{out}.parquet")
    pruned = pyscan.parquet_splits(f"{out}.parquet", predicate=("k", 500, 799))
    assert len(all_splits) == 20
    assert len(pruned) == 3  # groups [500,600), [600,700), [700,800)

    def kernel(pdf):
        sub = pdf[(pdf["k"] >= 500) & (pdf["k"] <= 799)]  # residual filter
        return sub[["k", "v"]]

    full = pyscan.scan(spark, f"{out}.parquet", kernel, "k long, v long").collect()
    fast = pyscan.scan(
        spark, f"{out}.parquet", kernel, "k long, v long", predicate=("k", 500, 799)
    ).collect()
    assert sorted((r.k, r.v) for r in full) == sorted((r.k, r.v) for r in fast)
    assert len(fast) == 300
    # open-ended bounds + unknown column behavior
    assert len(pyscan.parquet_splits(f"{out}.parquet", predicate=("k", None, 99))) == 1
    assert len(pyscan.parquet_splits(f"{out}.parquet", predicate=("k", 1900, None))) == 1
    import pytest as _pytest

    with _pytest.raises(KeyError):
        pyscan.parquet_splits(f"{out}.parquet", predicate=("nope", 0, 1))


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_is_one_wave_without_exchange(spark, tmp_path):
    """The split source is a spark.range with one task per core (capped by
    the split count): no Exchange, and every split read exactly once even
    when the split count is not a multiple of the task count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "rg21.parquet")
    ids = np.arange(21 * 10, dtype=np.int64)
    pq.write_table(pa.table({"k": ids, "v": ids * 7}), path, row_group_size=10)
    splits = pyscan.parquet_splits(path)
    assert len(splits) == 21

    df = pyscan.scan(spark, path, lambda pdf: pdf, "k long, v long")
    cores = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == min(len(splits), cores)
    rows = sorted((r.k, r.v) for r in df.collect())
    assert "Exchange" not in _plan(df)  # the executed (final) plan
    ref = pq.read_table(path)
    assert rows == sorted(zip(ref["k"].to_pylist(), ref["v"].to_pylist()))

    few = pyscan.scan(spark, path, lambda pdf: pdf, "k long, v long", predicate=("k", 0, 25))
    assert few.rdd.getNumPartitions() == min(3, cores)
    assert sorted(r.k for r in few.collect()) == list(range(30))


def test_scan_fully_pruned_is_empty_with_schema(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "sorted.parquet")
    ids = np.arange(200, dtype=np.int64)
    pq.write_table(pa.table({"k": ids, "v": ids}), path, row_group_size=50)
    df = pyscan.scan(spark, path, lambda pdf: pdf, "k long, v long", predicate=("k", 1000, None))
    assert df.collect() == []
    assert df.schema.simpleString() == "struct<k:bigint,v:bigint>"
