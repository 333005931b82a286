"""Fixed per-query costs of a resident session: the parquet schema cache
of ``session.read_parquet`` and the size of Spark's generated-class cache."""

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from eoreader_spark import session

# the bench queries' tables, vendored byte-identical with the benchmark
SF = str(Path(__file__).resolve().parent.parent / "perfbench" / "testdata" / "sf0.001")


def _jobs(spark, group: str, fn):
    """(fn's result, ids of the Spark jobs fn ran under a fresh job group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_read_of_unchanged_file_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    df1, jobs1 = _jobs(spark, "schema_cache_miss", lambda: session.read_parquet(spark, path))
    assert jobs1, "a first read should run the schema-inference job"
    df2, jobs2 = _jobs(spark, "schema_cache_hit", lambda: session.read_parquet(spark, path))
    assert jobs2 == []
    assert df2.schema == df1.schema == spark.read.parquet(path).schema
    assert sorted(df2.collect()) == sorted(spark.read.parquet(path).collect())


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert session.read_parquet(spark, path).columns == ["a"]
    size0 = Path(path).stat().st_size
    pq.write_table(pa.table({"k": ["p", "q", "r"], "v": [0.5, 1.5, 2.5]}), path)
    assert Path(path).stat().st_size != size0  # the stat key must move
    df = session.read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.columns == ["k", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [("p", 0.5), ("q", 1.5), ("r", 2.5)]


def test_directory_is_never_cached(spark, tmp_path):
    d = tmp_path / "stage"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    before = session._file_schema.cache_info()
    for _ in range(2):
        _, jobs = _jobs(spark, "schema_cache_dir", lambda: session.read_parquet(spark, str(d)))
        assert jobs, "a directory read should infer its schema every time"
    after = session._file_schema.cache_info()
    assert (after.hits, after.misses, after.currsize) == (before.hits, before.misses,
                                                          before.currsize)
    # a part file added under the same directory is read
    pq.write_table(pa.table({"a": [2]}), str(d / "part-1.parquet"))
    assert sorted(r.a for r in session.read_parquet(spark, str(d)).collect()) == [1, 2]


def test_warm_bench_round_does_not_recompile(spark):
    """One round of the bench queries compiles ~141 classes; at Spark's
    default codegen cache size (100 entries) every warm round recompiled
    ~70 of them."""
    import __spark_entry__
    import bench

    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    qs = __spark_entry__.queries()
    compiles = []
    for _ in range(3):
        c0 = hist.getCount()
        for name in bench.BENCH_QUERIES:
            qs[name](spark, SF).collect()
        compiles.append(hist.getCount() - c0)
    assert compiles[-1] < 10, compiles
