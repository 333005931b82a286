"""Fixed per-query costs of a resident session: the parquet schema cache
of ``session.read_parquet``, the size of Spark's generated-class cache, and
the decisions behind the driver JVM's class-data archive."""

import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

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


# ------------------------------------------------ driver class-data archive
@pytest.fixture
def homes(tmp_path):
    """(spark_home, java_home, cache_dir) laid out like a real install."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# spark.master x\n")
    for name in ("spark-core.jar", "scala-library.jar"):
        (spark_home / "jars" / name).write_bytes(b"PK" + name.encode())
    java_home.mkdir()
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    return spark_home, java_home, tmp_path / "cache" / "cds"


def _plan(homes, environ=None, heap="48g"):
    spark_home, java_home, cache = homes
    return session.cds_options(str(spark_home), str(java_home), environ or {}, cache, heap)


def _dump_path(opts) -> Path:
    (flag,) = opts
    assert flag.startswith("-XX:ArchiveClassesAtExit="), opts
    return Path(flag.split("=", 1)[1])


def _published(tmp: Path) -> Path:
    """The archive a dump's ``<jsa>.<pid>.tmp`` becomes."""
    return Path(str(tmp).rsplit(".", 2)[0])


def test_no_archive_dumps_to_a_tmp_file(homes):
    opts, env = _plan(homes)
    tmp = _dump_path(opts)
    assert tmp.name.endswith(f".jsa.{os.getpid()}.tmp") and tmp.parent == homes[2]
    conf_dir = Path(env["SPARK_CONF_DIR"])
    assert env == {"SPARK_CONF_DIR": str(homes[2] / "conf")}
    assert conf_dir.is_dir() and not any(conf_dir.iterdir())


def test_existing_archive_is_mapped(homes):
    jsa = _published(_dump_path(_plan(homes)[0]))
    jsa.write_bytes(b"archive")
    opts, env = _plan(homes)
    assert opts == [f"-XX:SharedArchiveFile={jsa}"]
    assert env == {"SPARK_CONF_DIR": str(homes[2] / "conf")}
    # the conf dir this module set itself is not the user's choice
    assert _plan(homes, env)[0] == opts


def test_user_conf_dir_or_real_conf_file_means_no_archive(homes, tmp_path):
    assert _plan(homes, {"SPARK_CONF_DIR": str(tmp_path)}) == ([], {})
    assert _plan(homes, {"PYSPARK_GATEWAY_PORT": "4040"}) == ([], {})
    (homes[0] / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert _plan(homes) == ([], {})
    assert not homes[2].exists()


def test_uncreatable_cache_dir_means_no_archive(homes, tmp_path):
    (tmp_path / "file").write_text("")
    spark_home, java_home, _ = homes
    assert session.cds_options(str(spark_home), str(java_home), {},
                               tmp_path / "file" / "cds", "48g") == ([], {})


def test_key_follows_jars_jdk_and_heap_mode(homes):
    first = _dump_path(_plan(homes)[0])
    assert _dump_path(_plan(homes)[0]) == first
    jar = homes[0] / "jars" / "spark-core.jar"
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    moved = _dump_path(_plan(homes)[0])
    assert moved != first
    (homes[1] / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert _dump_path(_plan(homes)[0]) not in (first, moved)
    # heaps from 32 GiB up run without compressed oops: their own archive
    names = {_dump_path(_plan(homes, heap=h)[0]).name.split(".")[0]
             for h in ("48g", "32g", "31g", "7g", "2048m")}
    assert sorted(n.split("-")[1] for n in names) == ["coops", "nocoops"]


def test_leftover_tmp_is_never_mapped(homes):
    tmp = _dump_path(_plan(homes)[0])
    Path(f"{_published(tmp)}.12345.tmp").write_bytes(b"half-written")
    assert _dump_path(_plan(homes)[0]) == tmp


class _Jvm:
    """A driver JVM that writes its archive only when it exits."""

    def __init__(self, tmp: Path, code: int = 0):
        self.tmp, self.code, self.stdin_closed = tmp, code, False
        self.stdin = self

    def close(self):
        self.stdin_closed = True

    def wait(self, timeout=None):
        assert self.stdin_closed, "the JVM exits only once its stdin closes"
        assert not _published(self.tmp).exists(), "published before the JVM finished writing"
        self.tmp.write_bytes(b"archive")
        return self.code


def test_publish_renames_after_the_wait(homes):
    tmp = _dump_path(_plan(homes)[0])
    jsa, cache = _published(tmp), homes[2]
    other_key = cache / ("0" * 16 + "-coops.jsa")
    other_mode = cache / (jsa.name[:16] + "-coops.jsa")
    leftover = cache / (jsa.name + ".12345.tmp")
    for p in (other_key, other_mode, leftover):
        p.write_bytes(b"x")
    session.publish_cds(_Jvm(tmp), tmp)
    assert jsa.read_bytes() == b"archive" and not tmp.exists()
    assert not other_key.exists() and not leftover.exists()
    assert other_mode.exists()
    assert _plan(homes)[0] == [f"-XX:SharedArchiveFile={jsa}"]


def test_failed_jvm_publishes_nothing(homes):
    tmp = _dump_path(_plan(homes)[0])
    session.publish_cds(_Jvm(tmp, code=1), tmp)
    assert _dump_path(_plan(homes)[0]) == tmp


def test_mapping_run_only_waits_for_the_jvm(homes):
    jsa = _published(_dump_path(_plan(homes)[0]))
    jsa.write_bytes(b"archive")
    jvm = _Jvm(homes[2] / "unused.tmp")
    session.publish_cds(jvm, None)
    assert jvm.stdin_closed and jsa.read_bytes() == b"archive"


def test_session_java_options_are_defaults_callers_cannot_drop(spark):
    # callers pass spark.driver.extraJavaOptions (perfbench: java.io.tmpdir),
    # which replaces a value of that key; Spark appends it after the defaults
    conf = spark.sparkContext.getConf()
    opts = conf.get("spark.driver.defaultJavaOptions").split()
    assert "-Djava.net.preferIPv4Stack=true" in opts
    assert spark.sparkContext._jvm.java.lang.System.getProperty("java.net.preferIPv4Stack") == "true"
