"""SparkSession factory tuned for the sandbox (local[N]) but written so the
same conf works on a multi-executor cluster (AQE, Arrow, adaptive skew-join).
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import re
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Spark's generated-class cache (static conf, default 100 entries) is smaller
# than one round of the 8 bench queries, which compiles ~141 classes: at the
# default every warm round recompiles 75-95 of them (0.65-1.06 s).  One cold
# pass of all 102 queries() at sf0.001 compiles 1179 classes (measured with
# an unbounded cache); 2000 holds that pass with headroom.
CODEGEN_CACHE_ENTRIES = 2000
# inferred parquet schemas kept by read_parquet, one per (file, version)
SCHEMA_CACHE_ENTRIES = 256
# The driver JVM's class-data archive (JEP 350): the ~15k Spark and Scala
# classes a session start loads, mapped from one file instead of read from
# jars.  Outside checkouts and temp dirs, which benchmark runs delete.
CDS_DIR = Path.home() / ".cache" / "eoreader_spark" / "cds"
# CDS logging off: the JVM prints dump warnings to stdout after Python exits
DRIVER_JAVA_OPTIONS = ["-Djava.net.preferIPv4Stack=true", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
CDS_DUMP_WAIT_S = 300  # how long Python's exit waits for the JVM to write it


def get_spark(
    app_name: str = "eoreader_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32.  Shuffle partitions default
    to the core count — at cluster scale you'd size this to ~2-3x total cores
    and let AQE coalesce; the knob is exposed for the scaling bench.

    ``master`` (or $SPARK_GRAFT_MASTER) overrides the default ``local[cpus]``
    — in particular ``local-cluster[n,cores,mem_mb]`` launches n REAL
    executor JVMs (separate processes, netty shuffle, per-executor Arrow
    allocators), the closest the sandbox gets to the north_rule's
    multi-executor cluster; ``cpus`` should then be the TOTAL core count so
    shuffle sizing stays right.

    Every session runs its Python workers under
    ``eoreader_spark.worker_daemon`` (see :func:`worker_daemon_conf`)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    heap = ((extra_conf or {}).get("spark.driver.memory")
            or os.environ.get("SPARK_DRIVER_MEM", "48g"))
    java = shutil.which("java")
    java_home = os.environ.get("JAVA_HOME") or (java and str(Path(java).resolve().parents[1]))
    cds_opts: list[str] = []
    fresh = SparkContext._gateway is None
    if fresh and java_home:  # JVM options are fixed once it runs
        cds_opts, env = cds_options(_find_spark_home(), java_home, os.environ, CDS_DIR, heap)
        os.environ.update(env)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    # one BLAS/OMP thread per Python worker: the workers ARE the parallelism;
    # nested BLAS pools oversubscribe cores N_workers x N_cores deep
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 512, not 4096: tile rows carry ~17KB arrays, so 4096-row batches
        # are ~70MB Arrow buffers — allocator contention makes pixel-array
        # pandas UDFs ANTI-scale with local core count (BENCH.md round 2:
        # slope 63s -> 13s at local[32] just from this knob)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # limit probes (assign_tiles' BROADCAST_AOI_LIMIT+1 fetch, stats peeks)
        # start at ONE partition by default and rescan with 4x growth —
        # every retry re-runs generator/mapInPandas inputs.  One task wave
        # (~core count) resolves small tables in a single job; CollectLimit
        # still truncates at the limit, so the driver transfer stays bounded
        # (r9, measured: 40-row AOI probe 0.52s -> 0.21s)
        .config("spark.sql.limit.initialNumPartitions", "32")
        # dims up to 64 MB broadcast instead of falling to a sort-merge
        # shuffle of the fact side (guide §3.1: a few hundred MB of
        # broadcast is routinely fine; 10 MB is conservative for executors
        # sized in GBs).  Keeps the star-join shape (fact table never
        # shuffled pre-aggregation) at 10x the bench scale, where the
        # orders dimension crosses the default threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # a static conf: it must be set here, before the SparkContext starts
        # (spark.conf.set cannot change it on a running session)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # not extraJavaOptions: callers set that one, and Spark appends it
        # after this, so both survive
        .config("spark.driver.defaultJavaOptions", " ".join(DRIVER_JAVA_OPTIONS + cds_opts))
        .config(map=worker_daemon_conf())
    )
    if master.startswith("local-cluster"):
        # local-cluster[n,cores,mem_mb]: mem_mb is the WORKER's allocation;
        # the executor still requests spark.executor.memory (default 1g) and
        # dies mid-stencil on the default — claim (almost) the whole worker
        mem_mb = int(master.rstrip("]").split(",")[-1])
        b = (
            # never request more than the worker offers: a sub-1.5g worker
            # with a bigger executor ask would never register and the job
            # hangs silently (ADVICE r3)
            b.config("spark.executor.memory", f"{min(mem_mb, max(mem_mb - 512, 1024))}m")
            .config("spark.executorEnv.OMP_NUM_THREADS", "1")
            .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dump = [Path(o.split("=", 1)[1]) for o in cds_opts
            if o.startswith("-XX:ArchiveClassesAtExit=")]
    if fresh and SparkContext._gateway.proc:  # our own handle: callers may clear _gateway
        atexit.register(publish_cds, SparkContext._gateway.proc, dump[0] if dump else None)
    return spark


def cds_options(spark_home: str, java_home: str, environ, cache_dir: Path,
                heap: str) -> tuple[list[str], dict[str, str]]:
    """(driver java options, environment update) for the class-data archive.

    The archive is keyed by the JDK, the jar set and the heap's compressed
    oops mode (dropped from 32 GiB up; an archive dumped in the other mode
    is refused).  An existing one is mapped, else the JVM dumps one at exit
    for :func:`publish_cds`.  The JDK will not archive a classpath holding a
    non-empty directory, so the conf dir becomes an empty one at a fixed
    path; nothing is done when the user picked the conf dir, its default
    holds more than templates, or the JVM is spark-submit's."""
    conf_dir, conf = Path(cache_dir) / "conf", Path(spark_home) / "conf"
    if (environ.get("SPARK_CONF_DIR") not in (None, str(conf_dir))
            or "PYSPARK_GATEWAY_PORT" in environ
            or conf.is_dir() and any(not p.name.endswith(".template") for p in conf.iterdir())):
        return [], {}
    try:
        conf_dir.mkdir(parents=True, exist_ok=True)
    except OSError:
        return [], {}
    h = hashlib.sha256(os.path.realpath(java_home).encode())
    release = Path(java_home) / "release"
    h.update(release.read_bytes() if release.is_file() else b"")
    for jar in sorted((Path(spark_home) / "jars").glob("*.jar")):
        st = jar.stat()
        h.update(f"{jar.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    num, unit = re.fullmatch(r"(\d+)([kmgtp]?)b?", heap.strip().lower()).groups()
    coops = int(num) << {"k": 10, "": 20, "m": 20, "g": 30, "t": 40, "p": 50}[unit] < 32 << 30
    jsa = Path(cache_dir) / f"{h.hexdigest()[:16]}-{'coops' if coops else 'nocoops'}.jsa"
    flag = (f"-XX:SharedArchiveFile={jsa}" if jsa.is_file()
            else f"-XX:ArchiveClassesAtExit={jsa}.{os.getpid()}.tmp")
    return [flag], {"SPARK_CONF_DIR": str(conf_dir)}


def publish_cds(proc, tmp: Path | None) -> None:
    """At exit, stop the driver JVM and wait for it, so it never outlives
    Python.  When it dumps to ``tmp``, publish the archive by rename, so no
    half-written file is ever a ``.jsa``, and drop other JDKs' or jar sets'
    archives and every other ``.tmp`` (a killed run's, or a concurrent dump
    this one makes redundant)."""
    sc = SparkContext._active_spark_context
    if sc is not None and getattr(sc._gateway, "proc", None) is proc:
        sc.stop()  # else its Python-side servers see the JVM's EOFs
    if proc.stdin:
        proc.stdin.close()
    try:
        if proc.wait(timeout=CDS_DUMP_WAIT_S) != 0 or tmp is None or not tmp.is_file():
            return
    except subprocess.TimeoutExpired:
        return
    jsa = tmp.with_suffix("").with_suffix("")
    os.replace(tmp, jsa)
    for p in jsa.parent.iterdir():
        if p.suffix == ".tmp" or p.suffix == ".jsa" and p.name[:16] != jsa.name[:16]:
            p.unlink(missing_ok=True)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job on
    repeat reads of an unchanged file.

    Inference runs one Spark job per read (0.12-0.19 s against 0.02-0.05 s
    with the schema supplied).  A single file's inferred schema is cached by
    ``(path, st_mtime_ns, st_size)``, so a rewritten file is re-inferred.
    Directories always infer: a lineage stage directory rewrites its part
    files without changing its own mtime."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    return spark.read.schema(_file_schema(spark, path, st.st_mtime_ns, st.st_size)).parquet(path)


@functools.lru_cache(maxsize=SCHEMA_CACHE_ENTRIES)
def _file_schema(spark: SparkSession, path: str, mtime_ns: int, size: int) -> StructType:
    # keyed by the session too: inference depends on its SQL conf
    return spark.read.parquet(path).schema


def worker_daemon_conf() -> dict[str, str]:
    """Conf that runs Python workers under ``eoreader_spark.worker_daemon``.

    The daemon stops each task from re-reading pyspark.zip's directory (a
    fixed ~0.25 s of CPU per task before CPython 3.13).  It is launched
    before any ``--py-files`` reach the worker's sys.path, and from the
    executor's cwd, so the package root (a directory or a ``--py-files``
    zip) goes on the workers' PYTHONPATH."""
    pkg_root = str(Path(__file__).resolve().parent.parent)
    prev = os.environ.get("PYTHONPATH", "")
    return {
        "spark.python.daemon.module": "eoreader_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": f"{pkg_root}:{prev}" if prev else pkg_root,
    }
