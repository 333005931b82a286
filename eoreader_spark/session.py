"""SparkSession factory tuned for the sandbox (local[N]) but written so the
same conf works on a multi-executor cluster (AQE, Arrow, adaptive skew-join).
"""

from __future__ import annotations

import functools
import os
from pathlib import Path

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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
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
    return spark


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
