"""Per-partition lineage checkpointing + resume (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Reference analog: eoreader memoizes every expensive stage to disk and later
calls skip recomputation (clean-band cache
/root/reference/eoreader/products/product.py:768-802, 1477-1491; SAR
pre-process reuse /root/reference/eoreader/products/sar/sar_product.py:
980-1080).  That per-file cache becomes a *lineage table*: one row per
(stage, partition key) with row_count + bytes, and resume = anti-join of the
input's keys against completed lineage rows.

Atomicity model (Iceberg-snapshot emulation on plain parquet):
- data is written partitionBy(key) with DYNAMIC partition overwrite —
  re-running a key is idempotent, partial output from a killed run is
  simply overwritten;
- lineage rows are appended ONLY after the data write returns, so a kill
  between the two leaves the key uncommitted and it reruns.  Lineage can
  under-promise but never over-promise.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "stage string, part_key long, row_count long, bytes long, committed_at double"
)


class LineageStore:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.lineage_dir = f"{self.root}/_lineage"

    def _dir_exists(self) -> bool:
        """Storage-agnostic existence probe via the Hadoop FileSystem API —
        os.path.exists only works for local roots, but the store advertises
        HDFS/S3 roots (a fresh s3://bucket/_lineage must mean 'empty store',
        not a failed parquet read)."""
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        conf = jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(self.lineage_dir)
        return path.getFileSystem(conf).exists(path)

    def lineage(self) -> DataFrame:
        """Raw lineage rows.  A key may appear more than once (upsert_stage
        re-commits); readers that need one row per key use latest-wins.
        Only the missing-directory case maps to 'no lineage yet' — any other
        read failure must fail loudly, not silently trigger recomputation."""
        if not self._dir_exists():
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.parquet(self.lineage_dir)

    def lineage_latest(self) -> DataFrame:
        """One row per (stage, part_key): the most recent commit."""
        from pyspark.sql import Window

        w = Window.partitionBy("stage", "part_key").orderBy(F.col("committed_at").desc())
        return (
            self.lineage()
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def completed_keys(self, stage: str) -> DataFrame:
        return self.lineage().filter(F.col("stage") == stage).select("part_key").distinct()

    def pending(self, df: DataFrame, stage: str, key_col: str) -> DataFrame:
        """Resume anti-join: drop rows whose partition key is already
        committed for this stage."""
        done = self.completed_keys(stage).withColumnRenamed("part_key", key_col)
        return df.join(F.broadcast(done), key_col, "left_anti")

    def run_stage(
        self,
        stage: str,
        df: DataFrame,
        key_col: str,
        payload_col: str | None = None,
    ) -> dict:
        """Write the uncommitted part of ``df`` to ``root/stage`` partitioned
        by ``key_col``, then commit lineage rows.  Returns resume metrics."""
        return self._commit(stage, self.pending(df, stage, key_col), key_col, payload_col)

    def upsert_stage(self, stage: str, df: DataFrame, key_col: str) -> dict:
        """Streaming variant: OVERWRITE the partitions present in ``df`` and
        re-commit their lineage (no pending anti-join) — for sinks that
        re-emit corrected aggregates for already-seen keys (late data /
        complete-mode windows).  Latest lineage row wins in reads."""
        return self._commit(stage, df, key_col)

    def _commit(
        self, stage: str, df: DataFrame, key_col: str, payload_col: str | None = None
    ) -> dict:
        """The one write-then-commit body: dynamic-overwrite the partitions
        present in ``df``, then append one lineage row per key.  An empty
        ``df`` writes and commits nothing."""
        todo = df.persist()
        n = todo.count()
        if n == 0:
            todo.unpersist()
            return {"stage": stage, "rows_written": 0, "keys_committed": 0, "skipped": True}
        (
            todo.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(key_col)
            .parquet(f"{self.root}/{stage}")
        )
        size_expr = (
            F.sum(F.octet_length(F.col(payload_col).cast("binary")))
            if payload_col and dict(todo.dtypes).get(payload_col) in ("binary", "string")
            else F.lit(0)
        )
        # materialize stats rows BEFORE the lineage append: the stats plan
        # transitively reads the lineage dir (via the pending anti-join), so a
        # lazy re-evaluation after the append would see its own commits
        stats_rows = (
            todo.groupBy(F.col(key_col).cast("long").alias("part_key"))
            .agg(F.count(F.lit(1)).alias("row_count"), size_expr.cast("long").alias("bytes"))
            .withColumn("stage", F.lit(stage))
            .withColumn("committed_at", F.lit(time.time()))
            .select("stage", "part_key", "row_count", "bytes", "committed_at")
            .collect()
        )
        self.spark.createDataFrame(stats_rows, LINEAGE_SCHEMA).write.mode("append").parquet(
            self.lineage_dir
        )
        todo.unpersist()
        return {"stage": stage, "rows_written": n, "keys_committed": len(stats_rows), "skipped": False}

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/{stage}")

    def metrics(self) -> DataFrame:
        """Per-stage rollup of committed lineage (latest commit per key) —
        the 'metrics' half of the north_rule requirement."""
        return (
            self.lineage_latest()
            .groupBy("stage")
            .agg(
                F.count(F.lit(1)).alias("n_partitions"),
                F.sum("row_count").alias("rows"),
                F.sum("bytes").alias("bytes"),
                F.max("committed_at").alias("last_commit"),
            )
        )
