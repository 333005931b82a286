"""spark-submit entry point for the headline pipeline (north_rule: "run via
spark-submit --py-files ... resumable from checkpoint").

Usage:
    zip -r eoreader_spark.zip eoreader_spark
    spark-submit --master local[32] --py-files eoreader_spark.zip \
        tools/submit_pipeline.py --root /data/ck --n-images 48000

Re-running the same command after a kill resumes from the last committed
partition (see eoreader_spark/lineage.py).  ``--die-after STAGE`` is the
deterministic kill-point hook used by tests to simulate a mid-run crash.
The pipeline body lives in eoreader_spark.pipelines.run_pipeline — this
file is only arg parsing + session setup, so library and spark-submit
paths can never drift.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="checkpoint/output root")
    ap.add_argument("--n-images", type=int, default=1000)
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    ap.add_argument("--die-after", choices=["images", "tiles", "assign"], default=None,
                    help="test hook: exit(1) after this stage commits")
    args = ap.parse_args()

    from eoreader_spark import pipelines
    from eoreader_spark.session import worker_daemon_conf

    spark = (
        SparkSession.builder.appName("eoreader_spark_pipeline")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(map=worker_daemon_conf())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = pipelines.run_pipeline(
        spark, args.root, args.n_images, die_after=args.die_after
    )
    print("PIPELINE_RESULT " + json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
