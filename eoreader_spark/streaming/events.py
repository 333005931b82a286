"""Structured Streaming layer.

The reference is strictly batch, one product at a time (README.md:15-16) —
SURVEY §2.9 records "no streaming operators".  What it DOES have is
incremental memoization/resume (S11): each expensive stage persists its
artifact and later runs skip it.  Here that becomes the streaming ingest
path the north_rule asks for: scene/image feeds arrive continuously, are
windowed + aggregated with watermarked event time, and every micro-batch
goes through ``drain_to_lineage`` — the one availableNow foreachBatch
drain, which commits each micro-batch with ``LineageStore.upsert_stage``,
the same write-then-commit body (``LineageStore._commit``) batch stages
run through ``run_stage``.  The raster stream runs the batch decode+index
kernel (``functions.indices.index_stats``) unchanged.

All ops are standard Structured Streaming primitives: readStream (file
source), withWatermark + window() aggregation, applyInPandasWithState for
the custom stateful operator (per-scene ingest sessionization).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from eoreader_spark.lineage import LineageStore

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def drain_to_lineage(
    stream: DataFrame,
    store: LineageStore,
    stage: str,
    key_col: str,
    key: Column | None,
    checkpoint: str,
    output_mode: str = "append",
) -> dict:
    """Drain ``stream`` once (availableNow) into ``store``: each micro-batch
    gets ``key_col`` = ``key`` (None: the micro-batch id) and is committed
    with ``store.upsert_stage`` — overwrite the partitions it touches, then
    re-commit their lineage, so a retried batch is idempotent and a
    complete-mode re-emit replaces stale totals.  Empty micro-batches commit
    nothing.  -> {batches, rows}, counting only batches that committed rows."""
    metrics = {"batches": 0, "rows": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        k = F.lit(int(batch_id)) if key is None else key
        r = store.upsert_stage(stage, batch_df.withColumn(key_col, k.cast("long")), key_col)
        if not r["skipped"]:
            metrics["batches"] += 1
            metrics["rows"] += r["rows_written"]

    q = (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return metrics


def read_events_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of event rows (scene-feed analog)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts + sums with late-data handling."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_windowed_to_lineage(
    spark: SparkSession,
    input_dir: str,
    checkpoint_root: str,
    window: str = "1 hour",
) -> dict:
    """availableNow pipeline: stream -> windowed agg -> lineage drain
    (stage='stream_windows', key = hour bucket).  Complete mode re-emits
    CORRECTED totals for already-seen windows, so the drain's upsert
    overwrites them — run_stage's anti-join would freeze stale counts."""
    agg = windowed_counts(read_events_stream(spark, input_dir), window=window)
    return drain_to_lineage(
        agg,
        LineageStore(spark, checkpoint_root),
        "stream_windows",
        "bucket",
        F.unix_timestamp("window_start") / 3600,
        f"{checkpoint_root}/_stream_ck",
        output_mode="complete",
    )


def sessionize(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful operator: per-user session windows with a gap timeout
    (applyInPandasWithState) — the X-family extension point under streaming.

    Emits one row per closed session (user_id, session_start, session_end,
    n_events).  Sessions close when the watermark passes start+gap since the
    last event (timeout-based), the standard sessionization pattern.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_minutes * 60 * 1000

    def fn(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        (user_id,) = key

        def row(start, end, n):
            return {
                "user_id": user_id,
                "session_start": pd.Timestamp(start, unit="ms"),
                "session_end": pd.Timestamp(end, unit="ms"),
                "n_events": n,
            }

        cols = ["user_id", "session_start", "session_end", "n_events"]
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame([row(start, end, n)], columns=cols)
            return

        ts_list = []
        for pdf in pdfs:
            ts_list.append(pd.to_datetime(pdf["ts"]).astype("int64") // 1_000_000)  # ms
        ts = np.sort(np.concatenate(ts_list))
        # split into gap-separated segments WITHIN the batch (availableNow may
        # deliver hours of data in one micro-batch)
        cut = np.nonzero(np.diff(ts) > gap_ms)[0]
        seg_bounds = np.concatenate([[0], cut + 1, [len(ts)]])
        segs = [
            (int(ts[a]), int(ts[b - 1]), int(b - a))
            for a, b in zip(seg_bounds[:-1], seg_bounds[1:])
        ]
        closed = []
        if state.exists:
            s0, e0, n0 = state.get
            if segs and segs[0][0] - e0 <= gap_ms:
                s, e, n = segs[0]
                segs[0] = (min(s0, s), max(e0, e), n0 + n)
            else:
                closed.append(row(s0, e0, n0))
        closed.extend(row(*seg) for seg in segs[:-1])
        last = segs[-1]
        state.update(last)
        state.setTimeoutTimestamp(last[1] + gap_ms)
        yield pd.DataFrame(closed, columns=cols)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, session_start timestamp, session_end timestamp, n_events long",
            stateStructType="s long, e long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string,"
    " caption string, phash long"
)


def read_images_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of image rows (the continuously-arriving scene
    feed of the north_star; same authoritative input shape as batch)."""
    return spark.readStream.schema(IMAGES_SCHEMA).parquet(input_dir)


def run_image_index_to_lineage(
    spark: SparkSession,
    input_dir: str,
    store_root: str,
    index_names: list[str] | None = None,
) -> dict:
    """Streaming raster pipeline: images stream -> the batch decode+index
    kernel (indices.index_stats, stateless per row) -> lineage drain
    (stage='stream_index', part_key = micro-batch id)."""
    from eoreader_spark.functions import indices

    stats = indices.index_stats(
        read_images_stream(spark, input_dir), index_names or ["NDVI", "NDWI"]
    )
    return drain_to_lineage(
        stats,
        LineageStore(spark, store_root),
        "stream_index",
        "bucket",
        None,
        f"{store_root}/_stream_index_ck",
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within the
    watermark horizon (`dropDuplicatesWithinWatermark` — state for a key is
    held only until the watermark passes it, so state size is bounded by
    arrival rate x horizon, never by total stream length; a plain
    dropDuplicates on an unbounded stream would grow state forever).  The
    training-pipeline analog of operators/dedup.exact_dedup for continuous
    scene/document feeds — duplicate feed deliveries (re-published scenes,
    at-least-once sources) collapse to one row."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_dedup_to_lineage(
    spark: SparkSession,
    input_dir: str,
    root: str,
    keys: list[str] | None = None,
) -> dict:
    """Deduped stream -> lineage drain (stage='stream_dedup').  Partition
    key = micro-batch id: a retried batch dynamically OVERWRITES its own
    partition (idempotent, the standard exactly-once foreachBatch recipe)
    and can never clobber rows another batch appended."""
    deduped = dedup_stream(read_events_stream(spark, input_dir), keys=keys)
    return drain_to_lineage(
        deduped,
        LineageStore(spark, root),
        "stream_dedup",
        "batch_key",
        None,
        f"{root}/_stream_ck_dedup",
    )
