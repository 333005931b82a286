"""Streaming STAC item ingestion (round 8).

A live archive publishes one STAC item document per scene into object
storage (the exact layout `sources/stac.write_stac_catalog` produces:
``root/items/<image_id>.json``); this module tails that directory as a
Structured Streaming FILE SOURCE, so newly published scenes are
discovered incrementally, parsed with the same explicit schema as the
batch path, folded into windowed arrival statistics and committed per
micro-batch by ``events.drain_to_lineage`` — the same drain, and the same
LineageStore commit body, as every other stream and batch stage.

Reference analog: eoreader's Reader.open on a STAC item
(/root/reference/eoreader/reader.py:673-738) is a batch pull of one
item; the production shape of "watch an archive, process every new
scene" is this feed.  The parse is `sources/stac.open_stac_items` — the
explicit-schema from_json projection — applied to an unbounded source,
so no executor ever JSON-infers and the stream stays whole-stage-codegen
JVM-side.

Scale story: the file source checkpoints discovered-file state, so each
item document is processed exactly once per query; discovery cost is a
directory listing per trigger (object-store list calls, not item
reads), and ``maxFilesPerTrigger`` bounds micro-batch size so a backlog
of millions of items drains in bounded-memory batches rather than one
giant batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import LineageStore
from ..sources import stac
from .events import drain_to_lineage


def read_stac_item_stream(
    spark: SparkSession,
    items_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tail a STAC ``items/`` directory -> stream of scene rows.

    Each item document is one file (wholetext), parsed by the batch
    path's explicit-schema projection (stac.open_stac_items), so the
    streaming and batch readers can never drift."""
    reader = spark.readStream.format("text").option("wholetext", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(items_dir)
    return stac.open_stac_items(raw.withColumnRenamed("value", "stac_json"))


def windowed_arrivals(
    items: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Tumbling-window arrival statistics per constellation with late-item
    handling: item count, mean cloud cover, best (minimum) GSD.  The
    watermark bounds state for out-of-order publications (an archive
    backfilling old scenes)."""
    return (
        items.withWatermark("datetime", watermark)
        .groupBy(F.window("datetime", window).alias("w"), "constellation")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("cloud_cover"), 4).alias("avg_cc"),
            F.round(F.min("pixel_size"), 2).alias("best_gsd"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "constellation",
            "n_items",
            "avg_cc",
            "best_gsd",
        )
    )


def run_stac_feed_to_lineage(
    spark: SparkSession,
    items_dir: str,
    store_root: str,
    window: str = "1 day",
    watermark: str = "2 days",
    max_files_per_trigger: int | None = None,
) -> dict:
    """availableNow pipeline: item feed -> windowed arrivals ->
    events.drain_to_lineage (stage='stream_stac', key = day bucket).
    Complete mode re-emits corrected totals for already-seen windows, so
    the drain's upsert replaces them (as in run_windowed_to_lineage)."""
    agg = windowed_arrivals(
        read_stac_item_stream(spark, items_dir, max_files_per_trigger),
        window=window,
        watermark=watermark,
    )
    return drain_to_lineage(
        agg,
        LineageStore(spark, store_root),
        "stream_stac",
        "bucket",
        F.unix_timestamp("window_start") / 86400,
        f"{store_root}/_stream_stac_ck",
        output_mode="complete",
    )
