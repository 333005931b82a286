import time

from pyspark.sql import functions as F

from eoreader_spark.streaming import events as ev

SF = "/root/testdata/sf0.001"


def _stage_events(spark, tmp_path, parts=2):
    """Copy the events table into a stream-input dir in two chunks."""
    src = spark.read.parquet(f"{SF}/events.parquet")
    half = src.count() // 2
    a = src.orderBy("event_id").limit(half)
    b = src.orderBy("event_id").exceptAll(a)
    in_dir = str(tmp_path / "in")
    a.coalesce(1).write.mode("append").parquet(in_dir)
    b.coalesce(1).write.mode("append").parquet(in_dir)
    return in_dir, src


def test_windowed_stream_matches_batch(spark, tmp_path):
    in_dir, src = _stage_events(spark, tmp_path)
    metrics = ev.run_windowed_to_lineage(spark, in_dir, str(tmp_path / "ck"))
    assert metrics["batches"] >= 1

    from eoreader_spark.lineage import LineageStore

    store = LineageStore(spark, str(tmp_path / "ck"))
    got = store.read_stage("stream_windows")
    want = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    g = {
        (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in got.collect()
    }
    w = {
        (r.w.start, r.event_type): (r.n, round(r.s, 6)) for r in want.collect()
    }
    assert g == w
    # lineage rows committed per hour bucket
    assert store.completed_keys("stream_windows").count() > 0


def test_sessionize_stateful(spark, tmp_path):
    # synthetic: user 1 has two bursts 2h apart; user 2 one burst.
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for m in (0, 5, 10):  # burst A user 1
        rows.append((eid, base + dt.timedelta(minutes=m), 1, "x", 1.0, "{}")); eid += 1
    for m in (180, 185):  # burst B user 1 (gap 170min > 30min)
        rows.append((eid, base + dt.timedelta(minutes=m), 1, "x", 1.0, "{}")); eid += 1
    for m in (0, 1):
        rows.append((eid, base + dt.timedelta(minutes=m), 2, "x", 1.0, "{}")); eid += 1
    # late sentinel far in the future so the watermark closes everything
    rows.append((eid, base + dt.timedelta(days=2), 99, "x", 1.0, "{}"))
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(rows, ev.EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = (
        ev.sessionize(ev.read_events_stream(spark, in_dir), gap_minutes=30, watermark="1 minute")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir).filter("user_id is not null").collect()
    sessions = {(r.user_id, r.n_events) for r in got}
    assert (1, 3) in sessions  # burst A closed
    assert (2, 2) in sessions


def test_windowed_stream_multi_batch_upserts(spark, tmp_path):
    """Two micro-batches touching the SAME hour: the sink must upsert the
    corrected totals, not freeze the first batch's counts."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1, 10, 0, 0)
    in_dir = str(tmp_path / "in")
    r1 = [(1, base, 7, "x", 1.0, "{}"), (2, base + dt.timedelta(minutes=5), 7, "x", 1.0, "{}")]
    spark.createDataFrame(r1, ev.EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)
    ck = str(tmp_path / "ck")
    ev.run_windowed_to_lineage(spark, in_dir, ck)

    # second file: 3 more events in the SAME hour
    r2 = [(3 + i, base + dt.timedelta(minutes=10 + i), 7, "x", 1.0, "{}") for i in range(3)]
    spark.createDataFrame(r2, ev.EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)
    ev.run_windowed_to_lineage(spark, in_dir, ck)

    from eoreader_spark.lineage import LineageStore

    store = LineageStore(spark, ck)
    got = store.read_stage("stream_windows").filter("event_type = 'x'").collect()
    assert len(got) == 1 and got[0].n_events == 5  # corrected, not frozen at 2
    # metrics dedupe by latest commit
    m = {r.stage: r for r in store.metrics().collect()}
    assert m["stream_windows"].rows == 1


def test_streaming_image_index_matches_batch(spark, tmp_path):
    """Raster streaming (§2.9 + the image payload): a stream of image files
    through the SAME decode+index kernel as batch must produce exactly the
    batch results, committed per micro-batch into the lineage store."""
    from eoreader_spark import datagen
    from eoreader_spark.functions import indices
    from eoreader_spark.streaming import events as streaming

    in_dir = str(tmp_path / "images_in")
    store_root = str(tmp_path / "store")
    images = datagen.gen_images(spark, 8)
    images.write.mode("overwrite").parquet(in_dir)

    m = streaming.run_image_index_to_lineage(
        spark, in_dir, store_root, index_names=["NDVI", "NDWI"]
    )
    assert m["rows"] == 16  # 8 images x 2 indices

    from eoreader_spark.lineage import LineageStore

    store = LineageStore(spark, store_root)
    got = {
        (r.image_id, r.index_name): (r.mean, r.min, r.max)
        for r in store.read_stage("stream_index").collect()
    }
    want = {
        (r.image_id, r.index_name): (r.mean, r.min, r.max)
        for r in indices.index_stats(spark.read.parquet(in_dir), ["NDVI", "NDWI"]).collect()
    }
    assert got == want
    # and the lineage table recorded the micro-batch commit
    stages = {r.stage for r in store.lineage().collect()}
    assert "stream_index" in stages


def test_stream_dedup_matches_batch(spark, tmp_path):
    """Duplicate feed deliveries (the same events file staged twice, i.e.
    an at-least-once source) collapse to exactly the batch-distinct rows;
    state is watermark-bounded (dropDuplicatesWithinWatermark)."""
    src = spark.read.parquet(f"{SF}/events.parquet").orderBy("event_id").limit(200)
    in_dir = str(tmp_path / "in_dup")
    src.coalesce(1).write.mode("append").parquet(in_dir)
    src.coalesce(1).write.mode("append").parquet(in_dir)  # re-delivery

    metrics = ev.run_dedup_to_lineage(spark, in_dir, str(tmp_path / "ckd"))
    assert metrics["batches"] >= 1

    from eoreader_spark.lineage import LineageStore

    store = LineageStore(spark, str(tmp_path / "ckd"))
    got = store.read_stage("stream_dedup")
    assert got.count() == 200  # each event exactly once despite 2x delivery
    assert got.select("event_id").distinct().count() == 200
    want = {r.event_id for r in src.select("event_id").collect()}
    assert {r.event_id for r in got.select("event_id").collect()} == want


def test_stream_dedup_redelivery_commits_nothing(spark, tmp_path):
    """A later run that only sees a re-delivered file gets all-duplicate
    micro-batches: the drain must commit no batch, append no lineage row
    and leave the stored rows as they were."""
    from eoreader_spark.lineage import LineageStore

    src = spark.read.parquet(f"{SF}/events.parquet").orderBy("event_id").limit(200)
    in_dir = str(tmp_path / "in_dup")
    root = str(tmp_path / "ckd")
    src.coalesce(1).write.mode("append").parquet(in_dir)
    assert ev.run_dedup_to_lineage(spark, in_dir, root)["batches"] >= 1
    store = LineageStore(spark, root)
    lineage_rows = store.lineage().count()

    src.coalesce(1).write.mode("append").parquet(in_dir)  # re-delivery
    metrics = ev.run_dedup_to_lineage(spark, in_dir, root)
    assert metrics["batches"] == 0
    assert store.lineage().count() == lineage_rows
    assert store.read_stage("stream_dedup").count() == 200


def test_stac_feed_matches_batch(spark, tmp_path):
    """Round 8: the streaming STAC item feed (file-source tail of the
    items/ directory) parses with the batch schema and its windowed
    arrival stats equal the batch aggregation over read_stac_catalog;
    maxFilesPerTrigger bounds micro-batches so a backlog drains
    incrementally (exactly-once per document via the source checkpoint)."""
    from eoreader_spark import datagen
    from eoreader_spark.lineage import LineageStore
    from eoreader_spark.sources import stac
    from eoreader_spark.streaming import stac_feed

    scenes = datagen.gen_scenes(spark, 48)
    root = str(tmp_path / "cat")
    stac.write_stac_catalog(stac.to_stac_items(scenes).repartition(4), root)

    metrics = stac_feed.run_stac_feed_to_lineage(
        spark, f"{root}/items", str(tmp_path / "store"),
        max_files_per_trigger=13,
    )
    assert metrics["batches"] > 1  # the backlog drained in bounded batches

    store = LineageStore(spark, str(tmp_path / "store"))
    got = {
        (r.window_start, r.constellation): (r.n_items, r.avg_cc, r.best_gsd)
        for r in store.read_stage("stream_stac").collect()
    }
    batch_items = stac.read_stac_catalog(spark, root)
    want = {
        (r.window_start, r.constellation): (r.n_items, r.avg_cc, r.best_gsd)
        for r in stac_feed.windowed_arrivals(batch_items).collect()
    }
    assert got == want
    assert sum(v[0] for v in want.values()) == 48
