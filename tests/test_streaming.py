"""Structured Streaming tests: batch/stream duality on the events table.

The stream source is the sf0.001 events parquet split into 3 files so
availableNow processes multiple microbatches (maxFilesPerTrigger=1)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from geokitten_spark.streaming import (
    read_events_stream,
    hourly_counts_stream,
    stateful_user_counts,
    run_to_memory,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_src"))
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.repartition(3).write.mode("overwrite").parquet(d)
    return d


def test_hourly_stream_equals_batch(spark, events_stream_dir, tmp_path):
    stream = read_events_stream(spark, events_stream_dir)
    agg = hourly_counts_stream(stream)
    run_to_memory(agg, "hourly_stream", str(tmp_path / "ckpt1"), output_mode="complete")
    got = {
        (r.hour, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("hourly_stream").collect()
    }
    batch = (
        spark.read.parquet(events_stream_dir)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    want = {(r.hour, r.event_type): (r.n, r.v) for r in batch.collect()}
    assert got == want


def test_stateful_user_counts_final_state(spark, events_stream_dir, tmp_path):
    stream = read_events_stream(spark, events_stream_dir)
    counts = stateful_user_counts(stream)
    run_to_memory(counts, "user_counts", str(tmp_path / "ckpt2"), output_mode="update")
    # update mode emits one row per key per microbatch: the LAST row per
    # user carries the final running count
    import pandas as pd

    pdf = spark.table("user_counts").toPandas()
    final = pdf.groupby("user_id")["n_events"].max()
    batch = (
        spark.read.parquet(events_stream_dir).groupBy("user_id").count().toPandas()
    )
    want = dict(zip(batch["user_id"], batch["count"]))
    assert dict(final) == want


def test_stream_checkpoint_resume(spark, events_stream_dir, tmp_path):
    """Restarting from the same checkpoint reprocesses nothing (no new
    files) — the streaming face of the snapshot/resume contract."""
    ck = str(tmp_path / "ckpt3")
    stream = read_events_stream(spark, events_stream_dir)
    run_to_memory(hourly_counts_stream(stream), "resume1", ck, "complete")
    n1 = spark.table("resume1").count()
    # second run, same checkpoint: availableNow finds no new files
    stream2 = read_events_stream(spark, events_stream_dir)
    run_to_memory(hourly_counts_stream(stream2), "resume2", ck, "complete")
    n2 = spark.table("resume2").count()
    assert n1 > 0 and n2 == 0  # nothing new to emit


def test_run_to_memory_restores_conf_at_start(
    spark, events_stream_dir, tmp_path, monkeypatch, caplog
):
    """The session's shuffle width is back to its old value once
    ``start()`` returns (before the drain); the checkpoint still pins the
    chosen state-partition count, and the choice is logged."""
    import json
    import logging

    from pyspark.sql.streaming.query import StreamingQuery

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []
    await_termination = StreamingQuery.awaitTermination

    def spy(self, *a):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        return await_termination(self, *a)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)
    ck = tmp_path / "ckpt_conf"
    stream = read_events_stream(spark, events_stream_dir)
    with caplog.at_level(logging.INFO, logger="geokitten_spark.streaming.windowed"):
        run_to_memory(
            hourly_counts_stream(stream), "conf_restore", str(ck), "complete",
            shuffle_partitions=3,
        )
    assert prev != "3" and seen == [prev]
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    meta = json.loads((ck / "offsets" / "0").read_text().splitlines()[1])
    assert meta["conf"]["spark.sql.shuffle.partitions"] == "3"
    assert "conf_restore: 3 shuffle partitions" in caplog.text


def test_streaming_spatial_enrichment(spark, tmp_path):
    """Cover-refine PIP join on a STREAM of docs (stateless: broadcast
    joins + mapInPandas compose with Structured Streaming) — result equals
    the batch join."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )
    from geokitten_spark.fixtures import web_documents, bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import PolygonCover
    from geokitten_spark.streaming import run_to_memory

    src = str(tmp_path / "docs_src")
    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    cover = PolygonCover(
        spark, bench_boundaries_pdf(), id_col="region_key",
        wkt_col="geometry_wkt", res=9,
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lon", DoubleType()),
            StructField("lat", DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    enriched = cover.join(stream)
    run_to_memory(enriched, "stream_pip", str(tmp_path / "ck"), output_mode="append")
    got = {(r.doc_id, r.region_key) for r in spark.table("stream_pip").collect()}
    want = {(r.doc_id, r.region_key) for r in cover.join(docs).collect()}
    assert got == want and len(got) > 0


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics, as Spark actually implements them: the
    late-data filter uses the COMMITTED watermark (one batch behind the
    data), so a row older than the watermark arriving once the watermark
    has been committed is dropped — numRowsDroppedByWatermark counts it
    and the already-finalized window is not re-opened."""
    import glob
    import os
    import time as _time

    from geokitten_spark.streaming import (
        read_events_stream, hourly_counts_stream, run_to_memory,
    )

    src = str(tmp_path / "late_src")
    os.makedirs(src, exist_ok=True)
    base = [(i, "2025-06-01 01:15:00", i, "click", 1.0, "{}") for i in range(5)]
    base += [(100 + i, f"2025-06-01 {10 + (i % 3):02d}:15:00", i % 7, "click", 1.0, "{}")
             for i in range(60)]
    filler = [(500, "2025-06-01 12:30:00", 2, "click", 1.0, "{}")]  # advances wm
    late = [(999, "2025-06-01 01:20:00", 1, "click", 1.0, "{}")]  # ~10h late

    def write_file(rows, mtime):
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1) \
         .write.mode("append").parquet(src)
        # file-source batch order is by modification time; writes can share
        # a second, so pin mtimes explicitly (fresh files only)
        for f in glob.glob(os.path.join(src, "*.parquet")):
            if os.path.getmtime(f) > _time.time() - 3600:
                os.utime(f, (mtime, mtime))

    write_file(base, 1)
    write_file(filler, 101)
    write_file(late, 201)

    name = "late_drop_tbl"
    q = run_to_memory(
        hourly_counts_stream(read_events_stream(spark, src), watermark="1 hour"),
        name, str(tmp_path / "ckpt"), output_mode="append",
    )
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
    )
    assert dropped == 1  # exactly the late row
    got = {(str(r.hour), r.event_type): r.n_events
           for r in spark.table(name).collect()}
    # the 01:00 window finalized WITHOUT the late row; batch over the same
    # dir would count 6 there
    assert got[("2025-06-01 01:00:00", "click")] == 5
    batch = spark.read.parquet(src).filter(
        "ts >= '2025-06-01 01:00:00' AND ts < '2025-06-01 02:00:00'"
    ).count()
    assert batch == 6


def test_session_windows_merge_across_microbatches(spark, tmp_path):
    """A user's session split across two microbatch files must merge into
    ONE session in the streaming state store (session_window semantics),
    and the drained result must equal the batch sessionize operator."""
    import glob
    import time as _time

    from geokitten_spark.streaming import session_counts_stream
    from geokitten_spark.operators.temporal import sessionize

    src = str(tmp_path / "sess_src")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # user 1: events at 01:00 and 01:10 (file A), 01:20 (file B) → ONE
    # session (every gap < 30 min) spanning the microbatch boundary.
    # user 2: 01:00 (A) and 03:00 (B) → TWO sessions.
    file_a = [
        (1, "2025-06-01 01:00:00", 1, "click", 1.0, "{}"),
        (2, "2025-06-01 01:10:00", 1, "click", 1.0, "{}"),
        (3, "2025-06-01 01:00:00", 2, "click", 1.0, "{}"),
    ]
    file_b = [
        (4, "2025-06-01 01:20:00", 1, "click", 1.0, "{}"),
        (5, "2025-06-01 03:00:00", 2, "click", 1.0, "{}"),
    ]

    def write_file(rows, mtime):
        spark.createDataFrame(rows, cols).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(src)
        for f in glob.glob(os.path.join(src, "*.parquet")):
            if os.path.getmtime(f) > _time.time() - 3600:
                os.utime(f, (mtime, mtime))

    write_file(file_a, 1)
    write_file(file_b, 101)

    stream = session_counts_stream(read_events_stream(spark, src))
    run_to_memory(stream, "sess_merge_tbl", str(tmp_path / "ckpt"),
                  output_mode="complete")
    got = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in spark.table("sess_merge_tbl").collect()
    }
    assert got == {
        (1, "2025-06-01 01:00:00"): 3,  # merged across the batch boundary
        (2, "2025-06-01 01:00:00"): 1,
        (2, "2025-06-01 03:00:00"): 1,
    }

    batch = sessionize(
        spark.read.parquet(src).select("user_id", "ts"),
        key_col="user_id", ts_col="ts", gap_minutes=30,
    )
    want = {
        (r.user_id, str(r.session_start)): r.n_events for r in batch.collect()
    }
    assert got == want


def test_interval_join_state_eviction_drops_late_click(spark, tmp_path):
    """Stream-stream join state is watermark-bounded: a click arriving
    AFTER the watermark has passed view_ts + horizon finds the view's
    state evicted and produces no match — while an in-horizon pair from
    the same run does match (batch semantics would match both)."""
    import glob
    import time as _time

    from geokitten_spark.streaming import interval_join_stream

    src = str(tmp_path / "ivj_src")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # file A advances BOTH sides' watermarks past 11:00 - 1h = 10:00
    # (each filtered stream tracks its own event-time watermark, so the
    # filler click is what moves the click-side clock): after batch 1 the
    # user-1 view state (01:00, horizon 01:10) is evictable.
    file_a = [
        (1, "2025-06-01 01:00:00", 1, "view", 1.0, "{}"),
        (2, "2025-06-01 11:58:00", 2, "view", 1.0, "{}"),
        (3, "2025-06-01 12:00:00", 9, "view", 1.0, "{}"),   # view-side clock
        (6, "2025-06-01 12:00:00", 9, "click", 1.0, "{}"),  # click-side clock
    ]
    # file B (batch 1): a fresh in-horizon click — AND the batch whose END
    # runs state cleanup with the watermark advanced by batch 0 (state
    # eviction is end-of-batch, so the evicted-state probe needs batch 2)
    file_b = [
        (5, "2025-06-01 11:59:00", 2, "click", 1.0, "{}"),
    ]
    # file C (batch 2): user 1's click at 01:05 is in-window by TIME but
    # its view's state was evicted at the end of batch 1
    file_c = [
        (4, "2025-06-01 01:05:00", 1, "click", 1.0, "{}"),
    ]

    def write_file(rows, mtime):
        spark.createDataFrame(rows, cols).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(src)
        for f in glob.glob(os.path.join(src, "*.parquet")):
            if os.path.getmtime(f) > _time.time() - 3600:
                os.utime(f, (mtime, mtime))

    write_file(file_a, 1)
    write_file(file_b, 101)
    write_file(file_c, 201)

    views = read_events_stream(spark, src).filter(F.col("event_type") == "view")
    clicks = read_events_stream(spark, src).filter(F.col("event_type") == "click")
    j = interval_join_stream(views, clicks, within="10 minutes", watermark="1 hour")
    run_to_memory(j, "ivj_evict_tbl", str(tmp_path / "ckpt"), output_mode="append")
    got = {(r.l_id, r.r_id) for r in spark.table("ivj_evict_tbl").collect()}
    assert (2, 5) in got          # fresh pair matches
    assert (1, 4) not in got      # evicted-state pair does not
    # batch semantics WOULD match both — the difference is the eviction
    ev = spark.read.parquet(src)
    batch = ev.filter("event_type = 'view'").alias("v").join(
        ev.filter("event_type = 'click'").alias("c"),
        F.expr(
            "v.user_id = c.user_id AND c.ts >= v.ts "
            "AND c.ts <= v.ts + interval 10 minutes"
        ),
    )
    assert batch.count() == 3  # (1,4), (2,5), and the filler (3,6) pair
