"""Streaming operators over the events stream table.

Batch/stream duality is the design rule: every streaming aggregate here has
a batch twin in ``__spark_entry__`` (events_hourly, sessionize) and the
tests assert the stream's ``availableNow`` result equals the batch result —
the property that makes snapshot-resume + incremental ingestion coherent.

* ``hourly_counts_stream`` — tumbling window + watermark (late data beyond
  1 hour dropped);
* ``stateful_user_counts`` — custom stateful operator via
  ``applyInPandasWithState`` (running per-user event count + last ts),
  the pattern for arbitrary per-key state at 10^12-row scale (state store
  partitioned by key, checkpointed).
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "EVENTS_SCHEMA",
    "read_events_stream",
    "hourly_counts_stream",
    "session_counts_stream",
    "dedup_events_stream",
    "interval_join_stream",
    "stateful_user_counts",
    "run_to_memory",
]

_log = logging.getLogger(__name__)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files (one
    microbatch per maxFilesPerTrigger; new files picked up incrementally)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def hourly_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour window counts with watermark — the streaming twin of
    the batch `events_hourly` query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "total_value")
    )


def session_counts_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Dynamic-gap session windows per user (``F.session_window``) — the
    streaming twin of the batch ``operators.temporal.sessionize``. Sessions
    that span microbatch boundaries merge in the streaming state store, so
    the drained result equals the batch gaps-and-islands computation.

    Scale shape: state is keyed by (user_id, session) and sized by OPEN
    sessions only — with a watermark (append mode) closed sessions evict,
    so state stays O(active users) no matter how long the stream runs."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events_stream(
    events: DataFrame, key_cols: list[str] | None = None, watermark: str = "30 days"
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keyed by
    event_id — duplicates arriving in LATER microbatches (replays,
    at-least-once sources) are dropped as long as they land within the
    watermark horizon.

    Scale shape: dedup state is keyed by event_id and evicted past the
    watermark, so state size is bounded by (arrival rate × horizon), not
    by stream history — the streaming twin of the batch
    ``dedup_exact`` fingerprint groupBy."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    within: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: right-side events within ``within``
    AFTER a left-side event by the same key (view→click attribution).

    Both sides carry watermarks and the join condition time-bounds both
    event times, so each side's buffered state evicts once the other
    side's watermark passes ``l_ts + within`` — state is O(arrival rate ×
    horizon) per side, the only shape that survives an unbounded stream.
    Inner join emits matches eagerly (no watermark wait), so an
    availableNow drain is complete."""
    l = left.withWatermark("ts", watermark).select(
        F.col("event_id").alias("l_id"),
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col("event_id").alias("r_id"),
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
    )
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + interval {within}"
        ),
        "inner",
    )


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("last_ts", TimestampType())]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count + last seen
    ts, via applyInPandasWithState (GroupState keyed by user_id)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n = 0
        last = None
        if state.exists:
            n, last = state.get
        for pdf in pdfs:
            n += len(pdf)
            mx = pdf["ts"].max()
            last = mx if last is None or mx > last else last
        state.update((n, last))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "last_ts": [last]}
        )

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, checkpoint_dir: str,
                  output_mode: str = "complete",
                  shuffle_partitions: int | None = None):
    """Drain the stream with availableNow into an in-memory table; returns
    the finished query (caller reads ``spark.table(name)``).

    ``shuffle_partitions`` sets the stream's state-partition count (pinned
    into the new checkpoint at first start, and logged). The session value
    is restored as soon as ``start()`` returns: the query runs on a clone
    of the session taken inside ``start()``.
    Stateful operators pay a per-partition-per-microbatch state-store
    open/commit cost, so this should track expected state volume, not the
    batch shuffle width: measured at sf0.1, the stream-stream interval join
    drains in 4.3 s at 8 partitions vs 28.2 s at the session's 64 (identical
    results). Default: ``SPARK_GRAFT_STREAM_PARTITIONS`` env, else
    max(8, cores // 4); raise it on real clusters where per-key state is
    large enough to amortize the store overhead.
    """
    import os

    spark = stream_df.sparkSession
    if shuffle_partitions is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", max(8, cpus // 4))
        )
    _log.info(
        "stream %s: %d shuffle partitions (a new checkpoint pins them as its "
        "state partitions)", name, shuffle_partitions,
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return q
