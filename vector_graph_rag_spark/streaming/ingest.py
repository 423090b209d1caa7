"""Structured Streaming ingest — the engine's stream path.

The reference is strictly batch (SURVEY §2.2: no streaming anywhere), so
this is a north-star extension: an append-only event stream aggregated into
tumbling windows with a watermark for late data.  The streamed aggregate
equals the batch one — Spark's unification is the point, and the
``stream_tumbling_30m`` oracle checks it against a batch DuckDB GROUP BY.

For tests/correctness the stream is driven synchronously: file source over
the deterministic events parquet, `availableNow` trigger, memory sink in
`complete` mode (append mode would hold back open windows until the
watermark passes — with a bounded source that means zero output; complete
mode emits every window and stays deterministic).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def file_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a parquet dataset that may be a directory
    (the production shape — partitioned part files) or a single file (the
    driver testdata)."""
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # Directory dataset: stream it directly.
        return spark.readStream.schema(schema).parquet(path)
    # Single-file dataset: the file stream source requires a DIRECTORY, so
    # point it at the parent with a glob filter for the one file.
    # pathGlobFilter matches LEAF file names, which is why this branch must
    # not be used for directories.
    base_dir, file_name = os.path.split(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", file_name)
        .parquet(base_dir)
    )


def _event_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """File-source stream over the events parquet, with the same ts
    normalization as sources.tables.load_table: legacy nanos-as-long files
    are converted JVM-side, and TIMESTAMP_NTZ files (current testdata,
    naive micros) are cast to TIMESTAMP under a UTC session — watermarks
    and window functions require TIMESTAMP."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = file_stream(spark, events_path)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream



def windowed_event_aggregate(
    spark: SparkSession,
    events_path: str,
    window_duration: str = "30 minutes",
    watermark: str = "1 hour",
    slide_duration: str | None = None,
) -> DataFrame:
    """readStream(events) → watermark → tumbling/sliding-window count/sum → batch DF.

    ``slide_duration`` < ``window_duration`` makes windows overlap (each
    event lands in window/slide windows); None = tumbling.

    Returns (window_start_epoch, event_type, n, total_value_micros) — value
    sum in exact integer micros so the result is order-independent.
    """
    stream = _event_stream(spark, events_path)
    win = (
        F.window("ts", window_duration, slide_duration)
        if slide_duration
        else F.window("ts", window_duration)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value_dec"),
        )
    )
    name = "evt_win_" + uuid.uuid4().hex[:12]
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        if query.isActive:
            query.stop()
    return spark.table(name).select(
        F.col("w.start").cast("long").alias("window_start_epoch"),
        "event_type",
        "n",
        F.col("total_value_dec").cast("double").alias("total_value"),
    )


def session_windowed_aggregate(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows: events within ``gap`` of each other merge
    into one session per user (`F.session_window`), state closing once the
    watermark passes the session end.  The declarative twin of the custom
    `applyInPandasWithState` sessionizer (streaming/sessionize.py) — same
    sessions, zero custom state code.

    Returns (user_id, session_start_epoch, n, total_value).
    """
    stream = _event_stream(spark, events_path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value_dec"),
        )
    )
    name = "evt_sess_" + uuid.uuid4().hex[:12]
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        if query.isActive:
            query.stop()
    return spark.table(name).select(
        "user_id",
        F.col("w.start").cast("long").alias("session_start_epoch"),
        "n",
        F.col("total_value_dec").cast("double").alias("total_value"),
    )


def streaming_dedup_keys(
    spark: SparkSession,
    events_path: str,
    keys: list[str] = ("user_id", "event_type"),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first event per key, state expiring with the
    watermark — the stream twin of the batch ``dedup_exact`` operator.

    Uses ``dropDuplicatesWithinWatermark`` so per-key state is dropped once
    the watermark passes (bounded state — a plain ``dropDuplicates`` on a
    stream accumulates keys forever, the dedup analogue of the unbounded
    join-state sin).  Only the key columns are returned: *which* duplicate
    survives depends on arrival order (racy under parallelism), but the key
    set itself is deterministic and oracle-checkable.
    """
    stream = _event_stream(spark, events_path)
    deduped = (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )
    name = "evt_dedup_" + uuid.uuid4().hex[:12]
    query = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        if query.isActive:
            query.stop()
    return spark.table(name)


def stream_stream_interval_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "signup",
    width: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: events of ``left_type`` matched to all
    same-user events in ``(ts, ts + width]`` — the streaming twin of
    ``operators.timeseries.range_join_bucketed``.

    Both sides carry a watermark and the join condition is time-bounded in
    BOTH directions, which is what lets Spark expire join state: a left
    row can stop waiting once the watermark passes ``ts + width``.
    Without the bound, state grows forever — the cardinal stream-join
    sin at scale.  Inner-join matches emit in append mode as soon as both
    sides arrive; with the bounded availableNow source that is every match.
    """
    def _stream():
        return _event_stream(spark, events_path)

    left = (
        _stream()
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        _stream()
        .select(
            F.col("event_id").alias("r_event_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        F.expr(
            f"""
            l_user_id = r_user_id AND
            r_ts > l_ts AND
            r_ts <= l_ts + INTERVAL {width}
            """
        ),
    )
    name = "evt_join_" + uuid.uuid4().hex[:12]
    query = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        if query.isActive:
            query.stop()
    return spark.table(name).select(
        F.col("l_event_id").alias("signup_event_id"),
        F.col("r_event_id").alias("matched_event_id"),
        F.col("l_user_id").alias("user_id"),
    )
