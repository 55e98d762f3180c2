"""Structured Streaming surface over the events table.

The reference is batch-iterative only (SURVEY §2.2: no watermarks, windows,
or streaming state anywhere in /root/reference); this module adds the
streaming capabilities a modern engine owes its users, with the batch twin
(`events_hourly` in the declared query set) oracle-checked — the streaming
path is asserted equal to the batch path in tests, which is exactly the
Dataset-duality guarantee Structured Streaming makes.

The events parquet stores ts as TIMESTAMP(NANOS); Spark 4.1+ reads that
natively as TIMESTAMP_NTZ (micros truncation — lossless for this data), so
the stream schema declares NTZ and ``read_events_stream`` casts to the
session-TZ TimestampType the engine standardizes on (session TZ is pinned
UTC in get_session, so the instant is unchanged — same normalization as the
batch loader, gmr_spark/sources/tables.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQuery

EVENTS_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),  # see module docstring
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_events_stream(spark: SparkSession, sf_dir: str,
                       options: dict[str, str] | None = None) -> DataFrame:
    """File-source stream over the events parquet with ts normalized to
    TimestampType — the single entry point for every streaming query here.
    (The file source requires a directory; glob-filter to the events file.)
    Epoch arithmetic, not a cast: see sources/tables.py — a plain NTZ cast
    would shift instants by the session TZ offset on non-UTC sessions.
    ``options`` passes reader options through (e.g. maxFilesPerTrigger to
    split a multi-file corpus into micro-batches — the ``stream`` family of
    scripts/scale.py)."""
    reader = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
    )
    for k, val in (options or {}).items():
        reader = reader.option(k, val)
    raw = reader.parquet(sf_dir)
    return raw.withColumn("ts", F.timestamp_micros(F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))


def _windowed_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("hour_epoch"),
            "event_type", "n", "total_value",
        )
    )


def events_hourly_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming hourly rollup (declared, oracle-checked):
    (hour_epoch BIGINT, event_type, n BIGINT, total_value DOUBLE)."""
    from gmr_spark.sources.tables import load_tables

    return _windowed_agg(load_tables(spark, sf_dir)["events"])


def start_events_hourly_stream(spark: SparkSession, sf_dir: str,
                               query_name: str = "events_hourly_stream") -> StreamingQuery:
    """File-source streaming version of the same rollup: watermarked event
    time, complete-mode memory sink (for test/demo; production sinks swap in
    via writeStream options). One micro-batch drains the parquet file."""
    events = read_events_stream(spark, sf_dir)
    agg = _windowed_agg(events.withWatermark("ts", "1 hour"))
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def _sliding_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_epoch"),
            "event_type", "n", "total_value",
        )
    )


def events_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of a SLIDING-window rollup (2h windows, 1h slide): every
    event lands in exactly two windows. Spark's ``window()`` generator
    expands the assignment row-locally before the one groupBy shuffle — at
    100 TB the shuffle doubles, which is the honest cost of overlapping
    windows on any engine. (window_epoch BIGINT, event_type, n BIGINT,
    total_value DOUBLE)."""
    from gmr_spark.sources.tables import load_tables

    return _sliding_agg(load_tables(spark, sf_dir)["events"])


def start_events_sliding_stream(spark: SparkSession, sf_dir: str,
                                query_name: str = "events_sliding_stream") -> StreamingQuery:
    """Streaming version of the sliding rollup (same plan + watermark)."""
    events = read_events_stream(spark, sf_dir)
    agg = _sliding_agg(events.withWatermark("ts", "1 hour"))
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def _session_agg(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Native session windows (30-min gap), the state-store sessionization
    operator — vs ``operators.relational.sessionize`` which builds the same
    sessions out of lag/flag/running-sum windows. Timestamps are truncated
    to whole seconds BEFORE windowing so the session-break decision
    (gap >= 1800 s) is integral on both engines: Spark's session_window
    merges on exact microsecond arithmetic, while the DuckDB twin works in
    truncated epoch seconds — sub-second gap differences would otherwise
    flip a merge at the 1800 s boundary."""
    tsec = F.timestamp_seconds(F.col("ts").cast("long"))
    truncated = events.withColumn("tsec", tsec)
    if watermark is not None:
        # the watermark must ride the SAME event-time column session_window
        # keys on (the truncated one), not the raw ts it derives from
        truncated = truncated.withWatermark("tsec", watermark)
    return (
        truncated
        .groupBy(F.session_window("tsec", "30 minutes").alias("w"),
                 F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start_epoch"),
            F.col("w.end").cast("long").alias("session_end_epoch"),
            "n_events", "total_value",
        )
    )


def events_session_windows_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming session-window rollup (declared,
    oracle-checked): (user_id, session_start_epoch, session_end_epoch,
    n_events, total_value); session_end = last event + gap."""
    from gmr_spark.sources.tables import load_tables

    return _session_agg(load_tables(spark, sf_dir)["events"])


def start_events_session_stream(spark: SparkSession, sf_dir: str,
                                query_name: str = "events_session_stream") -> StreamingQuery:
    """Streaming session windows: watermarked event time, append mode (the
    state store emits a session once the watermark passes its close — the
    production shape; sessions still open at end-of-input stay in state,
    which the duality test accounts for)."""
    events = read_events_stream(spark, sf_dir)
    agg = _session_agg(events, watermark="0 seconds")
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
