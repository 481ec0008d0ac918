"""Structured Streaming over the event/metrics surface (SURVEY.md §2.8).

The reference's 'streaming' is an in-process ring buffer sampled every
30 s with threshold alerts (/root/reference/src/monitoring.py:153-253)
— no event time, no late data. Here the same capabilities are real
streams:

- ST1 events: file-source readStream → append sink; 'tail' is a batch
  query over the sink table (retention = table TTL, not a ring).
- ST2 windowed aggregates: tumbling/sliding event-time windows WITH
  watermark — the late-data semantics the reference never defined
  (SURVEY §7.3 hard part #2): default watermark 1 hour, late rows
  beyond it dropped, documented here as the engine contract.
- ST3 threshold alerts: filter + severity CASE on a metrics stream;
  warning at 80, critical at 90 (monitoring.py:209-253).

Every transformation is also valid in batch (Spark's unified model) —
the tests run each query both ways and require identical results on
identical input, which is the strongest correctness statement
streaming can make without a live source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Testdata generations vary their ts physical type — TIMESTAMP(NANOS)
# (readable only as int64 via spark.sql.legacy.parquet.nanosAsLong),
# naive µs (reads as TIMESTAMP_NTZ), or Spark-written LTZ. The source
# sniffs the footer of whatever already sits in the directory; when
# the directory is still empty (stream started before the first file
# lands), it falls back to EVENT_SCHEMA and the file source idles
# until data arrives.

DEFAULT_WATERMARK = "1 hour"

# ST3 thresholds (reference monitoring.py:209-253, config.yaml:25-26)
WARNING_THRESHOLD = 80.0
CRITICAL_THRESHOLD = 90.0


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """ST1: file-source stream of events. Each trigger picks up new
    files — the streaming analog of the reference's append ring.

    File streams need a declared schema; declaring the wrong timestamp
    physical type silently corrupts values (int64 µs read as nanos is
    1000x off). So the source sniffs the footer of whatever already
    sits in the directory with a one-file batch read — handling all
    three generations of event parquet: TIMESTAMP(NANOS) (int64 via
    the legacy conf), TIMESTAMP(MICROS) naive (reads as NTZ), and
    Spark-written TIMESTAMP_LTZ. ts is normalized to TIMESTAMP
    (UTC-pinned) so downstream watermarks/windows/state timeouts see
    one type. The session's UTC timezone and nanosAsLong come from
    ``session._RUNTIME_CONFS``."""
    try:
        sniffed = spark.read.parquet(path).schema
    except Exception:
        # Fall back ONLY for a genuinely empty directory (stream
        # started before the first file): the source then idles on the
        # declared µs schema. NOTE this commits the stream to µs/LTZ
        # parquet — if a NANOS-generation file arrives later the first
        # microbatch fails (restart the stream to re-sniff). Any other
        # sniff failure (corrupt footer, permissions) is a real error
        # and surfaces now, not as a delayed streaming failure.
        has_files = any(
            name.endswith(".parquet")
            for _, _, files in os.walk(path)
            for name in files
        )
        if has_files:
            raise
        sniffed = EVENT_SCHEMA
    reader = spark.readStream.schema(sniffed)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    ts_type = sniffed["ts"].dataType
    if isinstance(ts_type, T.LongType):  # nanos-as-long generation
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:  # NTZ or LTZ — identity values under session.py's UTC tz
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """ST2: per-type tumbling (or sliding when `slide` is given)
    event-time window counts + value stats. Works on a stream (with
    watermark state eviction) and on a batch frame (watermark is a
    no-op in batch) — used both ways in tests.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def threshold_alerts(
    metrics: DataFrame,
    metric_col: str = "value",
    warning: float = WARNING_THRESHOLD,
    critical: float = CRITICAL_THRESHOLD,
) -> DataFrame:
    """ST3: per-row alerts with warning/critical severity — the
    reference's get_alerts CASE (monitoring.py:209-253) on a stream."""
    m = F.col(metric_col)
    return metrics.filter(m > warning).withColumn(
        "alert_severity", F.when(m > critical, "critical").otherwise("warning")
    )


def recent_failures(
    events: DataFrame,
    fail_predicate,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    min_failures: int = 3,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """ST3's 'recent failures over the last K jobs' as a sliding
    event-time window (the reference's last-10 ring,
    monitoring.py:236-247): alert when a window holds >= min_failures
    failing rows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.filter(fail_predicate)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_failures"))
        .filter(F.col("n_failures") >= min_failures)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_failures",
        )
    )


def run_available_now(stream_df: DataFrame, sink_name: str, checkpoint: str) -> None:
    """Drain everything currently available into a memory sink and stop
    — the test/availableNow harness (complete mode for aggregates)."""
    has_agg = stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete" if _is_aggregate(stream_df) else "append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _is_aggregate(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().analyzed().toString()


def tail_events(events_table: DataFrame, n: int = 100) -> DataFrame:
    """The reference's /events tail endpoint (monitoring.py:67-69):
    ORDER BY ts DESC LIMIT n over the sink table — retention policy is
    table-level TTL/compaction, not a 1000-row ring."""
    return events_table.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(n)
