"""Streaming windowed metrics over the WAL (SURVEY.md §2.11).

The MERGE path deliberately avoids watermarks — LWW-against-table-state
handles late events without dropping them (late edits must win, matching
the reference's `is_sorted=False` full-rescan semantics,
/root/reference/tap_github/repository_streams.py:2348-2366). Watermarked
tumbling windows belong on the *metrics* side: event-rate aggregates
where bounded state matters and dropping very-late rows is acceptable.

`stream_window_counts` is the Structured Streaming form (stateful
windowed aggregation + watermark, append mode); `batch_window_counts`
is its batch twin used as the test oracle — identical expression tree,
so the streaming result must equal the batch result on a closed input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _window_agg(df: DataFrame, width: str) -> DataFrame:
    return (
        df.groupBy(F.window("ts", width).alias("w"), F.col("op"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "op",
            "n_events",
        )
    )


def batch_window_counts(
    spark: SparkSession, log_dirs: list[str], width: str = "1 hour"
) -> DataFrame:
    from .job import discover_schema

    schema = discover_schema(spark, *log_dirs)
    return _window_agg(spark.read.schema(schema).parquet(*log_dirs), width)


def stream_window_counts(
    spark: SparkSession,
    log_dirs: list[str],
    checkpoint_dir: str,
    width: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = 4,
) -> DataFrame:
    """Run a watermarked tumbling-window count over the WAL with
    `availableNow` + an in-memory sink; returns the materialized result.

    Watermark semantics: windows close once event time passes
    window_end + watermark; in append mode only closed windows emit.
    With availableNow over a finite log, every window older than
    (max ts - watermark) is emitted; trailing windows stay open (they
    would emit on the next run) — callers compare accordingly.
    """
    from .job import wal_stream

    src = wal_stream(spark, log_dirs, max_files_per_trigger)

    agg = _window_agg(src.withWatermark("ts", watermark), width)
    q = (
        agg.writeStream.format("memory")
        .queryName("window_counts")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("window_counts")
