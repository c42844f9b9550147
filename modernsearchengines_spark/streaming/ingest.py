"""Incremental ingestion demo: Structured Streaming → index segments.

The reference has NO streaming surface (SURVEY §2.10): its crawler is an
incremental batch process with a pickle checkpoint.  The Spark-native
analogue offered here is a ``foreachBatch`` pipeline: a stream of docs
(file source in production; any streaming DataFrame here) is cleaned, given
xxhash64(url) doc ids and written per micro-batch as an enriched segment
``enriched/segment=stream<epoch>`` by checkpoint.write_enriched_segment —
the same segment the batch builds write (doc stats + local postings,
length cap included), so indexer.score_and_layout over the accumulated
segments turns them into a queryable index.

This keeps exactly-once semantics via the streaming checkpoint + idempotent
per-batch parquet directories, mirroring the `_segments` lineage protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import checkpoint, indexer


def windowed_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window aggregation (the streaming twin of the
    batch ``events_hourly`` contract entry).

    Append-mode semantics: a window row is emitted exactly once, when the
    event-time watermark (max observed ts − ``watermark``) passes the
    window end; later-than-watermark stragglers are dropped — hence the
    10-minute default late tolerance (a 1-second watermark would silently
    drop any mildly out-of-order event; the deterministic-replay test
    passes ``watermark="1 second"`` explicitly).  State is
    O(open windows × groups) and ages out with the watermark — the
    standard unbounded-stream formulation (no growing state, unlike a
    naive groupBy on event time).  tests/test_streaming_sessions.py
    replays a time-split file sequence and asserts the emitted rows equal
    the batch aggregation restricted to closed windows.
    """
    # watermarks require TIMESTAMP (with zone); fixture tables carry NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("ts_hour"), "event_type", "n_events"
        )
    )


def start_ingest(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """writeStream.foreachBatch writing one enriched segment per
    micro-batch under ``out_dir/enriched``."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        docs = indexer.assign_doc_ids(indexer.clean_docs(batch_df))
        checkpoint.write_enriched_segment(docs, out_dir, f"stream{epoch_id}")

    return (
        stream_df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
