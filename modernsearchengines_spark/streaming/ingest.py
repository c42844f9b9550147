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

from ..operators import checkpoint, indexer


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
