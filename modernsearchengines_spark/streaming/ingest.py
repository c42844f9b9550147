"""Incremental ingestion: Structured Streaming → an index, one append per
micro-batch.

The reference has NO streaming surface (SURVEY §2.10): its crawler is an
incremental batch process with a pickle checkpoint.  Here a
``foreachBatch`` appends each micro-batch of docs to an index written by
indexer.build_index + write_index, through corpus_io.append_to_index, the
one incremental write path.  After every batch the directory is a complete
index.  The streaming checkpoint records finished epochs, and a replayed
epoch appends nothing (append_to_index drops urls already in doc_stats;
an epoch that stopped part-way makes the next append raise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources import corpus_io


def start_ingest(stream_df: DataFrame, index_dir: str, checkpoint_dir: str):
    """writeStream.foreachBatch appending each micro-batch to the index
    at ``index_dir``; returns the started query."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch, _: corpus_io.append_to_index(
                batch.sparkSession, index_dir, batch
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
