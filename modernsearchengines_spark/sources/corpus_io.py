"""Corpus table maintenance: idempotent append (SURVEY O-11) and incremental
index refresh.

The reference crawler appends pages with ``INSERT OR IGNORE`` keyed on url
(/root/reference/WebCrawler_basis.py:26-39,75-81).  The Spark-native
equivalent over an Iceberg table is ``MERGE INTO docs USING new ON url WHEN
NOT MATCHED THEN INSERT``; without the Iceberg runtime in this sandbox the
same observable semantics are a left-anti join + append to the Parquet
corpus directory — new urls land, existing urls are ignored, re-running the
same batch is a no-op (exactly-once by key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio


def append_new_docs(
    spark: SparkSession, corpus_dir: str, new_docs: DataFrame
) -> int:
    """INSERT-OR-IGNORE-by-url append; returns the number of rows added.

    Iceberg DDL equivalent:
        MERGE INTO docs t USING new_docs s ON t.url = s.url
        WHEN NOT MATCHED THEN INSERT *

    All metadata ops go through the Hadoop FileSystem API (fsio), so the
    protocol works unchanged on hdfs://, s3a://, or explicit file: URIs.
    """
    new_docs = new_docs.dropDuplicates(["url"])
    if fsio.is_dir(spark, corpus_dir) and any(
        name.endswith(".parquet") for name in fsio.listdir(spark, corpus_dir)
    ):
        existing = spark.read.parquet(corpus_dir)
        to_add = new_docs.join(
            existing.select("url"), "url", "left_anti"
        ).select(*existing.columns)
    else:
        fsio.mkdirs(spark, corpus_dir)
        to_add = new_docs
    # Materialize the anti-join into a staging dir BEFORE touching the
    # target (writing into the directory being scanned would race the read),
    # then move the staged files in — the poor man's snapshot commit.  The
    # underscore prefix keeps half-moved staging dirs invisible to readers.
    import uuid

    staging = fsio.join(corpus_dir, f"_staging_{uuid.uuid4().hex[:8]}")
    to_add.write.mode("overwrite").parquet(staging)
    n = spark.read.parquet(staging).count()
    if n:
        for name in fsio.listdir(spark, staging):
            if name.endswith(".parquet"):
                fsio.move(
                    spark,
                    fsio.join(staging, name),
                    fsio.join(
                        corpus_dir, f"batch_{uuid.uuid4().hex[:8]}_{name}"
                    ),
                )
    fsio.rmtree(spark, staging)
    return n


def append_to_index(
    spark: SparkSession, index_dir: str, new_docs: DataFrame
) -> int:
    """Incremental index refresh: append the new docs' postings and
    re-finalize ONLY the small derived tables — the existing posting files
    are never rewritten (the whole point of the deferred-scoring (tf, dl)
    layout, indexer.bm25_expr).  Returns the number of docs appended.

    Steps (the build's own pieces, indexer module docstring):
      1. clean + id the batch, drop urls already in doc_stats (INSERT OR
         IGNORE semantics, same key as :func:`append_new_docs`);
      2. tokenize the survivors into a new enriched segment — the batch's
         one evaluation: its size is counted from the written segment, and
         an empty segment is removed and nothing else is touched — then
         run the collision guard over old ∪ new doc stats
         (indexer.finalize_stats) before any table is touched;
      3. bucket-layout the segment APPEND-mode into ``postings/``
         (checkpoint.layout_segment — the unpruned layout every build
         writes, so a term whose df crosses the threshold through this
         batch finds all its postings already on disk);
      4. refresh doc_stats (append) and corpus_stats, and merge the
         batch's df (indexer.enriched_term_df over the new segment) into
         the unpruned ``term_df`` — old ⊎ batch, summed per term, written
         sorted by term to an underscore-prefixed staging dir and swapped
         in — then drop the consumed enriched segment.  No posting file
         is read: the refresh costs O(batch + vocabulary), and the terms
         frame (df>5, idf from the new N) is derived from term_df when
         the index is opened.  A crash after the postings append and
         before the swap leaves postings, doc_stats and corpus_stats
         ahead of term_df, and the segment's ``enriched/segment=append-*``
         directory behind; re-running the batch cannot repair it (its
         urls are already in doc_stats), so such an index needs a
         rebuild.  A crash inside the swap (old term_df deleted, staging
         not yet renamed) leaves no ``term_df/`` and the complete merged
         table in ``_term_df_*``.

    Near-duplicates of ALREADY-INDEXED docs are not detected here (the
    batch is deduped internally; url is the append key) — cross-batch
    simhash dedup is a periodic compaction concern, matching the
    reference's retroactive cleanup (topic.py:156-174).
    """
    import uuid

    from ..operators import checkpoint, indexer

    # Dedup the batch BY THE APPEND KEY first: clean_docs only collapses
    # identical-text simhash dupes, so two same-url rows with different text
    # would otherwise both survive, share doc_id=xxhash64(url), and append
    # duplicate doc_id rows + doubled postings — invisible to the collision
    # guard (both countDistincts collapse identically).  Keep-first is
    # arbitrary-but-deterministic only per-batch, matching append_new_docs.
    new_docs = new_docs.dropDuplicates(["url"])

    doc_stats_path = f"{index_dir}/doc_stats"
    existing = spark.read.parquet(doc_stats_path)

    clean = indexer.clean_docs(new_docs)
    docs = indexer.assign_doc_ids(clean).join(
        existing.select("url"), "url", "left_anti"
    )

    # Write first, count the written rows: counting the anti-joined batch
    # up front would run clean, simhash and the anti-join twice.
    seg = f"append-{uuid.uuid4().hex[:8]}"
    seg_dir = f"{index_dir}/enriched/segment={seg}"
    checkpoint.write_enriched_segment(docs, index_dir, seg)
    new_stats = spark.read.parquet(seg_dir).select(
        "doc_id", "url", "warc_ts", "aug_len", "doc_len"
    )
    n_new = new_stats.count()
    if n_new == 0:
        fsio.rmtree(spark, seg_dir)
        return 0
    _, _, corpus_stats = indexer.finalize_stats(
        existing.unionByName(new_stats)
    )

    checkpoint.layout_segment(spark, index_dir, seg)
    new_stats.write.mode("append").parquet(doc_stats_path)
    corpus_stats.write.mode("overwrite").parquet(f"{index_dir}/corpus_stats")

    # Stage the merged vocabulary BEFORE touching term_df (it is read
    # while the merge writes), then swap it in.
    term_df_dir = f"{index_dir}/term_df"
    staging = f"{index_dir}/_term_df_{uuid.uuid4().hex[:8]}"
    (
        spark.read.parquet(term_df_dir)
        .unionByName(indexer.enriched_term_df(spark.read.parquet(seg_dir)))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .orderBy("term")
        .write.mode("overwrite")
        .parquet(staging)
    )
    fsio.rmtree(spark, term_df_dir)
    fsio.move(spark, staging, term_df_dir)
    fsio.rmtree(spark, seg_dir)
    return n_new
