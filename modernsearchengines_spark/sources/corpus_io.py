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

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import indexer
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
    """Incremental index refresh, and the one incremental write path (the
    streaming ingest calls it per micro-batch): append the new docs'
    postings and re-finalize ONLY the small derived tables — existing
    posting files are never rewritten (the deferred-scoring (tf, dl)
    layout, indexer.bm25_expr).  Returns the number of docs appended.

    Steps (the build's own pieces, indexer module docstring):
      1. refuse, naming it, while an ``enriched/segment=append-*``
         directory is in the index (crash windows below);
      2. clean + id the batch, drop urls already in doc_stats (INSERT OR
         IGNORE semantics, same key as :func:`append_new_docs`);
      3. write the survivors as a new enriched segment — the batch's one
         evaluation — and read it once; the doc stats, postings and df
         below all come from that frame.  An empty segment is removed and
         nothing else is touched.  Then run the collision guard over
         old ∪ new doc stats (indexer.finalize_stats).  If this step
         raises, the segment is removed and no table has been touched;
      4. append the segment's postings (indexer.write_postings — the
         unpruned layout every build writes, so a term whose df crosses
         the threshold through this batch finds its postings on disk);
      5. refresh doc_stats (append) and corpus_stats, and merge the
         batch's df into the unpruned ``term_df`` (old ⊎ batch, summed per
         term, staged by indexer.write_term_df and swapped in), then
         remove the segment.  No posting file is read: the refresh costs
         O(batch + vocabulary); the terms frame is derived on open.

    Crash windows.  An append that stops after step 3 began leaves its
    segment directory, so step 1 refuses every later append:
      * killed inside step 3: no table changed; remove the directory and
        re-run the batch;
      * after the postings append, before the swap: the batch is in
        postings but not yet in term_df (nor, before the doc_stats
        append, in doc_stats); a re-run, were it let through, would
        append its postings twice or repair nothing; rebuild;
      * inside the swap: no ``term_df/``, the complete merged table in
        ``_term_df_*``; rename it to ``term_df``, remove the directory;
      * after the swap: the index is complete; remove the directory.

    Near-duplicates of ALREADY-INDEXED docs are not detected here (the
    batch is deduped internally; url is the append key) — cross-batch
    simhash dedup is a periodic compaction concern, matching the
    reference's retroactive cleanup (topic.py:156-174).
    """
    seg_dir = indexer.segment_dir(index_dir, f"append-{uuid.uuid4().hex[:8]}")
    enriched_dir = seg_dir.rsplit("/", 1)[0]
    for name in fsio.listdir(spark, enriched_dir):
        if name.startswith("segment=append-"):
            raise RuntimeError(
                f"{enriched_dir}/{name} is left by an append that stopped "
                "part-way; see append_to_index's crash windows"
            )

    # Dedup the batch BY THE APPEND KEY first: clean_docs only collapses
    # identical-text simhash dupes, so two same-url rows with different text
    # would otherwise both survive, share doc_id=xxhash64(url), and append
    # duplicate doc_id rows + doubled postings — invisible to the collision
    # guard (both countDistincts collapse identically).  Keep-first is
    # arbitrary-but-deterministic only per-batch, matching append_new_docs.
    new_docs = new_docs.dropDuplicates(["url"])

    doc_stats_path = f"{index_dir}/doc_stats"
    existing = spark.read.parquet(doc_stats_path)
    docs = indexer.assign_doc_ids(indexer.clean_docs(new_docs)).join(
        existing.select("url"), "url", "left_anti"
    )

    # Write first, count the written rows: counting the anti-joined batch
    # up front would run clean, simhash and the anti-join twice.
    try:
        indexer.write_enriched(docs, seg_dir)
        segment = spark.read.parquet(seg_dir)
        new_stats = segment.select(
            "doc_id", "url", "warc_ts", "aug_len", "doc_len"
        )
        n_new = new_stats.count()
        if n_new:
            _, _, corpus_stats = indexer.finalize_stats(
                existing.unionByName(new_stats)
            )
    except BaseException:
        fsio.rmtree(spark, seg_dir)
        raise
    if not n_new:
        fsio.rmtree(spark, seg_dir)
        return 0

    indexer.write_postings(indexer.layout_postings(segment), index_dir, "append")
    new_stats.write.mode("append").parquet(doc_stats_path)
    corpus_stats.write.mode("overwrite").parquet(f"{index_dir}/corpus_stats")

    # Stage the merged vocabulary BEFORE touching term_df (it is read
    # while the merge writes), then swap it in.
    term_df_dir = f"{index_dir}/term_df"
    staging = f"{index_dir}/_term_df_{uuid.uuid4().hex[:8]}"
    indexer.write_term_df(
        spark.read.parquet(term_df_dir)
        .unionByName(indexer.enriched_term_df(segment))
        .groupBy("term")
        .agg(F.sum("df").alias("df")),
        staging,
    )
    fsio.rmtree(spark, term_df_dir)
    fsio.move(spark, staging, term_df_dir)
    fsio.rmtree(spark, seg_dir)
    return n_new
