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
      2. clean + id the batch and probe its doc_ids against doc_stats'
         (doc_id, url) — the append's one doc_stats read: a doc_id held by
         the same url is already indexed and dropped (INSERT OR IGNORE,
         same key as :func:`append_new_docs`); one held by another url is
         a collision, kept with a NULL doc_id so the guard below counts it;
      3. write the survivors as a new enriched segment — the batch's one
         evaluation — and read it once; the doc stats, postings and df
         below all come from that frame.  One aggregate over it gives the
         batch's n, char sum and collision guard
         (indexer.doc_stats_sums); an empty segment is removed and nothing
         else is touched.  corpus_stats becomes N + n and (chars + c) / N'
         from its stored sums (an index written before ``chars`` was
         stored sums doc_stats' aug_len once).  If this step raises, the
         segment is removed and no table has been touched;
      4. on concurrent threads (indexer.run_concurrently): append the
         segment's postings (indexer.write_postings — the unpruned layout
         every build writes, so a term whose df crosses the threshold
         through this batch finds its postings on disk); append doc_stats,
         then overwrite corpus_stats; stage the merged unpruned
         ``term_df`` (old ⊎ batch, summed per term, indexer.write_term_df)
         beside the live one;
      5. once all three have finished, swap the staged ``term_df`` in and
         remove the segment.  No posting file is read and no corpus-wide
         aggregate runs: the refresh costs one narrow doc_stats probe plus
         O(batch + vocabulary); the terms frame is derived on open.

    Crash windows.  Nothing is written before step 3's guard passes.  An
    append that stops after step 3 began leaves its segment directory, so
    step 1 refuses every later append:
      * killed inside step 3: no table changed; remove the directory and
        re-run the batch;
      * inside step 4, or after it but before the swap: any subset of
        postings, doc_stats and corpus_stats may hold the batch, and
        term_df does not; a re-run, were it let through, would append its
        postings twice or repair nothing; rebuild;
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
    indexed_url = F.col("_indexed_url")
    docs = (
        indexer.assign_doc_ids(indexer.clean_docs(new_docs))
        .join(
            spark.read.schema("doc_id long, url string")
            .parquet(doc_stats_path)
            .withColumnRenamed("url", "_indexed_url"),
            "doc_id",
            "left",
        )
        .filter(indexed_url.isNull() | (indexed_url != F.col("url")))
        .withColumn("doc_id", F.when(indexed_url.isNull(), F.col("doc_id")))
    )

    # Write first, aggregate the written rows: counting the probed batch
    # up front would run clean, simhash and the probe twice.
    try:
        schema = indexer.write_enriched(docs, seg_dir)
        segment = spark.read.schema(schema).parquet(seg_dir)
        n_new, chars_new = indexer.doc_stats_sums(segment)
        if n_new:
            stored = (
                spark.read.schema(indexer.CORPUS_STATS_SCHEMA)
                .parquet(f"{index_dir}/corpus_stats")
                .collect()[0]
            )
            chars = stored.chars
            if chars is None:  # written before corpus_stats stored it
                chars = (
                    spark.read.schema("aug_len long")
                    .parquet(doc_stats_path)
                    .agg(F.sum("aug_len"))
                    .collect()[0][0]
                    or 0
                )
            _, corpus_stats = indexer.corpus_stats_frame(
                spark, stored.n_docs + n_new, chars + chars_new
            )
    except BaseException:
        fsio.rmtree(spark, seg_dir)
        raise
    if not n_new:
        fsio.rmtree(spark, seg_dir)
        return 0

    # Stage the merged vocabulary BEFORE touching term_df (it is read
    # while the merge writes), then swap it in once every write is done.
    term_df_dir = f"{index_dir}/term_df"
    staging = f"{index_dir}/_term_df_{uuid.uuid4().hex[:8]}"

    def append_postings() -> None:
        indexer.write_postings(
            indexer.layout_postings(segment), index_dir, "append"
        )

    def append_stats() -> None:
        segment.select(
            "doc_id", "url", "warc_ts", "aug_len", "doc_len"
        ).write.mode("append").parquet(doc_stats_path)
        corpus_stats.write.mode("overwrite").parquet(f"{index_dir}/corpus_stats")

    def stage_term_df() -> None:
        indexer.write_term_df(
            spark.read.schema("term string, df long")
            .parquet(term_df_dir)
            .unionByName(indexer.enriched_term_df(segment))
            .groupBy("term")
            .agg(F.sum("df").alias("df")),
            staging,
        )

    indexer.run_concurrently(spark, append_postings, append_stats, stage_term_df)
    fsio.rmtree(spark, term_df_dir)
    fsio.move(spark, staging, term_df_dir)
    fsio.rmtree(spark, seg_dir)
    return n_new
