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
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    df_prune: int | None = None,
    term_buckets: int | None = None,
    n_blocks: int | None = None,
) -> int:
    """Incremental index refresh: append the new docs' postings and
    re-finalize ONLY the small derived tables — the existing posting files
    are never rewritten (the whole point of the deferred-scoring (tf, dl)
    layout, indexer.bm25_expr).  Returns the number of docs appended.

    Steps (the build's own pieces, indexer module docstring):
      1. clean + id the batch, drop urls already in doc_stats (INSERT OR
         IGNORE semantics, same key as :func:`append_new_docs`);
      2. tokenize the survivors into a new enriched segment and run the
         collision guard over old ∪ new doc stats (indexer.finalize_stats)
         before any table is touched;
      3. bucket-layout the segment APPEND-mode into ``postings/``
         (checkpoint.layout_segment — the unpruned layout every build
         writes, so a term whose df crosses the threshold through this
         batch finds all its postings already on disk);
      4. refresh doc_stats (append), corpus_stats, terms (df re-agg over a
         NARROW term/doc_id scan of the written postings + new idf) and
         blocks (indexer.write_blocks) — all small relative to postings —
         and drop the consumed enriched segment.

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
    df_prune = indexer.DF_PRUNE if df_prune is None else df_prune
    term_buckets = (
        indexer.DEFAULT_TERM_BUCKETS if term_buckets is None else term_buckets
    )
    n_blocks = indexer.DEFAULT_N_BLOCKS if n_blocks is None else n_blocks

    doc_stats_path = f"{index_dir}/doc_stats"
    existing = spark.read.parquet(doc_stats_path)

    clean = indexer.clean_docs(new_docs)
    docs = indexer.assign_doc_ids(clean).join(
        existing.select("url"), "url", "left_anti"
    )
    n_new = docs.count()
    if n_new == 0:
        return 0

    seg = f"append-{uuid.uuid4().hex[:8]}"
    checkpoint.write_enriched_segment(docs, index_dir, seg)
    new_stats = spark.read.parquet(f"{index_dir}/enriched/segment={seg}").select(
        "doc_id", "url", "warc_ts", "aug_len", "doc_len"
    )
    n_total, _, corpus_stats = indexer.finalize_stats(
        existing.unionByName(new_stats)
    )

    checkpoint.layout_segment(spark, index_dir, seg, term_buckets, n_blocks)
    new_stats.write.mode("append").parquet(doc_stats_path)
    corpus_stats.write.mode("overwrite").parquet(f"{index_dir}/corpus_stats")

    # every posting row is one (term, doc) pair, so the written postings'
    # term/doc_id columns are the df source (narrow columnar scan)
    written = spark.read.parquet(f"{index_dir}/postings")
    indexer.terms_table(
        indexer.term_doc_frequency(written), n_total, df_prune, term_buckets
    ).repartition("term_bucket").write.mode("overwrite").partitionBy(
        "term_bucket"
    ).parquet(f"{index_dir}/terms")

    indexer.write_blocks(
        {
            "postings": written,
            "terms": spark.read.parquet(f"{index_dir}/terms"),
            "corpus_stats": spark.read.parquet(f"{index_dir}/corpus_stats"),
        },
        index_dir,
    )
    fsio.rmtree(spark, f"{index_dir}/enriched/segment={seg}")
    return n_new
