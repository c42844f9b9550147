"""read_index(serve=True): doc_id-sharded cached postings for query serving.

serve=True caches the postings as 3·defaultParallelism hash shards on
doc_id, each sorted by (term_bucket, term): every cached-scan stage is as
wide as the session, and a per-(qnum, doc_id) score aggregate over the
cache needs no exchange.  The content must equal the plain read's, and
opening must leave the session conf as it found it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from modernsearchengines_spark.operators import indexer


def _checksum(df):
    cols = sorted(df.columns)
    return df.select(
        F.expr(
            "bit_xor(xxhash64(" + ", ".join(cols) + "))"
        ).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]


def test_serve_true_is_cached_and_identical(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "serve")
    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    indexer.write_index(idx, out)
    indexer.unpersist_index(idx)

    conf_before = spark.conf.getAll
    plain = indexer.read_index(spark, out)
    served = indexer.read_index(spark, out, serve=True)

    # opening leaves the session conf as it found it
    assert spark.conf.getAll == conf_before

    # served postings are cache-materialized in memory
    assert served["postings"].storageLevel.useMemory

    # byte-identical content either way
    a, b = _checksum(plain["postings"]), _checksum(served["postings"])
    assert (a.h, a.n) == (b.h, b.n)
    assert a.n > 0

    # 3 doc_id shards per session core, each doc wholly in one shard
    assert (
        served["postings"].rdd.getNumPartitions()
        == 3 * spark.sparkContext.defaultParallelism
    )
    spread = (
        served["postings"]
        .select("doc_id", F.spark_partition_id().alias("part"))
        .distinct()
        .groupBy("doc_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert spread == 1
    served["postings"].unpersist()
