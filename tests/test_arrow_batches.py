"""Arrow batch sizing for huge documents (VERDICT r3 item 8).

maxRecordsPerBatch=4096 alone lets a batch of near-800k-char docs reach
~3 GB of Arrow memory inside each Python worker; the byte cap
(spark.sql.execution.arrow.maxBytesPerBatch, set in session.py) must slice
such inputs into small batches BEFORE the record cap matters.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from modernsearchengines_spark.operators import indexer


@F.pandas_udf(LongType())
def _batch_rows_udf(text: pd.Series) -> pd.Series:
    """Reports the Arrow batch row-count each input row arrived in."""
    return pd.Series([len(text)] * len(text))


def _long_docs(spark, n: int, chars: int):
    """~``chars``-char docs with per-doc-distinct vocabulary so simhash
    dedup keeps them all (near-identical 500k-char bodies would collapse
    to one doc and void the test)."""
    ts = dt.datetime(2024, 1, 1)
    words_per_doc = chars // 10
    rows = [
        (
            f"https://example.org/long/{i}",
            ts,
            b"",
            " ".join(f"tok{i}x{j % 211}" for j in range(words_per_doc)),
            "en",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_session_sets_byte_cap(spark):
    assert spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch") == "64m"
    assert (
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "4096"
    )


def test_long_docs_arrive_in_byte_capped_batches(spark):
    docs = _long_docs(spark, 40, 500_000).coalesce(1)
    sizes = docs.select(_batch_rows_udf("text").alias("bs")).collect()
    max_batch = max(r.bs for r in sizes)
    # 40 × ~500 kB rows in ONE scan partition: under the record cap alone
    # this is a single 40-row (~20 MB... fine) — prove the byte cap binds
    # by dropping it to 2 MB and observing ≤ 4-row batches.
    spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", "2m")
    try:
        sizes2 = docs.select(_batch_rows_udf("text").alias("bs")).collect()
        # ~500 kB rows at a 2 MB cap → ~4-row batches (the slicer closes a
        # batch when it crosses the byte threshold, so allow one overshoot)
        assert max(r.bs for r in sizes2) <= 6
        assert max(r.bs for r in sizes2) < max_batch or max_batch <= 6
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", "64m")


def test_index_build_over_huge_docs(spark, tmp_path):
    """Full build over ~500k-char docs at maxRecordsPerBatch=4096: the
    byte cap keeps doc_postings_udf batches bounded; postings stay exact."""
    docs = _long_docs(spark, 24, 500_000)
    clean = indexer.clean_docs(docs)
    idx = indexer.build_index(spark, clean, work_dir=str(tmp_path / "hugework"))
    stats = idx["corpus_stats"].collect()[0]
    assert stats.n_docs == 24 and clean.count() == 24
    # every doc is under the 800k cap -> all indexed with real lengths
    dl = idx["doc_stats"].agg(F.min("doc_len"), F.max("aug_len")).collect()[0]
    assert dl[0] > 0
    assert dl[1] >= 400_000
    assert idx["postings"].count() > 0
