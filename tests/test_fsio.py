"""Filesystem-scheme safety (VERDICT r3 item 5): the checkpoint manifest
protocol and the idempotent corpus append must work on non-os.path URIs.

The ``file:`` scheme is the sandbox's non-local-path stand-in: Spark's
readers/writers accept it, while ``os.listdir("file:/...")``/``os.path``
choke on it — so these tests fail for exactly the code paths that would
break on hdfs:// or s3a://, without needing a remote filesystem.
"""

from __future__ import annotations

import pytest

from modernsearchengines_spark.operators import checkpoint, indexer
from modernsearchengines_spark.sources import fsio
from modernsearchengines_spark.sources.corpus_io import append_new_docs


@pytest.fixture(scope="module")
def clean(spark, docs_df):
    return indexer.clean_docs(docs_df)


def _file_uri(tmp_path, name: str) -> str:
    return "file:" + str(tmp_path / name)


def test_fsio_roundtrip_on_file_scheme(spark, tmp_path):
    base = _file_uri(tmp_path, "fsio")
    fsio.mkdirs(spark, base)
    assert fsio.is_dir(spark, base)
    p = fsio.join(base, "x.json")
    fsio.write_text_atomic(spark, p, '{"a": 1}')
    assert fsio.read_text(spark, p) == '{"a": 1}'
    # overwrite via the same delete+rename commit
    fsio.write_text_atomic(spark, p, '{"a": 2}')
    assert fsio.read_text(spark, p) == '{"a": 2}'
    assert fsio.listdir(spark, base) == ["x.json"]
    fsio.move(spark, p, fsio.join(base, "y.json"))
    assert fsio.listdir(spark, base) == ["y.json"]
    fsio.rmtree(spark, base)
    assert not fsio.exists(spark, base)
    assert fsio.listdir(spark, base) == []


def test_checkpointed_build_resumes_on_file_scheme(spark, clean, tmp_path):
    out = _file_uri(tmp_path, "segidx")
    # crash-inject after 1 of 2 segments, then resume — the manifest
    # read/write cycle runs entirely against the file: URI
    partial = checkpoint.build_index_checkpointed(
        spark, clean, out, n_segments=2, fail_after=1
    )
    assert partial is None
    assert len(checkpoint.read_manifest(spark, out)) == 1
    result = checkpoint.build_index_checkpointed(
        spark, clean, out, n_segments=2
    )
    assert result is not None
    manifest = checkpoint.read_manifest(spark, out)
    assert sorted(manifest) == [0, 1]
    assert all(r["status"] == "done" for r in manifest.values())
    assert result["postings"].count() > 0


def test_append_new_docs_idempotent_on_file_scheme(spark, docs_df, tmp_path):
    corpus = _file_uri(tmp_path, "corpus")
    batch = docs_df.limit(20)
    n_first = append_new_docs(spark, corpus, batch)
    assert n_first == 20
    # re-running the same batch is a no-op (exactly-once by url)
    assert append_new_docs(spark, corpus, batch) == 0
    assert spark.read.parquet(corpus).count() == 20
    # a new url lands, existing urls are ignored
    extra = docs_df.limit(25)
    assert append_new_docs(spark, corpus, extra) == 5
    assert spark.read.parquet(corpus).count() == 25


def test_row_groups_probe_counts_partitioned_layout(spark, tmp_path):
    """The contract's input-skew probe (``__spark_entry__._row_groups``)
    lists recursively — a ``key=value/`` layout holds no parquet file at
    its top level — reads footers through fsio (so a file: URI works), and
    stops counting at the session's parallelism."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    par = spark.sparkContext.defaultParallelism

    def nested(name: str, n_keys: int) -> str:
        # n_keys key=v/ dirs, one single-row-group file each
        path = str(tmp_path / name)
        spark.range(10 * n_keys).withColumn(
            "key", F.col("id") % n_keys
        ).repartition(1).write.partitionBy("key").parquet(path)
        return path

    few = nested("few", 2)
    assert entrymod._row_groups(spark, few) == 2
    assert entrymod._row_groups(spark, _file_uri(tmp_path, "few")) == 2
    many = nested("many", par + 3)
    assert entrymod._row_groups(spark, many) == par

    if par > 2:  # fewer row groups than cores: the spread repartitions
        spread = entrymod._spread(spark, spark.read.parquet(few), few, "id")
        assert spread.rdd.getNumPartitions() == par
