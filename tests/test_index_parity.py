"""Integration: Spark index build vs oracle index (SURVEY §5.2 item 4).

Asserts df, tf, positions (exact) and BM25 (1e-9) per (term, doc_id), plus
corpus stats, doc-id assignment, cleaning, and the extraction invariant.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import oracle
from modernsearchengines_spark.operators import indexer
from modernsearchengines_spark.operators.codec import varbyte_decode


@pytest.fixture(scope="module")
def oracle_index(corpus_rows):
    return oracle.build_index(oracle.clean_corpus(corpus_rows))


@pytest.fixture(scope="module")
def spark_index(spark, docs_df):
    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    yield idx
    indexer.unpersist_index(idx)


def test_extraction_invariant_byte_identical(spark, docs_df):
    """BASELINE.json input_hint: engine-derived text == given text, per url."""
    derived = docs_df.withColumn("derived", indexer.extract_text_udf("html"))
    mismatches = derived.filter(
        ~F.col("derived").eqNullSafe(F.col("text"))
    ).count()
    assert mismatches == 0


def test_clean_corpus_matches_oracle(spark, docs_df, corpus_rows):
    clean_urls = {
        r.url for r in indexer.clean_docs(docs_df).select("url").collect()
    }
    oracle_urls = {r["url"] for r in oracle.clean_corpus(corpus_rows)}
    assert clean_urls == oracle_urls


def test_doc_ids_hash_default(spark, docs_df):
    """Default ids are xxhash64(url), unique, matching the vendored oracle
    hash bit-for-bit."""
    from modernsearchengines_spark.functions.hashing import xxhash64_str

    ids = indexer.assign_doc_ids(indexer.clean_docs(docs_df)).select(
        "doc_id", "url"
    )
    rows = ids.collect()
    assert len({r.doc_id for r in rows}) == len(rows)
    for r in rows[:50]:
        assert r.doc_id == xxhash64_str(r.url)


def test_doc_ids_dense_mode(spark, docs_df):
    ids = indexer.assign_doc_ids(
        indexer.clean_docs(docs_df), mode="dense"
    ).select("doc_id", "url")
    rows = sorted(ids.collect(), key=lambda r: r.url)
    assert [r.doc_id for r in rows] == list(range(len(rows)))


def test_corpus_stats_match(spark_index, oracle_index):
    stats = spark_index["corpus_stats"].collect()[0]
    assert stats.n_docs == oracle_index.n_docs
    assert math.isclose(
        stats.avg_doc_len, oracle_index.avg_doc_len, rel_tol=0, abs_tol=1e-9
    )


def test_doc_lengths_match(spark_index, oracle_index):
    # Length-capped docs carry NULL aug_len / doc_len 0 in doc_stats and are
    # absent from the oracle's doc_lengths (not indexed) — compare indexed.
    got = {
        r.doc_id: r.doc_len
        for r in spark_index["doc_stats"].collect()
        if r.aug_len is not None
    }
    assert got == oracle_index.doc_lengths


def test_postings_match_oracle(spark_index, oracle_index):
    # Persisted schema stores positions ONLY as the varbyte blob — the raw
    # int array must not survive into the index table — and per-term df/idf
    # live in the normalized terms table, not on every posting row.  Under
    # deferred scoring (indexer.bm25_expr) bm25 itself is NOT materialized
    # either: consumers compute it post-join from (tf, dl, idf, avgdl).
    assert "positions" not in spark_index["postings"].columns
    assert "df" not in spark_index["postings"].columns
    assert "idf" not in spark_index["postings"].columns
    assert "bm25" not in spark_index["postings"].columns
    avgdl = float(
        spark_index["corpus_stats"].select("avg_doc_len").collect()[0][0]
    )
    rows = spark_index["postings"].join(
        spark_index["terms"].select("term", "df", "idf"), "term"
    ).withColumn(
        "bm25", indexer.bm25_expr("idf", "tf", "dl", F.lit(avgdl))
    ).select(
        "term", "doc_id", "tf", "df", "positions_vb", "bm25"
    ).collect()
    got = {(r.term, r.doc_id): r for r in rows}
    expected = {
        (term, doc_id): (bm25, positions)
        for term, docs in oracle_index.postings.items()
        for doc_id, (bm25, positions) in docs.items()
    }
    assert set(got) == set(expected)
    for key, row in got.items():
        exp_bm25, exp_positions = expected[key]
        assert row.tf == len(exp_positions), key
        assert row.df == len(oracle_index.postings[key[0]]), key
        assert math.isclose(row.bm25, exp_bm25, rel_tol=0, abs_tol=1e-9), key
        # codec round-trip: the blob decodes to the oracle's position list
        # (char offsets are emitted in increasing order, so the sorted
        # decode IS the appearance order).
        assert varbyte_decode(bytes(row.positions_vb)) == exp_positions, key
        assert exp_positions == sorted(exp_positions), key


def test_df_prune_applied(spark, spark_index, oracle_index):
    """Q6: the terms table holds no term with df ≤ 5, and the prune holds
    at query time: the postings keep the df≤5 rows, but a query containing
    such a term gets no terms row for it and ranks like the oracle's
    pruned index."""
    from modernsearchengines_spark.operators import query
    from modernsearchengines_spark.operators.expansion import compile_query

    assert spark_index["terms"].filter(F.col("df") <= 5).count() == 0
    rare = {
        r.term
        for r in spark_index["postings"]
        .join(spark_index["terms"].select("term"), "term", "left_anti")
        .select("term")
        .distinct()
        .collect()
    }
    text = next(
        f"castle {t}"
        for t in sorted(rare)
        if t in compile_query(1, f"castle {t}").terms
    )
    cq = compile_query(1, text)
    got_terms = {
        r.term
        for r in query.query_terms_df(spark, [cq], index=spark_index).collect()
    }
    assert set(cq.terms) & rare
    assert not got_terms & rare

    got = sorted(
        query.run_query_batch(spark, spark_index, [(1, text)]).collect(),
        key=lambda r: r.rank,
    )
    expected = oracle.run_query(oracle_index, text)
    assert [r.doc_id for r in got] == [e.doc_id for e in expected]
    for g, e in zip(got, expected):
        assert math.isclose(g.score, e.score, rel_tol=0, abs_tol=1e-9)


def test_block_max_consistency(spark_index):
    """blocks(term, block_id, block_max_bm25) exactly matches the per-
    (term, doc-range-block) maxima of the postings, 1:1."""
    avgdl = float(
        spark_index["corpus_stats"].select("avg_doc_len").collect()[0][0]
    )
    derived = (
        spark_index["postings"]
        .join(spark_index["terms"].select("term", "idf"), "term")
        .withColumn(
            "bm25", indexer.bm25_expr("idf", "tf", "dl", F.lit(avgdl))
        )
        .groupBy("term", "block_id")
        .agg(F.max("bm25").alias("m"))
    )
    joined = derived.join(
        spark_index["blocks"], ["term", "block_id"], "full_outer"
    )
    bad = joined.filter(
        F.col("m").isNull()
        | F.col("block_max_bm25").isNull()
        | (F.abs(F.col("m") - F.col("block_max_bm25")) > 1e-12)
    ).count()
    assert bad == 0
    # hash blocks: block_id is pmod(doc_id, n_blocks)
    mis = spark_index["postings"].filter(
        F.col("block_id")
        != F.pmod(F.col("doc_id"), F.lit(indexer.DEFAULT_N_BLOCKS)).cast("int")
    ).count()
    assert mis == 0


def test_collision_guard_detects_forced_collision(
    spark, docs_df, monkeypatch, tmp_path
):
    """build_index and the checkpointed build (through the shared
    finalize) fail loudly when two distinct urls map to one doc_id (the
    10^12-scale birthday-collision regime, functions/hashing.py):
    monkeypatch the id assignment to a constant hash and expect the
    countDistinct(url) == countDistinct(doc_id) invariant to raise."""
    from modernsearchengines_spark.operators import checkpoint

    def colliding_ids(docs, mode="hash", n_ranges=32):
        return docs.withColumn("doc_id", F.lit(12345).cast("long"))

    monkeypatch.setattr(indexer, "assign_doc_ids", colliding_ids)
    clean = indexer.clean_docs(docs_df)
    with pytest.raises(ValueError, match="collision"):
        indexer.build_index(spark, clean)
    with pytest.raises(ValueError, match="collision"):
        checkpoint.build_index_checkpointed(
            spark, clean, str(tmp_path / "segidx"), n_segments=2
        )


def test_unpersist_removes_owned_work_dir(spark, docs_df, tmp_path):
    """build_index(work_dir=None) puts its enriched segment in a temporary
    directory that unpersist_index deletes; the written index still
    serves, and a caller's work_dir is left in place."""
    import glob
    import os
    import tempfile

    from modernsearchengines_spark.operators import query
    from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES

    pattern = os.path.join(tempfile.gettempdir(), "msengines_idx_*")
    clean = indexer.clean_docs(docs_df)
    before = set(glob.glob(pattern))
    idx = indexer.build_index(spark, clean)
    created = set(glob.glob(pattern)) - before
    assert len(created) == 1
    out = str(tmp_path / "idx")
    indexer.write_index(idx, out)
    indexer.unpersist_index(idx)
    assert not any(os.path.exists(d) for d in created)
    served = indexer.read_index(spark, out)
    assert query.run_query_batch(spark, served, REFERENCE_QUERIES).count() > 0

    mine = tmp_path / "work"
    idx = indexer.build_index(spark, clean, work_dir=str(mine))
    indexer.unpersist_index(idx)
    assert (mine / "enriched").is_dir()


def test_write_salt_layout_is_query_identical(spark, docs_df, tmp_path):
    """write_salt=S shards each bucket's write across S reducers (the
    >64-way-cluster write-parallelism path); rows still land in their
    term_bucket directory and the read-back index is row- and
    query-identical to the default one-reducer-per-bucket layout."""
    from modernsearchengines_spark.operators import query
    from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES

    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    d0, d4 = str(tmp_path / "plain"), str(tmp_path / "salted")
    indexer.write_index(idx, d0)
    indexer.write_index(idx, d4, write_salt=4)
    indexer.unpersist_index(idx)

    p0 = spark.read.parquet(f"{d0}/postings")
    p4 = spark.read.parquet(f"{d4}/postings")
    assert p0.count() == p4.count()
    # partition pruning intact: every row sits in its own bucket directory
    mis = p4.filter(
        F.col("term_bucket")
        != F.pmod(F.xxhash64("term"), F.lit(indexer.DEFAULT_TERM_BUCKETS)).cast("int")
    ).count()
    assert mis == 0

    r0 = query.run_query_batch(
        spark, indexer.read_index(spark, d0), REFERENCE_QUERIES
    ).collect()
    r4 = query.run_query_batch(
        spark, indexer.read_index(spark, d4), REFERENCE_QUERIES
    ).collect()
    assert [(r.qnum, r.rank, r.doc_id) for r in r0] == [
        (r.qnum, r.rank, r.doc_id) for r in r4
    ]
    assert all(
        abs(a.score - b.score) < 1e-9 for a, b in zip(r0, r4)
    )
