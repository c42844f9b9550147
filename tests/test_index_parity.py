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
    """Ids are xxhash64(url), unique, matching the vendored oracle hash
    bit-for-bit."""
    from modernsearchengines_spark.functions.hashing import xxhash64_str

    ids = indexer.assign_doc_ids(indexer.clean_docs(docs_df)).select(
        "doc_id", "url"
    )
    rows = ids.collect()
    assert len({r.doc_id for r in rows}) == len(rows)
    for r in rows[:50]:
        assert r.doc_id == xxhash64_str(r.url)


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


def test_collision_guard_detects_forced_collision(
    spark, docs_df, monkeypatch, tmp_path
):
    """build_index and the checkpointed build (through the shared
    finalize) fail loudly when two distinct urls map to one doc_id (the
    10^12-scale birthday-collision regime, functions/hashing.py):
    monkeypatch the id assignment to a constant hash and expect the
    countDistinct(url) == countDistinct(doc_id) invariant to raise."""
    from modernsearchengines_spark.operators import checkpoint

    def colliding_ids(docs):
        return docs.withColumn("doc_id", F.lit(12345).cast("long"))

    monkeypatch.setattr(indexer, "assign_doc_ids", colliding_ids)
    clean = indexer.clean_docs(docs_df)
    with pytest.raises(ValueError, match="collision"):
        indexer.build_index(spark, clean)
    with pytest.raises(ValueError, match="collision"):
        checkpoint.build_index_checkpointed(
            spark, clean, str(tmp_path / "segidx"), n_segments=2
        )


def test_write_index_jobs_carry_callers_job_group(spark, spark_index, tmp_path):
    """write_index submits its writers from worker threads; every job they
    run must still land in the caller's job group, so a per-operator trace
    attributes the write to its caller and no write job runs group-less."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    group = "test.write_index"
    bus.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        indexer.write_index(spark_index, str(tmp_path / "idx"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    bus.waitUntilEmpty()
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before


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


POSTINGS_SCHEMA = {
    "term_bucket": "int",
    "term": "string",
    "doc_id": "bigint",
    "tf": "int",
    "dl": "int",
    "positions_vb": "binary",
}


def test_one_postings_layout(spark, docs_df, tmp_path):
    """Every way of writing an index — build_index + write_index, the
    checkpointed build, and append_to_index onto a written index — leaves
    the one postings layout: the six columns above under
    postings/term_bucket=b/, no blocks/ table, and read_index's "blocks"
    key None."""
    import os

    from modernsearchengines_spark.operators import checkpoint
    from modernsearchengines_spark.sources.corpus_io import append_to_index

    def check(out):
        assert not os.path.exists(os.path.join(out, "blocks")), out
        assert all(
            d.startswith("term_bucket=")
            for d in os.listdir(os.path.join(out, "postings"))
            if not d.startswith(("_", "."))
        ), out
        written = spark.read.parquet(f"{out}/postings")
        assert {
            f.name: f.dataType.simpleString() for f in written.schema
        } == POSTINGS_SCHEMA, out
        assert indexer.read_index(spark, out)["blocks"] is None

    clean = indexer.clean_docs(docs_df)
    first = clean.filter(F.pmod(F.xxhash64("url"), F.lit(5)) != 0)
    extra = clean.filter(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)

    classic = str(tmp_path / "classic")
    idx = indexer.build_index(spark, first)
    assert idx["postings"].columns == list(POSTINGS_SCHEMA)
    indexer.write_index(idx, classic)
    indexer.unpersist_index(idx)
    check(classic)

    segmented = str(tmp_path / "segmented")
    idx = checkpoint.build_index_checkpointed(
        spark, clean, segmented, n_segments=2
    )
    assert idx["postings"].columns == list(POSTINGS_SCHEMA)
    indexer.write_index(idx, segmented)
    check(segmented)

    assert append_to_index(spark, classic, extra) > 0
    check(classic)
