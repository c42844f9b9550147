"""Idempotent corpus append (SURVEY O-11: INSERT OR IGNORE by url)."""

from __future__ import annotations

import datetime as dt

from modernsearchengines_spark.sources.corpus_io import append_new_docs


def _docs(spark, urls):
    ts = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(u, ts, b"<html></html>", f"text of {u}", "en") for u in urls],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_append_then_ignore_duplicates(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    n1 = append_new_docs(spark, corpus, _docs(spark, ["u1", "u2", "u3"]))
    assert n1 == 3
    # re-running the same batch is a no-op (exactly-once by key)
    n2 = append_new_docs(spark, corpus, _docs(spark, ["u1", "u2", "u3"]))
    assert n2 == 0
    # mixed batch: only the new url lands
    n3 = append_new_docs(spark, corpus, _docs(spark, ["u2", "u4"]))
    assert n3 == 1
    final = spark.read.parquet(corpus)
    assert final.count() == 4
    assert {r.url for r in final.select("url").collect()} == {
        "u1", "u2", "u3", "u4",
    }


def test_append_dedups_within_batch(spark, tmp_path):
    corpus = str(tmp_path / "corpus2")
    df = _docs(spark, ["a", "a", "b"])
    assert append_new_docs(spark, corpus, df) == 2


def test_append_to_index_no_posting_rewrite(spark, docs_df, tmp_path):
    """build → append_to_index → queries equal a from-scratch rebuild of
    the union corpus, WITHOUT touching any pre-existing posting file (the
    deferred-scoring append claim) — on the layout build_index writes,
    including terms that cross the df prune only through the batch."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from modernsearchengines_spark.operators import indexer, query
    from modernsearchengines_spark.sources.corpus_io import append_to_index
    from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES

    def build(clean, out):
        idx = indexer.build_index(spark, clean)
        indexer.write_index(idx, out)
        indexer.unpersist_index(idx)

    # Split AFTER full-corpus cleaning so cross-batch near-dups cannot
    # diverge the two paths (append_to_index docstring caveat).
    clean_full = indexer.clean_docs(docs_df).localCheckpoint()
    first = clean_full.filter(F.pmod(F.xxhash64("url"), F.lit(5)) != 0)
    extra = clean_full.filter(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
    assert extra.count() > 0

    out_inc = str(tmp_path / "idx_inc")
    out_full = str(tmp_path / "idx_full")
    build(first, out_inc)
    idx_first = indexer.read_index(spark, out_inc)
    terms_before = {r.term for r in idx_first["terms"].collect()}
    df_first = {
        r.term: r["count"]
        for r in idx_first["postings"].groupBy("term").count().collect()
    }

    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{out_inc}/postings/**/*.parquet", recursive=True)
    }
    n_added = append_to_index(spark, out_inc, extra)
    assert n_added == extra.count()
    # idempotent: re-appending the same batch is a no-op
    assert append_to_index(spark, out_inc, extra) == 0
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{out_inc}/postings/**/*.parquet", recursive=True)
    }
    # every pre-existing posting file survives unmodified; new files added
    assert set(before) <= set(after)
    assert all(after[p] == before[p] for p in before)
    assert len(after) > len(before)

    build(clean_full, out_full)
    idx_inc = indexer.read_index(spark, out_inc)
    idx_full = indexer.read_index(spark, out_full)

    # corpus-global stats agree exactly
    s_inc = idx_inc["corpus_stats"].collect()[0]
    s_full = idx_full["corpus_stats"].collect()[0]
    assert s_inc.n_docs == s_full.n_docs
    assert s_inc.avg_doc_len == pytest.approx(s_full.avg_doc_len, rel=1e-12)
    # terms (df/idf after query-time prune semantics) agree exactly
    t_inc = {
        r.term: (r.df, r.idf) for r in idx_inc["terms"].collect()
    }
    t_full = {
        r.term: (r.df, r.idf) for r in idx_full["terms"].collect()
    }
    assert t_inc.keys() == t_full.keys()
    # some term reaches df > DF_PRUNE only through the appended batch, and
    # its df≤5 postings from the first build count toward that df
    crossed = t_inc.keys() - terms_before
    assert any(0 < df_first.get(t, 0) <= indexer.DF_PRUNE for t in crossed)
    for term, (df_i, idf_i) in t_inc.items():
        assert df_i == t_full[term][0]
        assert idf_i == pytest.approx(t_full[term][1], rel=1e-12)

    # end to end: the reference query batch ranks identically
    res_inc = query.run_query_batch(
        spark, idx_inc, REFERENCE_QUERIES, top_k=20
    ).collect()
    res_full = query.run_query_batch(
        spark, idx_full, REFERENCE_QUERIES, top_k=20
    ).collect()
    key = lambda r: (r.qnum, r.rank)
    res_inc, res_full = sorted(res_inc, key=key), sorted(res_full, key=key)
    assert [(r.qnum, r.rank, r.doc_id, r.url) for r in res_inc] == [
        (r.qnum, r.rank, r.doc_id, r.url) for r in res_full
    ]
    for a, b in zip(res_inc, res_full):
        assert a.score == pytest.approx(b.score, rel=1e-9)
