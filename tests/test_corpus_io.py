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
    """build → three append_to_index calls (and a no-op re-append) →
    term_df, terms, corpus_stats and queries equal a from-scratch rebuild
    of the union corpus, WITHOUT touching any pre-existing posting file
    (the deferred-scoring append claim) — on the layout build_index
    writes, including a term that crosses the df prune only through a
    later batch."""
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

    def term_df(out):
        rows = indexer.read_index(spark, out)["term_df"].collect()
        return {r.term: r.df for r in rows}

    # Split AFTER full-corpus cleaning so cross-batch near-dups cannot
    # diverge the two paths (append_to_index docstring caveat): 4/5 of the
    # urls build the index, the other fifth arrives in three batches.
    clean_full = indexer.clean_docs(docs_df).localCheckpoint()
    h = F.xxhash64("url")
    first = clean_full.filter(F.pmod(h, F.lit(5)) != 0)
    batches = [clean_full.filter(F.pmod(h, F.lit(15)) == 5 * i) for i in range(3)]
    assert all(b.count() > 0 for b in batches)

    out_inc = str(tmp_path / "idx_inc")
    out_full = str(tmp_path / "idx_full")
    build(first, out_inc)

    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{out_inc}/postings/**/*.parquet", recursive=True)
    }
    dfs = [term_df(out_inc)]
    for i, batch in enumerate(batches):
        assert append_to_index(spark, out_inc, batch) == batch.count()
        if i == 0:
            # idempotent: re-appending the same batch is a no-op, and the
            # empty segment it wrote to find that out does not stay behind
            assert append_to_index(spark, out_inc, batch) == 0
        dfs.append(term_df(out_inc))
    assert not glob.glob(f"{out_inc}/enriched/segment=append-*")
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{out_inc}/postings/**/*.parquet", recursive=True)
    }
    # every pre-existing posting file survives unmodified; new files added
    assert set(before) <= set(after)
    assert all(after[p] == before[p] for p in before)
    assert len(after) > len(before)
    # term_df is the one unpruned, unpartitioned vocabulary table, and
    # the merge's staging directory is swapped in, not left behind
    assert not [d for d in os.listdir(out_inc) if d.startswith("_")]
    assert not os.path.exists(f"{out_inc}/terms")
    assert not [
        d for d in os.listdir(f"{out_inc}/term_df") if d.startswith("term_bucket=")
    ]
    assert min(dfs[-1].values()) <= indexer.DF_PRUNE

    build(clean_full, out_full)
    idx_inc = indexer.read_index(spark, out_inc)
    idx_full = indexer.read_index(spark, out_full)

    # corpus-global stats agree exactly
    s_inc = idx_inc["corpus_stats"].collect()[0]
    s_full = idx_full["corpus_stats"].collect()[0]
    assert s_inc.n_docs == s_full.n_docs
    assert s_inc.avg_doc_len == pytest.approx(s_full.avg_doc_len, rel=1e-12)
    # the unpruned df, and terms (df/idf after the df>5 rule), agree exactly
    assert dfs[-1] == term_df(out_full)
    t_inc = {
        r.term: (r.df, r.idf) for r in idx_inc["terms"].collect()
    }
    t_full = {
        r.term: (r.df, r.idf) for r in idx_full["terms"].collect()
    }
    assert t_inc.keys() == t_full.keys()
    # some term reaches df > DF_PRUNE only through a later batch, and its
    # df≤5 count from the build and the first append counts toward that df
    assert any(
        0 < dfs[1].get(t, 0) <= indexer.DF_PRUNE < df
        for t, df in dfs[-1].items()
    )
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


def _write_index(spark, clean, out):
    from modernsearchengines_spark.operators import indexer

    idx = indexer.build_index(spark, clean)
    indexer.write_index(idx, out)
    indexer.unpersist_index(idx)


def _split(spark, docs_df):
    """(80 cleaned fixture docs, the fifth of them that is the append
    batch)."""
    from pyspark.sql import functions as F

    from modernsearchengines_spark.operators import indexer

    clean = indexer.clean_docs(docs_df.limit(80)).localCheckpoint()
    return clean, F.pmod(F.xxhash64("url"), F.lit(5)) == 0


def _small_index(spark, docs_df, out):
    """Write an index of 4/5 of 80 cleaned fixture docs to ``out``;
    return the other fifth, an append batch."""
    clean, in_batch = _split(spark, docs_df)
    _write_index(spark, clean.filter(~in_batch), out)
    return clean.filter(in_batch)


def _files(root):
    """relative path → (size, mtime) of every file and directory under
    ``root``."""
    import os

    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            path = os.path.join(dirpath, name)
            st = os.stat(path)
            out[os.path.relpath(path, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_append_to_index_reads_no_postings(spark, docs_df, tmp_path, monkeypatch):
    """An append's df refresh is O(batch + vocabulary): no parquet read
    during append_to_index names a path under postings/ (the batch's
    postings are written there, which is not a read)."""
    from pyspark.sql import DataFrameReader

    from modernsearchengines_spark.sources.corpus_io import append_to_index

    out = str(tmp_path / "idx")
    batch = _small_index(spark, docs_df, out)

    read = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        read.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert append_to_index(spark, out, batch) > 0
    assert not [p for p in read if "/postings" in p], read
    assert f"{out}/term_df" in read


def test_append_failing_before_any_table_write_leaves_no_segment(
    spark, docs_df, tmp_path, monkeypatch
):
    """A batch that fails the collision guard (every doc forced onto one
    doc_id) raises before any table is written, and its enriched segment
    is removed with it, so the next append is not refused."""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from modernsearchengines_spark.operators import indexer
    from modernsearchengines_spark.sources.corpus_io import append_to_index

    out = str(tmp_path / "idx")
    batch = _small_index(spark, docs_df, out)
    before = _files(out)
    monkeypatch.setattr(
        indexer,
        "assign_doc_ids",
        lambda docs: docs.withColumn("doc_id", F.lit(12345).cast("long")),
    )
    with pytest.raises(ValueError, match="collision"):
        append_to_index(spark, out, batch)
    assert not glob.glob(f"{out}/enriched/segment=append-*")
    after = _files(out)
    after.pop("enriched", None)  # the emptied parent of the removed segment
    assert after == before


def test_append_refuses_a_left_segment(spark, docs_df, tmp_path):
    """A ``segment=append-*`` directory left by an append that stopped
    part-way makes the next append raise, naming it, before any table is
    read or written: re-running a batch in that state could append its
    postings twice."""
    import os

    import pytest

    from modernsearchengines_spark.sources.corpus_io import append_to_index

    out = str(tmp_path / "idx")
    batch = _small_index(spark, docs_df, out)
    os.makedirs(f"{out}/enriched/segment=append-x")
    before = _files(out)
    with pytest.raises(RuntimeError, match="segment=append-x"):
        append_to_index(spark, out, batch)
    assert _files(out) == before


def test_append_collision_with_an_indexed_doc(
    spark, docs_df, tmp_path, monkeypatch
):
    """A batch url whose doc_id is already held by ANOTHER indexed url is
    a collision: the append raises before any table is written, and its
    segment is removed.  (The test above collides inside the batch.)"""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from modernsearchengines_spark.operators import indexer
    from modernsearchengines_spark.sources.corpus_io import append_to_index

    out = str(tmp_path / "idx")
    batch = _small_index(spark, docs_df, out)
    taken = indexer.read_index(spark, out)["doc_stats"].first().doc_id
    victim = batch.first().url
    assign = indexer.assign_doc_ids
    monkeypatch.setattr(
        indexer,
        "assign_doc_ids",
        lambda docs: assign(docs).withColumn(
            "doc_id",
            F.when(F.col("url") == victim, F.lit(taken)).otherwise(
                F.col("doc_id")
            ),
        ),
    )
    before = _files(out)
    with pytest.raises(ValueError, match="collision"):
        append_to_index(spark, out, batch)
    assert not glob.glob(f"{out}/enriched/segment=append-*")
    after = _files(out)
    after.pop("enriched", None)  # the emptied parent of the removed segment
    assert after == before


def test_append_to_an_index_without_stored_chars(spark, docs_df, tmp_path):
    """An index written before corpus_stats stored ``chars`` gets it from
    one doc_stats sum on its first append: N and avg_doc_len then equal a
    build over the union, and the rewritten corpus_stats stores chars."""
    import pytest

    from modernsearchengines_spark.operators import indexer
    from modernsearchengines_spark.sources.corpus_io import append_to_index

    clean, in_batch = _split(spark, docs_df)
    out, full = str(tmp_path / "idx"), str(tmp_path / "full")
    _write_index(spark, clean.filter(~in_batch), out)
    _write_index(spark, clean, full)

    old = spark.read.parquet(f"{out}/corpus_stats").collect()[0]
    spark.createDataFrame(
        [(old.n_docs, old.avg_doc_len)], "n_docs long, avg_doc_len double"
    ).write.mode("overwrite").parquet(f"{out}/corpus_stats")
    assert spark.read.parquet(f"{out}/corpus_stats").columns == [
        "n_docs", "avg_doc_len"
    ]

    assert append_to_index(spark, out, clean.filter(in_batch)) > 0
    got = spark.read.parquet(f"{out}/corpus_stats").collect()[0]
    want = spark.read.parquet(f"{full}/corpus_stats").collect()[0]
    assert got.n_docs == want.n_docs
    assert got.avg_doc_len == pytest.approx(want.avg_doc_len, rel=1e-12)
    assert got.chars == want.chars


def test_append_jobs_carry_callers_job_group(spark, docs_df, tmp_path):
    """append_to_index runs its writes on worker threads; every job of the
    append must still land in the caller's job group and carry the
    caller's session tags, so a per-operator trace attributes the whole
    append to its caller.  The threads are wrapped with the session, so
    pyspark raises no "Spark session is not provided" warning."""
    import warnings

    from modernsearchengines_spark.sources.corpus_io import append_to_index

    out = str(tmp_path / "idx")
    batch = _small_index(spark, docs_df, out)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    bus = jsc.listenerBus()
    tracker = sc.statusTracker()
    group = "test.append_to_index"
    tag = "test.append_to_index.session_tag"
    bus.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    spark.addTag(tag)
    sc.setJobGroup(group, group)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert append_to_index(spark, out, batch) > 0
    finally:
        spark.removeTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    bus.waitUntilEmpty()
    assert not [
        w for w in caught if "Spark session is not provided" in str(w.message)
    ]
    ids = set(tracker.getJobIdsForGroup(group))
    assert ids
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before
    for job_id in ids:
        tags = jsc.statusStore().job(job_id).jobTags().mkString("\n")
        assert any(t.endswith(tag) for t in tags.split("\n")), (job_id, tags)
