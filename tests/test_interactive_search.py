"""Interactive search path (reference main_retrival, SURVEY §3.3):
spellcheck → compile → top-10 → snippets."""

from __future__ import annotations

import pytest

from modernsearchengines_spark.operators import indexer, query


@pytest.fixture(scope="module")
def search_setup(spark, docs_df):
    clean = indexer.clean_docs(docs_df)
    idx = indexer.build_index(spark, clean)
    docs = indexer.assign_doc_ids(clean).select("doc_id", "text")
    yield idx, docs
    indexer.unpersist_index(idx)


def test_search_returns_top10_with_snippets(spark, search_setup):
    idx, docs = search_setup
    rows = query.search(spark, idx, docs, "tübingen attractions").collect()
    assert 0 < len(rows) <= 10
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r.snippet and isinstance(r.snippet, str)
        assert r.url.startswith("http")


def test_search_spellcheck_fixture_applied(spark, search_setup):
    idx, docs = search_setup
    # "tubingen atractions" corrects to "tübingen attractions" via the frozen
    # fixture → same top doc as the corrected query.
    a = query.search(spark, idx, docs, "tubingen atractions").collect()
    b = query.search(
        spark, idx, docs, "tübingen attractions", need_spellcheck=False
    ).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]


def test_search_nonparity_routes_through_auto_dispatch(
    spark, search_setup, monkeypatch
):
    """VERDICT r3 item 7: ``parity=False`` must reach wand.bm25_topk_auto
    and return the rank-identical rows of calling the dispatcher directly."""
    from modernsearchengines_spark.operators import wand
    from modernsearchengines_spark.operators.expansion import compile_query

    idx, docs = search_setup
    calls = []
    real_auto = wand.bm25_topk_auto

    def spy(*args, **kwargs):
        calls.append((args, kwargs))
        return real_auto(*args, **kwargs)

    monkeypatch.setattr(wand, "bm25_topk_auto", spy)
    got = query.search(
        spark, idx, docs, "tübingen attractions",
        need_spellcheck=False, parity=False,
    ).collect()
    assert len(calls) == 1  # dispatcher reached exactly once

    # rank-identical to the dispatcher called directly
    compiled = [compile_query(1, "tübingen attractions")]
    terms = query.query_terms_df(spark, compiled, index=idx)
    direct = (
        real_auto(idx["postings"], None, terms, k=10)
        .orderBy("rank")
        .collect()
    )
    assert [(r.rank, r.doc_id) for r in got] == [
        (r.rank, r.doc_id) for r in direct
    ]
    for a, b in zip(got, direct):
        assert a.score == pytest.approx(b.score, rel=1e-9)
    # full search() surface intact: snippets + urls hydrate
    assert all(r.snippet and r.url.startswith("http") for r in got)


@pytest.mark.parametrize("parity", [True, False])
def test_search_frees_its_caches(spark, search_setup, parity):
    """search() collects its hits and releases what the ranking persisted:
    no cached frame outlives the call (a search loop would pin two per
    call otherwise)."""
    idx, docs = search_setup
    jsc = spark.sparkContext._jsc.sc()
    # warm the index's own caches, which a first read may materialize
    query.search(spark, idx, docs, "castle", parity=parity).collect()
    before = jsc.getPersistentRDDs().size()
    query.search(
        spark, idx, docs, "tübingen attractions", parity=parity
    ).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_release_unpersists_rank_cache(spark, search_setup):
    """rank() cache lifecycle (r5): a materialized batch pins exactly two
    intermediate frames; release() returns their storage to NONE so tight
    interactive loops don't accumulate cached blocks across batches."""
    from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES

    idx, _docs = search_setup
    res = query.run_query_batch(spark, idx, REFERENCE_QUERIES)
    res.collect()
    frames = res._cached_frames
    assert len(frames) == 2
    assert all(f.storageLevel.useMemory for f in frames)
    query.release(res)
    assert all(not f.storageLevel.useMemory for f in frames)
    # no-op on frames without the attribute
    query.release(res.limit(1))


def test_search_with_corpus_spellchecker_and_synonyms(
    spark, docs_df, search_setup
):
    """End-to-end non-fixture pipeline: VocabSpellchecker built from the
    corpus + PMI synonym table built from the index postings, wired
    through search() — a typo'd query still returns ranked results."""
    from modernsearchengines_spark.operators.expansion import (
        VocabSpellchecker,
        build_synonym_table,
        synonym_table_to_dict,
    )

    idx, docs = search_setup
    checker = VocabSpellchecker.from_docs(docs_df, top_n=20_000)
    n_docs = idx["corpus_stats"].collect()[0]["n_docs"]
    expansion = synonym_table_to_dict(
        build_synonym_table(
            idx["postings"], n_docs, vocab_top=300, min_pair=3, top_k=5
        )
    )

    # known corpus word passes the checker; a typo of it corrects
    assert checker.correction("tubingen") in ("tübingen", "tuebingen")

    rows = query.search(
        spark, idx, docs, "tubingen castl",
        spellchecker=checker, expansion=expansion,
    ).collect()
    assert 0 < len(rows) <= 10
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
