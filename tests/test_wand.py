"""WAND-on ≡ WAND-off equality (SURVEY §5.2 item 5) + pruning effectiveness."""

from __future__ import annotations

import math

import pytest

from modernsearchengines_spark.operators import indexer, query, wand
from modernsearchengines_spark.operators.expansion import compile_query
from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES

QUERIES = REFERENCE_QUERIES + [
    (3, "castle museum river"),
    (4, "beer wine coffee market"),
    (5, "tübingen"),
]


@pytest.fixture(scope="module")
def spark_index(spark, docs_df):
    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    idx["postings"] = idx["postings"].cache()
    yield idx
    indexer.unpersist_index(idx)


@pytest.fixture(scope="module")
def terms(spark, spark_index):
    compiled = [compile_query(q, t) for q, t in QUERIES]
    return query.query_terms_df(spark, compiled, index=spark_index).cache()


@pytest.mark.parametrize("k", [10, 100])
def test_wand_equals_exhaustive(spark_index, terms, k):
    base = wand.bm25_topk_exhaustive(spark_index["postings"], terms, k).collect()
    pruned = wand.bm25_topk_wand(
        spark_index["postings"], spark_index["blocks"], terms, k
    ).collect()
    base_m = {(r.qnum, r.rank): (r.doc_id, r.score) for r in base}
    pruned_m = {(r.qnum, r.rank): (r.doc_id, r.score) for r in pruned}
    assert set(base_m) == set(pruned_m)
    for key, (doc_id, score) in base_m.items():
        p_doc, p_score = pruned_m[key]
        assert p_doc == doc_id, key
        assert math.isclose(p_score, score, rel_tol=0, abs_tol=1e-12), key


@pytest.mark.parametrize("k", [10, 25, 100])
def test_payload_wand_equals_exhaustive(spark_index, terms, k):
    """Payload-refined (bm25 + α·min-span) pruned top-k ≡ exhaustive."""
    base = wand.bm25_prox_topk_exhaustive(
        spark_index["postings"], terms, k
    ).collect()
    pruned = wand.bm25_prox_topk_wand(
        spark_index["postings"], spark_index["blocks"], terms, k
    ).collect()
    base_m = {(r.qnum, r.rank): (r.doc_id, r.score) for r in base}
    pruned_m = {(r.qnum, r.rank): (r.doc_id, r.score) for r in pruned}
    assert set(base_m) == set(pruned_m)
    for key, (doc_id, score) in base_m.items():
        p_doc, p_score = pruned_m[key]
        assert p_doc == doc_id, key
        assert math.isclose(p_score, score, rel_tol=0, abs_tol=1e-12), key


def test_auto_dispatch(spark_index, terms):
    """bm25_topk_auto: light → exhaustive plan (single pass), payload →
    pruned payload plan; both return well-formed dense-rank results."""
    light = wand.bm25_topk_auto(
        spark_index["postings"], spark_index["blocks"], terms, k=10
    ).collect()
    heavy = wand.bm25_topk_auto(
        spark_index["postings"], spark_index["blocks"], terms, k=10,
        payload=True,
    ).collect()
    for rows in (light, heavy):
        by_q = {}
        for r in rows:
            by_q.setdefault(r.qnum, []).append(r.rank)
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_wand_actually_prunes(spark_index, terms):
    stats = wand.pruning_stats(
        spark_index["postings"], spark_index["blocks"], terms, k=10
    )
    assert stats["scored_docs"] <= stats["matched_docs"]
    # With k=10 on this corpus the θ cut must exclude a nontrivial share.
    assert stats["scored_docs"] < stats["matched_docs"]


def test_wand_candidates_feed_parity_prefilter(spark, spark_index, terms):
    """rank(prefilter=...) composes with the WAND candidate set: the top-k of
    the prefiltered parity ranking over a k'-widened candidate pool equals
    heads of the exhaustive parity ranking only when normalization sets
    match; here we just assert the plumbing returns a well-formed result."""
    topk = wand.bm25_topk_wand(
        spark_index["postings"], spark_index["blocks"], terms, 50
    )
    pre = topk.select("qnum", "doc_id")
    res = query.rank(
        spark_index["postings"], terms, spark_index["doc_stats"], top_k=10,
        prefilter=pre,
    )
    rows = res.collect()
    assert len(rows) > 0
    assert all(r.rank <= 10 for r in rows)


def test_plm_payload_wand_equals_exhaustive(spark_index, terms):
    """The heavy PLM reranking scorer: pruned ≡ exhaustive (the measured-
    crossover bench config, VERDICT r02 item 1)."""
    from modernsearchengines_spark.operators.proximity import plm_score_vb_udf

    base = wand.bm25_prox_topk_exhaustive(
        spark_index["postings"], terms, 25, scorer=plm_score_vb_udf
    ).collect()
    pruned = wand.bm25_prox_topk_wand(
        spark_index["postings"], spark_index["blocks"], terms, 25,
        scorer=plm_score_vb_udf,
    ).collect()
    base_m = {(r.qnum, r.rank): (r.doc_id, r.score) for r in base}
    pruned_m = {(r.qnum, r.rank): (r.doc_id, r.score) for r in pruned}
    assert base_m.keys() == pruned_m.keys()
    for key, (doc_id, score) in base_m.items():
        p_doc, p_score = pruned_m[key]
        assert p_doc == doc_id, key
        assert math.isclose(p_score, score, rel_tol=0, abs_tol=1e-12), key


def test_plm_score_properties():
    """PLM scorer: bounded (0, 1], 0 for <2 lists, higher when terms
    co-occur densely than when they are far apart."""
    from modernsearchengines_spark.operators.proximity import plm_score

    assert plm_score([]) == 0.0
    assert plm_score([[1, 2, 3]]) == 0.0
    dense = plm_score([[100, 101], [102], [103, 104]])
    sparse = plm_score([[100], [5000], [90000]])
    assert 0.0 < sparse < dense <= 1.0


def test_payload_pruning_stats(spark_index, terms):
    casc = wand.pruning_stats(
        spark_index["postings"], spark_index["blocks"], terms, k=10,
        alpha=wand.PROX_ALPHA,
    )
    assert 0 < casc["scored_docs"] <= casc["matched_docs"]
