"""Pruned ≡ exhaustive equality (SURVEY §5.2 item 5) + pruning effectiveness."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

import oracle
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


@pytest.mark.parametrize("k", [10, 25, 100])
def test_payload_wand_equals_exhaustive(spark_index, terms, k):
    """Payload-refined (bm25 + α·min-span) pruned top-k ≡ exhaustive."""
    base = wand.bm25_prox_topk_exhaustive(
        spark_index["postings"], terms, k
    ).collect()
    pruned = wand.bm25_prox_topk_wand(
        spark_index["postings"], None, terms, k
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
        spark_index["postings"], None, terms, k=10
    ).collect()
    heavy = wand.bm25_topk_auto(
        spark_index["postings"], None, terms, k=10,
        payload=True,
    ).collect()
    for rows in (light, heavy):
        by_q = {}
        for r in rows:
            by_q.setdefault(r.qnum, []).append(r.rank)
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_plm_payload_wand_equals_exhaustive(spark_index, terms):
    """The heavy PLM reranking scorer: pruned ≡ exhaustive (the measured-
    crossover bench config, VERDICT r02 item 1)."""
    from modernsearchengines_spark.operators.proximity import plm_score_vb_udf

    base = wand.bm25_prox_topk_exhaustive(
        spark_index["postings"], terms, 25, scorer=plm_score_vb_udf
    ).collect()
    pruned = wand.bm25_prox_topk_wand(
        spark_index["postings"], None, terms, 25,
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
        spark_index["postings"], None, terms, k=10,
        alpha=wand.PROX_ALPHA,
    )
    assert 0 < casc["scored_docs"] <= casc["matched_docs"]


@pytest.mark.parametrize("k", [10, 100])
def test_pruning_stats_counts_the_served_cut(spark_index, terms, corpus_rows, k):
    """``scored_docs`` is the served plan's candidate count: the docs whose
    bound Σ bm25 + α·[≥ 2 matched terms] reaches θ, the query's k-th best
    Σ bm25 — counted here from the independent oracle index."""
    oidx = oracle.build_index(oracle.clean_corpus(corpus_rows))
    matched = scored = 0
    for _, text in QUERIES:
        light: dict[int, float] = defaultdict(float)
        n_terms: dict[int, int] = defaultdict(int)
        for term in oracle.compile_query(text)[0]:
            for doc_id, (bm25, _) in oidx.postings.get(term, {}).items():
                light[doc_id] += bm25
                n_terms[doc_id] += 1
        if not light:
            continue
        theta = sorted(light.values(), reverse=True)[:k][-1]
        matched += len(light)
        # the served cut's 1-ulp relative slack on θ
        scored += sum(
            light[d] + wand.PROX_ALPHA * (n_terms[d] >= 2) >= theta * (1 - 1e-9)
            for d in light
        )
    got = wand.pruning_stats(
        spark_index["postings"], None, terms, k=k, alpha=wand.PROX_ALPHA
    )
    assert got == {"matched_docs": matched, "scored_docs": scored}


@pytest.fixture(scope="module")
def opened(spark, spark_index, tmp_path_factory):
    """The fixture index written to disk, opened plain and served."""
    out = str(tmp_path_factory.mktemp("wand_idx") / "idx")
    indexer.write_index(spark_index, out)
    plain = indexer.read_index(spark, out)
    served = indexer.read_index(spark, out, serve=True)
    yield plain, served
    served["postings"].unpersist()


@pytest.mark.parametrize("k", [10, 100])
def test_served_exhaustive_equals_plain_read(spark, opened, k):
    """The doc_id-sharded serve cache ranks exactly as the plain read."""
    plain, served = opened
    compiled = [compile_query(q, t) for q, t in QUERIES]
    terms = query.query_terms_df(spark, compiled, index=plain)
    base = wand.bm25_topk_exhaustive(plain["postings"], terms, k).collect()
    got = wand.bm25_topk_exhaustive(served["postings"], terms, k).collect()
    base_m = {(r.qnum, r.rank): (r.doc_id, r.score) for r in base}
    got_m = {(r.qnum, r.rank): (r.doc_id, r.score) for r in got}
    assert base_m.keys() == got_m.keys()
    assert len(base_m) > k  # several queries fill their top k
    for key, (doc_id, score) in base_m.items():
        g_doc, g_score = got_m[key]
        assert g_doc == doc_id, key
        assert math.isclose(g_score, score, rel_tol=0, abs_tol=1e-12), key


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_release_returns_storage_to_baseline(spark, spark_index, terms):
    """The pruned payload path persists its aggregate and hands it back on
    the result; query.release frees it, and pruning_stats frees its own.
    Two alphas give two distinct aggregate plans (one cache entry each)."""
    postings = spark_index["postings"]
    # warm-up: materialize every lazily cached input, and release any
    # same-plan aggregate an earlier test left cached, before the baseline
    for alpha in (wand.PROX_ALPHA, 0.5):
        warm = wand.bm25_prox_topk_wand(postings, None, terms, 10, alpha)
        warm.collect()
        query.release(warm)
    base = _persisted_rdds(spark)

    one = wand.bm25_prox_topk_wand(postings, None, terms, 10)
    two = wand.bm25_prox_topk_wand(postings, None, terms, 10, alpha=0.5)
    one.collect(), two.collect()
    assert _persisted_rdds(spark) == base + 2
    query.release(one)
    query.release(two)
    assert _persisted_rdds(spark) == base

    wand.pruning_stats(postings, None, terms, k=10)
    assert _persisted_rdds(spark) == base
