"""End-to-end: Spark query engine vs oracle — rank-identical top-k
(BASELINE.json north_rule: top-k docIDs + BM25 scores rank-identical on the
reference query set)."""

from __future__ import annotations

import math

import pytest

import oracle
from modernsearchengines_spark.operators import indexer, query
from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES

EXTRA_QUERIES = [
    (3, "tübingen"),                     # only-tuebingen query
    (4, "castle"),                       # single term
    (5, "Good and the recommended!"),    # stopword/filter fallback branch
    (6, "museum river market beer wine bread cheese coffee tea menu"),  # ≥9 words → no expansion
]
ALL_QUERIES = REFERENCE_QUERIES + EXTRA_QUERIES


@pytest.fixture(scope="module")
def oracle_index(corpus_rows):
    return oracle.build_index(oracle.clean_corpus(corpus_rows))


@pytest.fixture(scope="module")
def spark_index(spark, docs_df):
    clean = indexer.clean_docs(docs_df)
    idx = indexer.build_index(spark, clean)
    idx["postings"] = idx["postings"].cache()
    idx["doc_stats"] = idx["doc_stats"].cache()
    yield idx
    indexer.unpersist_index(idx)


@pytest.fixture(scope="module")
def spark_results(spark, spark_index):
    df = query.run_query_batch(spark, spark_index, ALL_QUERIES)
    rows = df.collect()
    by_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.qnum, r.rank)):
        by_q.setdefault(r.qnum, []).append(r)
    return by_q


def test_rank_identical_topk(spark_results, oracle_index):
    for qnum, text in ALL_QUERIES:
        expected = oracle.run_query(oracle_index, text)
        got = spark_results.get(qnum, [])
        assert [r.doc_id for r in got] == [e.doc_id for e in expected], (
            qnum,
            text,
        )
        for g, e in zip(got, expected):
            assert math.isclose(g.score, e.score, rel_tol=0, abs_tol=1e-9), (
                qnum, g.doc_id,
            )
            assert math.isclose(
                g.bm25_sum, e.bm25_sum, rel_tol=0, abs_tol=1e-9
            ), (qnum, g.doc_id)
            assert g.url == e.url


def test_ranks_are_dense_from_one(spark_results):
    for qnum, rows in spark_results.items():
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))


def test_proximity_udf_matches_oracle_fn():
    from modernsearchengines_spark.operators.proximity import min_span_score

    cases = [
        [[1, 5, 9], [2, 6], [3, 30]],
        [[10], [200], [3000]],
        [[1, 2, 3]],
        [],
        [[5, 7], [6]],
    ]
    for lists in cases:
        assert min_span_score(lists) == oracle.min_span_proximity(lists)
