"""build_synonym_table (O-80/O-42 corpus-derived analog): PMI co-occurrence
expansion ranked per term, deterministic, Tübingen-terms excluded.

Reference semantics target (/root/reference/retrieval.py:73-118): propose
candidate synonyms per word, rank by vote count.  Votes here are document
co-occurrence counts; rank is (PMI desc, count desc, synonym asc).
"""

from __future__ import annotations

import pytest

from modernsearchengines_spark.operators import indexer
from modernsearchengines_spark.operators.expansion import (
    TUEBINGEN_TERMS,
    build_synonym_table,
    compile_query,
    synonym_table_to_dict,
)


@pytest.fixture(scope="module")
def index(spark, docs_df):
    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    yield idx
    indexer.unpersist_index(idx)


@pytest.fixture(scope="module")
def table_dict(spark, index):
    n_docs = index["corpus_stats"].collect()[0]["n_docs"]
    table = build_synonym_table(
        index["postings"], n_docs, vocab_top=300, min_pair=3, top_k=5
    )
    return synonym_table_to_dict(table)


def test_shape_and_bounds(table_dict):
    assert table_dict, "fixture corpus must produce co-occurring terms"
    for term, syns in table_dict.items():
        assert 1 <= len(syns) <= 5
        assert term not in syns, "a term must not be its own synonym"
        assert len(set(syns)) == len(syns), "no duplicate synonyms"


def test_tuebingen_terms_excluded(table_dict):
    tueb = set(TUEBINGEN_TERMS)
    assert not (set(table_dict) & tueb)
    for syns in table_dict.values():
        assert not (set(syns) & tueb)


def test_deterministic(spark, index, table_dict):
    n_docs = index["corpus_stats"].collect()[0]["n_docs"]
    again = synonym_table_to_dict(
        build_synonym_table(
            index["postings"], n_docs, vocab_top=300, min_pair=3, top_k=5
        )
    )
    assert again == table_dict


def test_feeds_compile_query(table_dict):
    # pick a head term that has synonyms and is not expansion-skipped
    term = next(iter(sorted(table_dict)))
    q = compile_query(1, term, expansion=table_dict)
    base = compile_query(1, term)
    # both compile; the corpus expansion yields a valid terms tuple that
    # includes the original term's stem
    assert set(base.original_terms) <= set(q.terms)
    assert len(q.terms) >= len(base.original_terms)


def test_per_doc_cap_bounds_pairs(spark, index):
    n_docs = index["corpus_stats"].collect()[0]["n_docs"]
    capped = build_synonym_table(
        index["postings"], n_docs, vocab_top=300, per_doc_cap=8,
        min_pair=2, top_k=5,
    )
    # still runs and produces a table; the cap only shrinks support
    rows = capped.collect()
    assert all(1 <= len(r.synonyms) <= 5 for r in rows)


def test_distinct_pairs_fast_path_matches_general_path(spark):
    """The int-indexed distinct_pairs fast path must emit exactly the rows
    of the general (windowed, struct-pair) path on an already-distinct
    (term, doc_id) input — same pairs, same counts, same n_1/n_2."""
    from modernsearchengines_spark.operators.expansion import (
        cooccurrence_counts,
    )

    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for d in range(30):
        for i, w in enumerate(words):
            if (d + i) % 2 == 0 or d % 5 == i:
                rows.append((d, w))
    src = spark.createDataFrame(rows, "doc_id long, term string")
    kw = dict(vocab_top=5, per_doc_cap=3, min_pair=2)
    fast = cooccurrence_counts(src, distinct_pairs=True, **kw)
    slow = cooccurrence_counts(src, distinct_pairs=False, **kw)
    key = lambda r: (r["term"], r["syn"])
    f = {key(r): (r["n_ab"], r["n_1"], r["n_2"]) for r in fast.collect()}
    s = {key(r): (r["n_ab"], r["n_1"], r["n_2"]) for r in slow.collect()}
    assert f == s
    assert f, "fixture must produce co-occurring pairs"


def test_general_path_tolerates_duplicate_term_doc_rows(spark):
    """Repeated (term, doc_id) rows must not change the general path's
    output: no term pairs with itself, and every count equals the count
    over the de-duplicated rows."""
    from modernsearchengines_spark.operators.expansion import (
        cooccurrence_counts,
    )

    rows = []
    words = ["alpha", "beta", "gamma", "delta"]
    for d in range(20):
        for i, w in enumerate(words):
            if (d + i) % 2 == 0 or d % 3 == i:
                rows.append((d, w))
    dup = rows + [r for r in rows if r[0] % 2 == 0]  # every even doc twice
    kw = dict(vocab_top=4, per_doc_cap=3, min_pair=2)
    schema = "doc_id long, term string"
    got = cooccurrence_counts(spark.createDataFrame(dup, schema), **kw).collect()
    want = cooccurrence_counts(spark.createDataFrame(rows, schema), **kw).collect()
    assert want, "fixture must produce co-occurring pairs"
    assert all(r["term"] != r["syn"] for r in got)
    key = lambda r: (r["term"], r["syn"], r["n_ab"], r["n_1"], r["n_2"])
    assert sorted(map(key, got)) == sorted(map(key, want))
