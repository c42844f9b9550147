"""The BM25 contract entries hash-match their DuckDB twins.

``bm25_topk``, ``wand_pruned_topk``, ``payload_topk`` and ``plm_topk``
score through the engine's own layout (indexer.score_and_layout) and
``indexer.bm25_expr``; this runs each one and its ``oracle_sql()`` query
and compares them with the contract tool's check (schema, row count,
order-insensitive values)."""

from __future__ import annotations

import pytest
from test_plans import SF_DIR

import __spark_entry__ as entrymod
from tools import check_contract


@pytest.fixture(scope="module")
def oracle():
    con = check_contract.oracle_connection(SF_DIR, ["documents"])
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", ["bm25_topk", "wand_pruned_topk", "payload_topk", "plm_topk"]
)
def test_scoring_entry_matches_oracle(spark, oracle, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    srows = [r.asDict() for r in sdf.collect()]
    ddf = oracle.sql(entrymod.oracle_sql()[name]).df()
    assert len(srows) == 20
    assert check_contract.mismatch(srows, sdf.columns, ddf) is None
