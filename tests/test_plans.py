"""Plan-shape assertions: pushdown, pruning, broadcast, vectorized Python.

These lock the physical-plan properties the 100 TB design depends on; a
regression here means a full-scan or row-at-a-time Python stage snuck in.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from modernsearchengines_spark.plans.explain import (
    formatted_plan,
    has_pushed_filter,
    python_eval_nodes,
    read_schema_columns,
    uses_broadcast_join,
)

SF_DIR = "/root/testdata/sf0.001"


def test_length_filter_pushdown_and_pruning(spark):
    df = entrymod.q_length_filter(spark, SF_DIR)
    # Predicates reach the parquet scan…
    assert has_pushed_filter(df, "lang") and has_pushed_filter(df, "n_chars")
    # …and unused columns (text, source) are pruned from the read schema.
    cols = read_schema_columns(df)
    assert "text" not in cols and "source" not in cols


def test_join_uses_broadcast(spark):
    df = entrymod.q_join_revenue_by_nation(spark, SF_DIR)
    assert uses_broadcast_join(df)


def test_retrieval_join_broadcasts_and_prunes_buckets(spark, docs_df, tmp_path):
    from modernsearchengines_spark.operators import indexer, query
    from modernsearchengines_spark.operators.expansion import compile_query

    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    indexer.write_index(idx, str(tmp_path / "idx"))
    disk = indexer.read_index(spark, str(tmp_path / "idx"))
    terms = query.query_terms_df(spark, [compile_query(1, "castle museum")], index=disk)
    # rank persists its matched frame; the scan and join it cached are
    # printed under that frame's InMemoryRelation.
    ranked = query.rank(disk["postings"], terms, disk["doc_stats"], top_k=10)
    plan = formatted_plan(ranked)
    assert "BroadcastHashJoin" in plan
    # Static literal pruning reaches the scan: the bucket IN-list of
    # literals shows up in PartitionFilters (as IN, or INSET past ten
    # values) and the term IN-list in PushedFilters.
    assert any(
        "PartitionFilters" in ln
        and re.search(r"term_bucket#\d+ (IN \(|INSET )\d", ln)
        for ln in plan.splitlines()
    ), plan[:2000]
    assert any(
        "PushedFilters" in ln and "In(term" in ln for ln in plan.splitlines()
    )
    query.release(ranked)
    indexer.unpersist_index(idx)


def test_udfs_are_arrow_vectorized_not_row_python(spark, docs_df):
    from modernsearchengines_spark.operators import indexer

    derived = docs_df.withColumn("t", indexer.extract_text_udf("html"))
    nodes = python_eval_nodes(derived)
    assert nodes == ["ArrowEvalPython"]


def test_bm25_topk_aggregates_before_sort(spark):
    # Top-k must be TakeOrderedAndProject / WindowGroupLimit, never a global
    # sort of the full posting set feeding a collect.
    df = entrymod.q_bm25_topk(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_bm25_topk_uses_partial_topk_not_global_window(spark):
    # The k-bounding step must be TakeOrderedAndProject (per-partition
    # partial top-k); any Window node may only run AFTER the limit, i.e. the
    # plan must not sort the full per-doc set through a single partition.
    df = entrymod.q_bm25_topk(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_light_topk_scan_prunes_blob_column(spark, docs_df, tmp_path):
    """Light BM25 top-k must never read positions_vb from the postings
    parquet — column pruning is the whole point of keeping the blobs out of
    the scoring columns."""
    from modernsearchengines_spark.operators import indexer, query, wand
    from modernsearchengines_spark.operators.expansion import compile_query

    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    indexer.write_index(idx, str(tmp_path / "idx"))
    disk = indexer.read_index(spark, str(tmp_path / "idx"))
    terms = query.query_terms_df(spark, [compile_query(1, "castle museum")], index=disk)
    light = wand.bm25_topk_exhaustive(disk["postings"], terms, 10)
    assert "positions_vb" not in read_schema_columns(light)
    # the payload mode DOES read it
    heavy = wand.bm25_prox_topk_exhaustive(disk["postings"], terms, 10)
    assert "positions_vb" in read_schema_columns(heavy)
    indexer.unpersist_index(idx)


def test_new_tpch_entries_broadcast_dims_and_partial_topk(spark):
    for fn in (entrymod.q_shipping_priority, entrymod.q_returned_items):
        df = fn(spark, SF_DIR)
        plan = formatted_plan(df)
        assert uses_broadcast_join(df), fn.__name__
        assert "TakeOrderedAndProject" in plan, fn.__name__


def test_minhash_default_token_ids_have_no_global_window(spark, docs_df):
    from modernsearchengines_spark.operators import dedup

    docs = docs_df.withColumn("doc_id", F.xxhash64("url"))
    toks = dedup.tokens_df(docs, "doc_id", "text")
    sigs = dedup.minhash_signatures(toks, "doc_id")  # default: hash ids
    plan = formatted_plan(sigs)
    assert "Window" not in plan
    # and the pipeline still yields verified near-dup pairs end-to-end
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    jac = dedup.jaccard_pairs(toks, pairs, "doc_id")
    assert jac.filter(F.col("jaccard") >= 0.99).count() > 0  # planted dups


def test_bm25_topk_filters_terms_before_tf_shuffle(spark):
    """r6 shape lock: tf/dl are per-row array expressions over the token
    split — the plan must contain NO Generate (explode) node and NO
    (doc_id, token) aggregation exchange; the only join is the 1-row
    corpus-stats broadcast and the top-k is a TakeOrderedAndProject."""
    df = entrymod.q_bm25_topk(spark, SF_DIR)
    plan = formatted_plan(df)
    # the 1-row stats frame arrives by broadcast (nested-loop cross join)
    assert "BroadcastExchange" in plan
    # no exploded token stream anywhere
    assert "Generate" not in plan, plan[:2000]
    # the only hash-partitioned exchange allowed is the input-skew spread
    # repartition (REPARTITION_BY_COL); no aggregation may shuffle
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "REPARTITION_BY_COL" in ln, ln
    # stats and scoring both read the checkpointed feature frame (narrow
    # ints, computed once); the executed plan must stay Generate-free and
    # keep the partial top-k
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in executed
    assert "TakeOrderedAndProject" in executed


def _executed_nodes(df):
    """Every node of ``df``'s executed (final adaptive) plan as its one-line
    string, walking into query stages but NOT into a cache scan's cached
    plan — so the nodes are exactly the ones that run per query."""
    df.collect()
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        children = node.children()
        kids = [children.apply(i) for i in range(children.size())]
        out.append((node.simpleString(100), [k.nodeName() for k in kids]))
        stack.extend(kids)
    return out


def test_served_topk_is_one_window_without_doc_exchange(spark, docs_df, tmp_path):
    """Over read_index(serve=True) the light top-k runs with no aggregate
    exchange (the doc_id-sharded cache already clusters each document),
    one WindowGroupLimit top-k whose Partial half runs before the qnum
    exchange, and a query-terms side that broadcasts from a local relation
    (no job to build it)."""
    from modernsearchengines_spark.operators import indexer, query, wand
    from modernsearchengines_spark.operators.expansion import compile_query

    idx = indexer.build_index(spark, indexer.clean_docs(docs_df))
    indexer.write_index(idx, str(tmp_path / "idx"))
    indexer.unpersist_index(idx)
    served = indexer.read_index(spark, str(tmp_path / "idx"), serve=True)
    compiled = [compile_query(1, "castle museum"), compile_query(2, "beer wine")]
    terms = query.query_terms_df(spark, compiled, index=served)
    nodes = _executed_nodes(wand.bm25_topk_exhaustive(served["postings"], terms, 10))
    names = [s for s, _ in nodes]

    assert any(
        s.startswith("WindowGroupLimit") and s.endswith("Partial") for s in names
    ), names
    assert sum(s.startswith("Window ") for s in names) == 1, names
    doc_exchanges = [
        s for s in names if re.match(r"Exchange hashpartitioning\([^)]*doc_id", s)
    ]
    assert not doc_exchanges, doc_exchanges
    assert any(s.startswith("InMemoryTableScan") for s in names), names
    broadcast_inputs = [k for s, k in nodes if s.startswith("BroadcastExchange")]
    assert broadcast_inputs and all(
        k == ["LocalTableScan"] for k in broadcast_inputs
    ), broadcast_inputs
    served["postings"].unpersist()
