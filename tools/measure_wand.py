"""One-off: measure pruned-vs-exhaustive crossover on the bench index."""
import os, sys, time, json
sys.path.insert(0, "/root/repo")
from modernsearchengines_spark.session import get_spark
from modernsearchengines_spark.operators import indexer, query, wand
from modernsearchengines_spark.operators.expansion import compile_query
from modernsearchengines_spark.operators.proximity import plm_score_vb_udf
from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES

WAND_QUERIES = REFERENCE_QUERIES + [
    (3, "castle museum river"),
    (4, "beer wine coffee market"),
    (5, "old botanical garden university"),
]
spark = get_spark("measure-wand", cores=32, shuffle_partitions=64)
index = indexer.read_index(spark, "/tmp/msengines_bench/idx_high")
index["postings"] = index["postings"].cache()
index["postings"].count()
compiled = [compile_query(q, t) for q, t in WAND_QUERIES]
terms = query.query_terms_df(spark, compiled, index=index)

def released(df):
    """Collect, then free the aggregate a pruned path persisted, so a
    repeat recomputes it."""
    rows = df.collect()
    query.release(df)
    return rows

def warm(fn, n=3):
    runs = []
    for _ in range(n):
        t0 = time.time(); fn(); runs.append(time.time() - t0)
    return round(min(runs), 3), [round(r,3) for r in runs]

out = {}
P = index["postings"]
out["light_exhaustive"] = warm(lambda: wand.bm25_topk_exhaustive(P, terms, 100).collect())
out["minspan_exhaustive"] = warm(lambda: wand.bm25_prox_topk_exhaustive(P, terms, 100).collect())
out["minspan_wand"] = warm(lambda: released(wand.bm25_prox_topk_wand(P, None, terms, 100)))
out["plm_exhaustive"] = warm(lambda: wand.bm25_prox_topk_exhaustive(P, terms, 100, scorer=plm_score_vb_udf).collect(), n=2)
out["plm_wand"] = warm(lambda: released(wand.bm25_prox_topk_wand(P, None, terms, 100, scorer=plm_score_vb_udf)), n=2)
out["stats_payload"] = wand.pruning_stats(P, None, terms, 100)
print(json.dumps(out))
