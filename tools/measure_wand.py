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

def warm(fn, n=3):
    runs = []
    for _ in range(n):
        t0 = time.time(); fn(); runs.append(time.time() - t0)
    return round(min(runs), 3), [round(r,3) for r in runs]

out = {}
P, B = index["postings"], index["blocks"]
out["light_exhaustive"] = warm(lambda: wand.bm25_topk_exhaustive(P, terms, 100).collect())
out["light_wand"] = warm(lambda: wand.bm25_topk_wand(P, B, terms, 100).collect())
out["minspan_exhaustive"] = warm(lambda: wand.bm25_prox_topk_exhaustive(P, terms, 100).collect())
out["minspan_wand"] = warm(lambda: wand.bm25_prox_topk_wand(P, B, terms, 100).collect())
out["plm_exhaustive"] = warm(lambda: wand.bm25_prox_topk_exhaustive(P, terms, 100, scorer=plm_score_vb_udf).collect(), n=2)
out["plm_wand"] = warm(lambda: wand.bm25_prox_topk_wand(P, B, terms, 100, scorer=plm_score_vb_udf).collect(), n=2)
out["stats_light"] = wand.pruning_stats(P, B, terms, 100)
out["stats_payload"] = wand.pruning_stats(P, B, terms, 100, alpha=wand.PROX_ALPHA)
print(json.dumps(out))
