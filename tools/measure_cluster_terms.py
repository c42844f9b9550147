"""One-off A/B: does sortWithinPartitions(term) in the postings write pay?

Measures, on the 400k bench corpus at 32 cores:
  * layout-phase wall (write_index) with and without term clustering
  * postings bytes on disk (parquet footer compressed sizes)
  * warm query latency (light exhaustive + payload pruned) on both layouts
A-B interleaved per round against hypervisor epoch drift.
"""
import glob
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def du_mb(path: str) -> float:
    total = 0
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        total += os.path.getsize(f)
    return round(total / 1e6, 1)


def build_once(cluster: bool, out_dir: str) -> dict:
    from modernsearchengines_spark.operators import indexer
    from modernsearchengines_spark.session import get_spark

    spark = get_spark(
        f"ab-{cluster}-{out_dir[-6:]}",
        cores=32,
        shuffle_partitions=128,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "64m",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    docs = spark.read.parquet("/tmp/msengines_bench/docs_400000.parquet")
    clean = indexer.clean_docs(docs)
    idx = indexer.build_index(spark, clean)
    t1 = time.time()
    indexer.write_index(idx, out_dir, cluster_terms=cluster)
    layout = time.time() - t1
    spark.stop()
    return {"layout_sec": round(layout, 3), "postings_mb": du_mb(f"{out_dir}/postings")}


def query_latency(idx_dir: str) -> dict:
    from modernsearchengines_spark.operators import indexer, query, wand
    from modernsearchengines_spark.operators.expansion import compile_query
    from modernsearchengines_spark.sources.docs import REFERENCE_QUERIES
    from modernsearchengines_spark.session import get_spark

    spark = get_spark(f"abq-{idx_dir[-6:]}", cores=32, shuffle_partitions=64)
    index = indexer.read_index(spark, idx_dir)
    compiled = [compile_query(q, t) for q, t in REFERENCE_QUERIES]
    terms = query.query_terms_df(spark, compiled, index=index)

    def released(df):
        # free the aggregate the pruned path persisted: repeats recompute it
        rows = df.collect()
        query.release(df)
        return rows

    out = {}
    for name, fn in [
        ("light", lambda: wand.bm25_topk_exhaustive(index["postings"], terms, 100).collect()),
        ("payload_wand", lambda: released(wand.bm25_prox_topk_wand(index["postings"], index["blocks"], terms, 100))),
    ]:
        runs = []
        for _ in range(3):
            t0 = time.time()
            fn()
            runs.append(time.time() - t0)
        out[name] = round(min(runs), 3)
    spark.stop()
    return out


if __name__ == "__main__":
    res = {"plain": [], "clustered": []}
    for rnd in range(2):
        res["plain"].append(build_once(False, "/tmp/msengines_bench/idx_ab_plain"))
        res["clustered"].append(build_once(True, "/tmp/msengines_bench/idx_ab_sorted"))
    res["q_plain"] = query_latency("/tmp/msengines_bench/idx_ab_plain")
    res["q_clustered"] = query_latency("/tmp/msengines_bench/idx_ab_sorted")
    print("RESULT " + json.dumps(res))
