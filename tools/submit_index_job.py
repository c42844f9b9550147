"""spark-submit entry point: build the inverted index over a docs parquet.

    spark-submit --master local[N] \
        --py-files dist/modernsearchengines_spark.zip \
        tools/submit_index_job.py <docs.parquet> <out_dir> [n_segments]

With n_segments > 0 the build runs through the checkpointed segment path
(resumable; per-partition lineage in <out_dir>/_segments).  The engine code
arrives via --py-files only — this script must not assume the repo is on the
executors' filesystem.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> int:
    docs_path, out_dir = sys.argv[1], sys.argv[2]
    n_segments = int(sys.argv[3]) if len(sys.argv) > 3 else 0

    spark = SparkSession.builder.appName("msengines-index-build").getOrCreate()
    from modernsearchengines_spark.operators import checkpoint, indexer

    docs = spark.read.parquet(docs_path)
    t0 = time.time()
    clean = indexer.clean_docs(docs)
    if n_segments > 0:
        index = checkpoint.build_index_checkpointed(
            spark, clean, out_dir, n_segments=n_segments
        )
        if index is None:
            print(json.dumps({"status": "partial", "out_dir": out_dir}))
            return 1
    else:
        index = indexer.build_index(spark, clean)
    indexer.write_index(index, out_dir)
    wall = time.time() - t0
    n_docs = index["corpus_stats"].collect()[0].n_docs
    # the classic build's enriched segment lives in a temporary directory
    # that only unpersist_index removes
    indexer.unpersist_index(index)
    print(
        json.dumps(
            {
                "status": "ok",
                "n_docs": n_docs,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 2),
                "out_dir": out_dir,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
