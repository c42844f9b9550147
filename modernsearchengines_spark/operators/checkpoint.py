"""Checkpointed, resumable segment builds with per-partition lineage
(BASELINE.json north_rule; reference analogue: the crawler's pickle
checkpoint at /root/reference/WebCrawler_basis.py:13-24).

The corpus is split into ``n_segments`` deterministic url-hash segments.
Each segment's enriched table (doc stats + local postings — no
corpus-global stats yet, indexer.write_enriched at indexer.segment_dir) is
built and committed independently; a ``_segments`` manifest row records
lineage + metrics (n_docs, n_tokens, n_postings, wall_ms, status).  A
crashed build resumes by skipping segments whose manifest row is ``done``
— the anti-join resume of SURVEY O-14.

The merge step (global N, avg_doc_len, collision guard, df, IDF)
runs over the union of segment outputs through the same
indexer.score_and_layout that build_index uses, and indexer.write_index
persists the result; this module writes no index table.  Global stats
CANNOT be finalized per-segment (Q2/Q3: N and avg span the whole corpus),
which is exactly why the reference's single-shot design doesn't scale and
the rebuild separates raw-posting construction (resumable, embarrassingly
parallel) from the cheap stats finalization pass.

Target layout is an Iceberg ``_segments`` table + snapshot per segment; in
this sandbox each segment is a Parquet directory plus a JSON manifest file
per segment (atomic rename), which gives the same observable resume
protocol.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import fsio
from . import indexer

MANIFEST_DIR = "_segments"


def segment_of(url_col, n_segments: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_segments)).cast("int")


def _manifest_path(out_dir: str, seg: int) -> str:
    return fsio.join(out_dir, MANIFEST_DIR, f"segment-{seg:05d}.json")


def read_manifest(spark: SparkSession, out_dir: str) -> dict[int, dict]:
    """Committed segment rows, keyed by segment id.  Routed through the
    Hadoop FileSystem API (fsio) so the resume protocol works on any
    scheme (hdfs://, s3a://, file:) — the same defect class the r2
    read_index fix addressed for the reader probe."""
    mdir = fsio.join(out_dir, MANIFEST_DIR)
    out = {}
    for name in fsio.listdir(spark, mdir):
        if name.endswith(".json"):
            # listed-then-missing = a concurrent writer mid delete+rename
            # commit; treat as not-yet-committed (fsio.read_text_or_none)
            text = fsio.read_text_or_none(spark, fsio.join(mdir, name))
            if text is None:
                continue
            row = json.loads(text)
            out[row["segment_id"]] = row
    return out


def build_segments(
    spark: SparkSession,
    docs_with_ids: DataFrame,
    out_dir: str,
    n_segments: int = 8,
    fail_after: int | None = None,
) -> list[dict]:
    """Build enriched segments, committing one manifest row per segment.

    ``fail_after`` aborts after that many segments (crash-injection for the
    resume test).  Returns the manifest rows written this run.
    """
    fsio.mkdirs(spark, fsio.join(out_dir, MANIFEST_DIR))
    done = {
        seg for seg, row in read_manifest(spark, out_dir).items()
        if row["status"] == "done"
    }
    docs = docs_with_ids.withColumn("_seg", segment_of(F.col("url"), n_segments))
    written: list[dict] = []
    built = 0
    for seg in range(n_segments):
        if seg in done:  # resume: anti-join against completed lineage
            continue
        if fail_after is not None and built >= fail_after:
            break
        t0 = time.time()
        seg_dir = indexer.segment_dir(out_dir, seg)
        # The segment's input is evaluated once, by the write; its counts
        # come from the written segment.
        indexer.write_enriched(docs.filter(F.col("_seg") == seg), seg_dir)
        stats = spark.read.parquet(seg_dir).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("postings")).alias("n_postings"),
            F.sum("doc_len").alias("n_tokens"),
        ).collect()[0]
        row = {
            "segment_id": seg,
            "n_docs": stats.n_docs,
            "n_tokens": int(stats.n_tokens or 0),
            "n_postings": int(stats.n_postings or 0),
            "wall_ms": int((time.time() - t0) * 1000),
            "status": "done",
            "input_fingerprint": stats.n_docs,
        }
        # temp-write + rename commit via the Hadoop FS (fsio docstring)
        fsio.write_text_atomic(
            spark, _manifest_path(out_dir, seg), json.dumps(row)
        )
        written.append(row)
        built += 1
    return written


def merge_segments(
    spark: SparkSession,
    out_dir: str,
    n_segments: int,
) -> dict[str, DataFrame]:
    """Finalize the global index from completed segments (SURVEY M3 merge:
    the union of the committed enriched segments through the shared
    indexer.score_and_layout — N, avg_doc_len, the doc_id collision guard
    and df/IDF need corpus-global stats).

    Validation is against the EXPECTED segment count, not just the manifest
    rows that happen to exist: a crash between a segment's (partial)
    parquet write and its manifest commit leaves a directory without a
    'done' row, and a blind read of ``enriched/`` would silently fold that
    partial data into the index.  Only directories with a committed 'done'
    manifest row are read.
    """
    manifest = read_manifest(spark, out_dir)
    done = sorted(
        s for s, r in manifest.items() if r["status"] == "done"
    )
    missing = [s for s in range(n_segments) if s not in set(done)]
    if missing:
        raise RuntimeError(
            f"cannot merge: segments without a committed manifest row: "
            f"{missing} (of {n_segments})"
        )
    enriched = (
        spark.read.option("basePath", f"{out_dir}/enriched")
        .parquet(*[indexer.segment_dir(out_dir, s) for s in done])
    )
    return indexer.score_and_layout(enriched)


def build_index_checkpointed(
    spark: SparkSession,
    clean: DataFrame,
    out_dir: str,
    n_segments: int = 8,
    fail_after: int | None = None,
) -> dict[str, DataFrame] | None:
    """Segmented equivalent of indexer.build_index; returns None if the run
    was aborted before all segments completed (caller resumes later)."""
    docs = indexer.assign_doc_ids(clean)
    build_segments(spark, docs, out_dir, n_segments, fail_after)
    manifest = read_manifest(spark, out_dir)
    if len([r for r in manifest.values() if r["status"] == "done"]) < n_segments:
        return None
    return merge_segments(spark, out_dir, n_segments)
