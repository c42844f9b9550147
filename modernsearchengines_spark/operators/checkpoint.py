"""Checkpointed, resumable segment builds with per-partition lineage
(BASELINE.json north_rule; reference analogue: the crawler's pickle
checkpoint at /root/reference/WebCrawler_basis.py:13-24).

The corpus is split into ``n_segments`` deterministic url-hash segments.
Each segment's enriched table (doc stats + local postings — no
corpus-global stats yet, indexer.write_enriched) is built and committed
independently; a ``_segments`` manifest row records lineage + metrics
(n_docs, n_tokens, n_postings, wall_ms, status).  A crashed build resumes
by skipping segments whose manifest row is ``done`` — the anti-join resume
of SURVEY O-14.

The merge step (global N, avg_doc_len, collision guard, df, IDF)
runs over the union of segment outputs through the same
indexer.score_and_layout that build_index uses.  Global stats CANNOT be
finalized per-segment (Q2/Q3: N and avg span the whole corpus), which is
exactly why the reference's single-shot design doesn't scale and the
rebuild separates raw-posting construction (resumable, embarrassingly
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


def write_enriched_segment(
    seg_docs: DataFrame, out_dir: str, seg: int | str
) -> None:
    """Commit one segment's enriched table (indexer.write_enriched — doc
    stats + local postings, the build's one Arrow crossing) at
    ``enriched/segment=<seg>``; everything else derives from the written
    parquet at merge time.  Length-capped docs stay in the segment's doc
    stats (and hence in N / avg_doc_len, Q2/Q3) with doc_len=0 / NULL
    aug_len, so the checkpointed and single-shot builds return identical
    doc_stats (the reference keeps all pages in its pages table)."""
    indexer.write_enriched(seg_docs, f"{out_dir}/enriched/segment={seg}")


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
        seg_docs = docs.filter(F.col("_seg") == seg)
        n_docs = seg_docs.count()
        write_enriched_segment(seg_docs, out_dir, seg)
        seg_written = spark.read.parquet(f"{out_dir}/enriched/segment={seg}")
        stats = seg_written.agg(
            F.sum(F.size("postings")).alias("n_postings"),
            F.sum("doc_len").alias("n_tokens"),
        ).collect()[0]
        row = {
            "segment_id": seg,
            "n_docs": n_docs,
            "n_tokens": int(stats.n_tokens or 0),
            "n_postings": int(stats.n_postings or 0),
            "wall_ms": int((time.time() - t0) * 1000),
            "status": "done",
            "input_fingerprint": n_docs,
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
        .parquet(*[f"{out_dir}/enriched/segment={s}" for s in done])
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


def layout_segment(spark: SparkSession, out_dir: str, seg: int | str) -> None:
    """Append one committed enriched segment's postings
    (indexer.layout_postings) to ``out_dir/postings``, leaving every
    existing posting file untouched.  The layout needs no corpus-global
    stat, so this is all an append has to write into the fat table; the
    df>5 prune stays a rule of the terms table."""
    (
        indexer.layout_postings(
            spark.read.parquet(f"{out_dir}/enriched/segment={seg}")
        )
        .repartition("term_bucket")
        .write.mode("append")
        .partitionBy("term_bucket")
        .parquet(f"{out_dir}/postings")
    )
