"""Resume test (SURVEY §5.2 item 6): kill after a partial segment build,
resume, and assert the final index is identical to the single-shot build and
the ``_segments`` lineage carries per-partition metrics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from modernsearchengines_spark.operators import checkpoint, indexer


@pytest.fixture(scope="module")
def clean(spark, docs_df):
    return indexer.clean_docs(docs_df).cache()


def _index_signature(idx):
    rows = idx["postings"].select("term", "doc_id", "tf", "dl").collect()
    return {(r.term, r.doc_id): (r.tf, r.dl) for r in rows}


def test_partial_build_then_resume_identical(spark, clean, tmp_path):
    out = str(tmp_path / "segidx")
    n_segments = 4

    # Crash after 2 of 4 segments.
    result = checkpoint.build_index_checkpointed(
        spark, clean, out, n_segments=n_segments, fail_after=2
    )
    assert result is None
    manifest = checkpoint.read_manifest(spark, out)
    assert len(manifest) == 2
    for row in manifest.values():
        assert row["status"] == "done"
        assert row["n_postings"] > 0 and row["n_tokens"] > 0
        assert row["wall_ms"] >= 0

    # Resume: only the remaining segments are built.
    result = checkpoint.build_index_checkpointed(
        spark, clean, out, n_segments=n_segments
    )
    assert result is not None
    manifest = checkpoint.read_manifest(spark, out)
    assert sorted(manifest) == list(range(n_segments))

    # Lineage totals add up to the corpus.
    n_docs_total = sum(r["n_docs"] for r in manifest.values())
    assert n_docs_total == clean.count()

    # Identical to the single-shot build.
    single = indexer.build_index(spark, clean)
    assert _index_signature(result) == _index_signature(single)
    seg_stats = result["corpus_stats"].collect()[0]
    one_stats = single["corpus_stats"].collect()[0]
    assert seg_stats.n_docs == one_stats.n_docs
    assert math.isclose(
        seg_stats.avg_doc_len, one_stats.avg_doc_len, abs_tol=1e-9
    )
    # doc_stats agree too — length-capped docs must appear in BOTH builds
    # (NULL aug_len, doc_len 0), not vanish from the segmented one.
    def _doc_stats_sig(idx):
        return {
            r.doc_id: (r.url, r.aug_len, r.doc_len)
            for r in idx["doc_stats"].collect()
        }

    assert _doc_stats_sig(result) == _doc_stats_sig(single)
    indexer.unpersist_index(single)
    capped = [
        r for r in result["doc_stats"].collect() if r.aug_len is None
    ]
    assert capped, "fixture's >800k-char doc should be present but unindexed"


def test_resume_is_noop_when_complete(spark, clean, tmp_path):
    out = str(tmp_path / "segidx2")
    checkpoint.build_index_checkpointed(spark, clean, out, n_segments=2)
    docs = indexer.assign_doc_ids(clean)
    written = checkpoint.build_segments(spark, docs, out, n_segments=2)
    assert written == []  # nothing rebuilt


def test_merge_refuses_partial_uncommitted_segment(spark, clean, tmp_path):
    """A segment directory whose parquet write completed (fully or
    partially) before the crash but whose manifest row was never committed
    must FAIL the merge, not be silently folded in."""
    out = str(tmp_path / "segidx3")
    checkpoint.build_index_checkpointed(
        spark, clean, out, n_segments=4, fail_after=2
    )
    # simulate: segment 2's data landed but its manifest commit did not
    import os
    import shutil

    done_dirs = sorted(
        d for d in os.listdir(f"{out}/enriched") if d.startswith("segment=")
    )
    src = f"{out}/enriched/{done_dirs[0]}"
    shutil.copytree(src, f"{out}/enriched/segment=2")
    with pytest.raises(RuntimeError, match="without a committed manifest"):
        checkpoint.merge_segments(spark, out, n_segments=4)


def test_segment_assignment_is_deterministic(spark, clean):
    a = (
        clean.select(checkpoint.segment_of(F.col("url"), 8).alias("s"), "url")
        .collect()
    )
    b = (
        clean.select(checkpoint.segment_of(F.col("url"), 8).alias("s"), "url")
        .collect()
    )
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
