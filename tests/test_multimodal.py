"""Multimodal binary-column plumbing + simhash near-dup LSH."""

from __future__ import annotations

import pytest

from modernsearchengines_spark.operators import multimodal
from modernsearchengines_spark.operators.dedup import simhash_near_dup_pairs


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x89PNG\r\n" + bytes(range(256)) * 8),
        (2, b"\xff\xd8\xff\xe0" + bytes(reversed(range(256))) * 4),
        (3, b"RIFF" + b"\x00" * 500),
        (4, b"plain-bytes" * 100),
        (5, None),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_extract_features_fake_decoder(spark, media):
    feats = multimodal.extract_features(media).collect()
    by_id = {r.media_id: r for r in feats}
    assert len(by_id) == 5
    for r in feats:
        assert len(r.features) == multimodal.FEATURE_DIM
    # deterministic: same input → same features
    again = {
        r.media_id: r.features
        for r in multimodal.extract_features(media).collect()
    }
    assert all(again[r.media_id] == r.features for r in feats)
    # null payload → zero vector, n_bytes 0
    assert by_id[5].n_bytes == 0 and set(by_id[5].features) == {0.0}


def test_simhash_near_dup_pairs(spark):
    # Long doc with a one-word edit → tiny hamming distance; the 4×16-bit
    # banding GUARANTEES recall for hamming ≤ 3 (pigeonhole).
    words = (
        "castle river festival music food market bridge garden tour walk "
        * 30
    ).split()
    base = " ".join(words)
    near = " ".join(words[:-1] + ["jazz"])
    far = "completely different unrelated words about trains and planes entirely"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)],
        "id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(df, "text", "id", max_hamming=3).collect()
    }
    assert pairs.get((1, 4)) == 0  # exact dup
    assert (1, 2) in pairs and 0 < pairs[(1, 2)] <= 3  # near dup
    assert (1, 3) not in pairs and (2, 3) not in pairs
