"""Multimodal column handling for training-data pipelines.

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata; at 100 TB the Spark-side concerns are schema, partitioning, batch
shape, and UDF signatures — the codec itself is a library call.  The
image/audio libraries are NOT in this container, so the decode step is a
deterministic fake decoder: the Spark plumbing (mapInPandas over Arrow
record batches, id passthrough, feature schema) is real and tested
end-to-end.

Operators:
  * ``extract_features`` — mapInPandas: binary → fixed-dim float feature
    vector.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURE_DIM = 32


def fake_decode(payloads: list[bytes]) -> "np.ndarray":
    """Deterministic stand-in decoder: bytes → FEATURE_DIM float32 vector
    derived from a rolling checksum — stable across runs/machines so the
    plumbing is testable."""
    out = np.zeros((len(payloads), FEATURE_DIM), dtype=np.float32)
    for i, b in enumerate(payloads):
        if not b:
            continue
        arr = np.frombuffer(b, dtype=np.uint8)
        for d in range(FEATURE_DIM):
            out[i, d] = float(arr[d::FEATURE_DIM].sum() % 997) / 997.0
    return out


def extract_features(df: DataFrame) -> DataFrame:
    """(media_id, payload binary) → (media_id, features array<float>,
    n_bytes) via mapInPandas (Arrow batches).

    The decoder sees a whole batch (vectorization-friendly shape for real
    codecs / GPU preprocessing).
    """
    schema = "media_id long, features array<float>, n_bytes long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(x) if x is not None else b"" for x in pdf["payload"]]
            feats = fake_decode(payloads)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "features": [row.tolist() for row in feats],
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, schema)
