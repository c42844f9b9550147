"""Posting-list compression: docID-gap delta + variable-byte encoding.

Replaces the reference's JSON-text "compression" of position lists
(/root/reference/indexing.py:251 ``json.dumps(positions)``) with the classic
binary scheme (Witten/Moffat/Bell, "Managing Gigabytes"): sort-order deltas,
then each gap as a little-endian 7-bit varint with a continuation bit.

Exposed both as pure functions (oracle/tests) and as a vectorized pandas
encode UDF (Arrow batch transfer — no per-row Python in the Spark plan).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType


def varbyte_encode(values: list[int]) -> bytes:
    """Delta+varbyte encode a non-decreasing int list (first value raw)."""
    out = bytearray()
    prev = 0
    for v in values:
        gap = v - prev
        prev = v
        if gap < 0:
            raise ValueError("varbyte_encode requires a non-decreasing list")
        while True:
            byte = gap & 0x7F
            gap >>= 7
            if gap:
                out.append(byte | 0x80)
            else:
                out.append(byte)
                break
    return bytes(out)


def varbyte_decode(data: bytes) -> list[int]:
    """Inverse of :func:`varbyte_encode`."""
    values: list[int] = []
    acc = 0
    shift = 0
    prev = 0
    for byte in data:
        acc |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            prev += acc
            values.append(prev)
            acc = 0
            shift = 0
    return values


try:
    import numpy as np
except ImportError:  # pragma: no cover
    np = None


def varbyte_encode_batch(arrays: list) -> list[bytes | None]:
    """Vectorized batch encode: byte-identical to ``varbyte_encode`` per row.

    The per-row Python closure is the hot path at 10^7+ postings per
    partition; this flattens the whole Arrow batch into one numpy array,
    computes deltas and varint bytes with masks (values < 2^28 ⇒ ≤ 4 bytes,
    which covers char-offset positions ≤ 800k many times over), and slices
    per-row outputs from one buffer.  Rows with values ≥ 2^28 fall back to
    the scalar encoder.
    """
    if np is None:
        return [
            varbyte_encode([int(x) for x in a]) if a is not None else None
            for a in arrays
        ]
    lens = np.fromiter(
        (len(a) if a is not None else 0 for a in arrays), dtype=np.int64,
        count=len(arrays),
    )
    if lens.sum() == 0:
        return [None if a is None else b"" for a in arrays]
    # Rows must be pre-sorted (array_sort happens JVM-side before the UDF):
    # ONE contract for both code paths — unsorted input raises ValueError in
    # the scalar encoder, and the vectorized path detects the negative gap
    # and defers to that same scalar contract (it never silently sorts).
    vals = [a for a in arrays if a is not None and len(a)]
    flat = np.concatenate(vals).astype(np.int64, copy=False)
    # per-row delta: subtract predecessor, reset at row starts
    starts = np.zeros(len(flat), dtype=bool)
    row_start_idx = np.cumsum(lens[lens > 0])[:-1]
    starts[0] = True
    starts[row_start_idx] = True
    gaps = flat.copy()
    gaps[~starts] = flat[~starts] - flat[np.flatnonzero(~starts) - 1]
    if (gaps < 0).any() or (gaps >= 1 << 28).any():
        return [
            varbyte_encode([int(x) for x in a]) if a is not None else None
            for a in arrays
        ]
    # varint byte counts (little-endian 7-bit groups, continuation bit)
    nbytes = np.ones(len(gaps), dtype=np.int64)
    nbytes[gaps >= 1 << 7] = 2
    nbytes[gaps >= 1 << 14] = 3
    nbytes[gaps >= 1 << 21] = 4
    out_ends = np.cumsum(nbytes)
    buf = np.zeros(int(out_ends[-1]), dtype=np.uint8)
    pos0 = out_ends - nbytes
    buf[pos0] = gaps & 0x7F
    m2 = nbytes >= 2
    buf[pos0[m2]] |= 0x80
    buf[pos0[m2] + 1] = (gaps[m2] >> 7) & 0x7F
    m3 = nbytes >= 3
    buf[pos0[m3] + 1] |= 0x80
    buf[pos0[m3] + 2] = (gaps[m3] >> 14) & 0x7F
    m4 = nbytes >= 4
    buf[pos0[m4] + 2] |= 0x80
    buf[pos0[m4] + 3] = (gaps[m4] >> 21) & 0x7F
    # slice per row
    raw = buf.tobytes()
    row_byte_len = np.zeros(len(arrays), dtype=np.int64)
    np.add.at(
        row_byte_len,
        np.repeat(np.arange(len(arrays)), lens),
        nbytes,
    )
    ends = np.cumsum(row_byte_len)
    begins = ends - row_byte_len
    return [
        None if arrays[i] is None else raw[begins[i] : ends[i]]
        for i in range(len(arrays))
    ]


@F.pandas_udf(BinaryType())
def varbyte_encode_udf(positions: pd.Series) -> pd.Series:
    return pd.Series(
        varbyte_encode_batch(list(positions)), index=positions.index
    )

