"""Vendored pure-Python xxHash64 (Collet's xxHash, public spec) matching
Spark's ``F.xxhash64`` on string columns (seed 42, UTF-8 bytes, signed
64-bit result).

Used to assign stable content-derived doc ids (``doc_id = xxhash64(url)``)
identically in the Spark engine and the pure-Python oracle: a dense
rank-over-url id needs a global ordering pass (range partition + offsets) —
three extra jobs and a determinism hazard — while a content hash is a pure
column expression that scales with no coordination.

Collision budget (birthday bound, 64-bit: E[colliding pairs] ≈ n²/2^65):
at n = 10^9 docs the expected number of colliding url pairs is ≈ 0.027
(i.e. ~2.7% odds of even ONE collision anywhere) — negligible.  At
n = 10^12 the same bound gives ≈ 27,000 expected colliding pairs, each
silently merging two documents' postings and doc stats — NOT negligible.
``indexer.build_index`` therefore guards every build with a
``count(distinct url) == count(distinct doc_id)`` invariant (one agg over
a frame it already materializes) and fails on collision.  The remedy for
the 10^12 regime is widening the key to two independent 64-bit hash
columns; that wider key is NOT implemented.

Parity with the JVM implementation is locked by tests/test_determinism.py.
"""

from __future__ import annotations

# Spark's seed for F.xxhash64 / the SQL xxhash64 function.
SEED = 42
_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK
    acc = _rotl(acc, 31)
    return (acc * _P1) & _MASK


def _merge(h: int, acc: int) -> int:
    h ^= _round(0, acc)
    return (h * _P1 + _P4) & _MASK


def xxhash64_bytes(data: bytes) -> int:
    """Unsigned xxHash64 of ``data`` under Spark's seed."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (SEED + _P1 + _P2) & _MASK
        v2 = (SEED + _P2) & _MASK
        v3 = SEED & _MASK
        v4 = (SEED - _P1) & _MASK
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _MASK
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (SEED + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def xxhash64_str(s: str) -> int:
    """Signed 64-bit xxHash64 of a string — equals Spark ``xxhash64(col)``."""
    v = xxhash64_bytes(s.encode("utf-8"))
    return v - (1 << 64) if v >= (1 << 63) else v
