"""Pure-Python xxHash64 matching Spark's ``F.xxhash64`` (seed 42).

Why: the BM25 reader routes a query's terms to their ``term_bucket``
partitions (pmod(xxhash64(term), term_buckets), assigned at build time by
the JVM expression). Computing the same hash driver-side removes the last
pre-scan Spark job from the query path — a single-action search submits
ONE job for lookup + scan + top-k (VERDICT r4 #6). Parity with the JVM
expression is pinned by tests/test_codec.py over multi-byte UTF-8 inputs;
the Spark expression remains the writer side, so a mismatch would fail
loudly in the parity test rather than mis-route queries.

Spark's XXH64 (catalyst.expressions.XXH64) is the reference xxHash64
algorithm over the string's UTF-8 bytes with little-endian lane reads; a
long is hashed as its 8 little-endian bytes (``XXH64.hashLong``), which
lets the driver-side delta refresh route postings to ``shard``s as
``pmod(xxhash64(doc_id), n_shards)`` does in the build.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """xxHash64 of ``data`` → SIGNED 64-bit int (Spark's long)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, n_buckets: int, seed: int = 42) -> int:
    """Driver-side twin of ``pmod(xxhash64(term), n_buckets)``."""
    return xxh64(term.encode("utf-8"), seed) % n_buckets


def doc_shard(doc_id: int, n_shards: int, seed: int = 42) -> int:
    """Driver-side twin of ``pmod(xxhash64(doc_id), n_shards)`` for a long
    ``doc_id``."""
    return xxh64(doc_id.to_bytes(8, "little", signed=True), seed) % n_shards
