"""Posting-block codec: docID delta + LEB128 varint, numpy-vectorized.

The reference stores one DB row per word occurrence (src/models/db.py:90-114,
indexer.py:28-38) — ~40+ bytes/posting. Our physical index packs sorted
docIDs per (shard, term) into fixed-size blocks (BLOCK_SIZE docs) of
delta+varint bytes, alongside varint tf and doc-length streams, with
per-block skip metadata (max_doc_id, max tf-norm) for block-max WAND.

Both encode and decode are vectorized with numpy (no per-value Python loop):
encode builds an (n, 10) matrix of 7-bit groups and flattens through a byte-
count mask; decode segments on continuation bits and reduces payloads with
``np.add.at`` over disjoint bit ranges.
"""

from __future__ import annotations

import struct

import numpy as np

BLOCK_SIZE = 128

_SHIFTS = np.arange(10, dtype=np.uint64) * np.uint64(7)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # 7-bit groups, little-endian: col k = bits [7k, 7k+7)
    groups = (v[:, None] >> _SHIFTS[None, :]) & np.uint64(0x7F)
    # bytes needed per value: position of highest non-zero group + 1
    nonzero = groups != 0
    nbytes = np.where(
        nonzero.any(axis=1), 10 - np.argmax(nonzero[:, ::-1], axis=1), 1
    ).astype(np.int64)
    mask = np.arange(10)[None, :] < nbytes[:, None]
    out = groups.astype(np.uint8)
    # continuation bit on every byte except the last of each value
    cont = np.arange(10)[None, :] < (nbytes - 1)[:, None]
    out |= cont.astype(np.uint8) << 7
    return out[mask].tobytes()  # row-major → per-value byte order preserved


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    cont = (b & 0x80) != 0
    ends = np.nonzero(~cont)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    n = ends.size
    group_id = np.zeros(b.size, dtype=np.int64)
    group_id[starts[1:]] = 1
    group_id = np.cumsum(group_id)
    pos = np.arange(b.size, dtype=np.int64) - starts[group_id]
    payload = (b & 0x7F).astype(np.uint64) << (pos.astype(np.uint64) * np.uint64(7))
    out = np.zeros(n, dtype=np.uint64)
    np.add.at(out, group_id, payload)
    if count is not None and n != count:
        raise ValueError(f"decoded {n} values, expected {count}")
    return out


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    a = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.ascontiguousarray(deltas, dtype=np.uint64), dtype=np.uint64)


# ---------------------------------------------------------------------------
# block layout: [u16 n][varints doc_deltas][varints tfs][varints dls]
# ---------------------------------------------------------------------------

def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    """One posting block (doc_ids sorted ascending)."""
    n = doc_ids.size
    parts = [struct.pack("<H", n)]
    for stream in (delta_encode(doc_ids), tfs, dls):
        enc = varint_encode(stream)
        parts.append(struct.pack("<I", len(enc)))
        parts.append(enc)
    return b"".join(parts)


def decode_block(buf: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """→ (doc_ids, tfs, dls)."""
    n = struct.unpack_from("<H", buf, 0)[0]
    off = 2
    streams = []
    for _ in range(3):
        ln = struct.unpack_from("<I", buf, off)[0]
        off += 4
        streams.append(varint_decode(buf[off:off + ln], count=n))
        off += ln
    doc_ids = delta_decode(streams[0])
    return doc_ids, streams[1], streams[2]


def decode_blocks(bufs) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                                 np.ndarray]:
    """Many blocks at once → (doc_ids, tfs, dls, counts): the concatenated
    ``decode_block`` outputs, in ``bufs`` order, and each block's posting
    count. Headers are parsed per block; each of the three varint streams
    is concatenated over all blocks and decoded in ONE ``varint_decode``
    call, and the doc-id deltas are prefix-summed per block by one global
    cumsum minus each block's starting offset (uint64 arithmetic wraps
    modulo 2^64, so the difference is exact whenever the ids fit)."""
    counts = []
    streams: tuple[list, list, list] = ([], [], [])
    for buf in bufs:
        counts.append(struct.unpack_from("<H", buf, 0)[0])
        off = 2
        for parts in streams:
            ln = struct.unpack_from("<I", buf, off)[0]
            off += 4
            parts.append(buf[off:off + ln])
            off += ln
    counts = np.array(counts, dtype=np.int64)
    n = int(counts.sum())
    deltas, tfs, dls = (varint_decode(b"".join(parts), count=n)
                        for parts in streams)
    csum = np.concatenate((np.zeros(1, np.uint64),
                           np.cumsum(deltas, dtype=np.uint64)))
    starts = np.cumsum(counts) - counts
    doc_ids = csum[1:] - np.repeat(csum[starts], counts)
    return doc_ids, tfs, dls, counts
