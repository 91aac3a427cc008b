"""Varint/delta/block codec round-trips (property-based, SURVEY.md §5.5)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_tr_spark.functions.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_blocks,
    delta_decode,
    delta_encode,
    encode_block,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_known_bytes():
    # classic LEB128: 300 = 0xAC 0x02
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1,
                max_size=300, unique=True))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip_sorted(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


@given(st.lists(
    st.tuples(st.integers(0, 2**40), st.integers(1, 1000), st.integers(1, 100000)),
    min_size=1, max_size=256))
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(postings):
    postings = sorted({d: (tf, dl) for d, tf, dl in postings}.items())
    docs = np.array([d for d, _ in postings], dtype=np.uint64)
    tfs = np.array([tf for _, (tf, _) in postings], dtype=np.uint64)
    dls = np.array([dl for _, (_, dl) in postings], dtype=np.uint64)
    d2, t2, l2 = decode_block(encode_block(docs, tfs, dls))
    assert np.array_equal(d2, docs)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)


@st.composite
def blocks(draw):
    """One encoded block: 1…BLOCK_SIZE postings, doc ids up to 2^40,
    multi-byte tfs and dls."""
    docs = sorted(draw(st.sets(st.integers(0, 2**40), min_size=1,
                               max_size=BLOCK_SIZE)))
    n = len(docs)
    tfs = draw(st.lists(st.integers(1, 2**20), min_size=n, max_size=n))
    dls = draw(st.lists(st.integers(1, 2**30), min_size=n, max_size=n))
    return encode_block(*(np.array(a, dtype=np.uint64)
                          for a in (docs, tfs, dls)))


@given(st.lists(blocks(), max_size=12))
@settings(max_examples=100, deadline=None)
def test_decode_blocks_equals_per_block_decode(bufs):
    ids, tfs, dls, counts = decode_blocks(bufs)
    one = [decode_block(b) for b in bufs]
    for got, i in ((ids, 0), (tfs, 1), (dls, 2)):
        want = (np.concatenate([d[i] for d in one]) if one
                else np.empty(0, dtype=np.uint64))
        assert got.dtype == np.uint64 and np.array_equal(got, want)
    assert counts.tolist() == [len(d[0]) for d in one]


def test_empty_streams():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_xxh64_matches_spark(spark):
    """Driver-side bucket and shard routing (functions.xxh) must match the
    JVM F.xxhash64 bit-for-bit — for strings every length class (empty,
    <4, <8, <32, stripes + tails) and multi-byte UTF-8, for long doc ids
    the edge values and random ids of every magnitude."""
    import random

    from pyspark.sql import functions as F

    from search_engine_tr_spark.functions.xxh import doc_shard, term_bucket, \
        xxh64

    rng = random.Random(5)
    pool = ["", "a", "ab", "abc", "abcd", "istanbul", "İZMİR", "😀emoji",
            "x" * 7, "y" * 8, "z" * 31, "w" * 32, "v" * 33, "t" * 100]
    pool += ["".join(chr(rng.randrange(32, 0x2000))
                     for _ in range(rng.randrange(0, 64)))
             for _ in range(200)]
    rows = (spark.createDataFrame([(s,) for s in pool], "s string")
            .select("s", F.xxhash64("s").alias("h"),
                    F.pmod(F.xxhash64("s"), F.lit(64)).cast("int").alias("b"))
            .collect())
    for r in rows:
        assert xxh64(r["s"].encode("utf-8")) == r["h"], repr(r["s"])
        assert term_bucket(r["s"], 64) == r["b"], repr(r["s"])

    ids = [0, 1, 2**31, 2**40, 2**63 - 1]
    ids += [rng.randrange(2 ** rng.randrange(1, 64)) for _ in range(300)]
    rows = (spark.createDataFrame([(i,) for i in ids], "d long")
            .select("d", F.xxhash64("d").alias("h"),
                    *[F.pmod(F.xxhash64("d"), F.lit(n)).cast("int")
                      .alias(f"s{n}") for n in (4, 32, 7)])
            .collect())
    for r in rows:
        assert xxh64(r["d"].to_bytes(8, "little", signed=True)) == r["h"]
        for n in (4, 32, 7):
            assert doc_shard(r["d"], n) == r[f"s{n}"], (r["d"], n)
