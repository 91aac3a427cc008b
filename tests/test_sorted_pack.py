"""The block packer (``plans.index_build.build_blocks``: repartition +
sortWithinPartitions + streaming mapInPandas) must give back, decoded,
exactly each (term, shard) posting list; the build's skew ratios, read off
the written blocks, must equal a postings rescan; and an index it built
must answer queries identically."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_tr_spark.functions.codec import BLOCK_SIZE, decode_blocks
from search_engine_tr_spark.operators.query_bm25 import BM25Index
from search_engine_tr_spark.oracle.refscore import BM25_B, BM25_K1
from search_engine_tr_spark.plans.index_build import build_blocks, build_index
from search_engine_tr_spark.plans.stats import corpus_stats, doc_lengths
from search_engine_tr_spark.sources.synth import reference_queries

_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.mark.parametrize("batch", [None, 7], ids=["default", "batch7"])
def test_blocks_decode_to_posting_lists(spark, tiny_index, batch):
    """``batch=7`` makes term runs straddle Arrow batch boundaries, which
    exercises the packer's carry. Three doc_id-shifted copies of the tiny
    postings on 2 shards give head terms more than BLOCK_SIZE postings per
    shard, so lists are also cut into several blocks."""
    out, _ = tiny_index
    n_shards, term_buckets = 2, 4
    base = spark.read.parquet(out + "/postings").select("doc_id", "term", "tf")
    postings = base
    for i in (1, 2):
        postings = postings.unionByName(
            base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10**6)))
    old = spark.conf.get(_BATCH)
    if batch is not None:
        spark.conf.set(_BATCH, str(batch))
    try:
        doclens = doc_lengths(postings).cache()
        avgdl = corpus_stats(doclens).avgdl
        rows = build_blocks(postings, doclens, avgdl, n_shards,
                            term_buckets).collect()
        want = (postings.join(doclens, "doc_id")
                .withColumn("shard", F.pmod(F.xxhash64("doc_id"),
                                            F.lit(n_shards)).cast("int"))
                .withColumn("term_bucket", F.pmod(F.xxhash64("term"),
                                                  F.lit(term_buckets))
                            .cast("int"))
                .toPandas())
        doclens.unpersist()
    finally:
        spark.conf.set(_BATCH, old)

    docs, tfs, dls, counts = decode_blocks([bytes(r["block"]) for r in rows])
    bounds = np.cumsum(counts)[:-1]
    got = {(r["term"], r["shard"], r["block_no"]): (r, d, t, l)
           for r, d, t, l in zip(rows, np.split(docs, bounds),
                                 np.split(tfs, bounds), np.split(dls, bounds))}
    assert len(got) == len(rows)  # no (term, shard, block_no) twice
    multi_block_lists = 0
    for (term, shard), g in want.groupby(["term", "shard"]):
        g = g.sort_values("doc_id")
        d = g["doc_id"].to_numpy(np.int64)
        t = g["tf"].to_numpy(np.int64)
        l = g["dl"].to_numpy(np.int64)
        tfnorm = (t * (BM25_K1 + 1.0)) / (
            t + BM25_K1 * (1.0 - BM25_B + BM25_B * l / avgdl))
        bucket = int(g["term_bucket"].iloc[0])
        multi_block_lists += len(d) > BLOCK_SIZE
        for bno, off in enumerate(range(0, len(d), BLOCK_SIZE)):
            hi = min(off + BLOCK_SIZE, len(d))
            r, bd, bt, bl = got.pop((term, shard, bno))
            assert r["n"] == hi - off == len(bd)
            assert bd.tolist() == d[off:hi].tolist()
            assert bt.tolist() == t[off:hi].tolist()
            assert bl.tolist() == l[off:hi].tolist()
            assert r["max_doc_id"] == d[hi - 1]
            assert r["max_tfnorm"] == tfnorm[off:hi].max()
            assert r["avgdl0"] == avgdl
            assert r["term_bucket"] == bucket
    assert not got  # every block belongs to a posting list
    assert multi_block_lists > 0


def test_skew_ratios_equal_postings_rescan(spark, tiny_index):
    """The build reads its skew ratios off the written blocks; a postings
    rescan (max/mean postings per term bucket, per shard) must agree."""
    out, metrics = tiny_index
    postings = spark.read.parquet(out + "/postings")

    def rescan(col: str, n: int) -> float:
        row = (postings
               .groupBy(F.pmod(F.xxhash64(col), F.lit(n)).alias("key"))
               .count()
               .agg(F.max("count").alias("mx"), F.avg("count").alias("mean"))
               .collect()[0])
        return row["mx"] / row["mean"]

    assert metrics["skew_term_bucket"] == rescan("term", 8)
    assert metrics["skew_shard"] == rescan("doc_id", 4)


def test_index_built_with_sorted_packer_queries_identically(
        spark, tiny_pages_df, tmp_path, tiny_index):
    out_sorted = str(tmp_path / "ix_sorted")
    build_index(spark, tiny_pages_df, out_sorted, n_shards=4, term_buckets=8)
    base, _ = tiny_index
    a = BM25Index(spark, base)
    b = BM25Index(spark, out_sorted)
    for q in reference_queries()[:5]:
        ra = [(r["doc_id"], r["score"]) for r in a.search(q, k=10).collect()]
        rb = [(r["doc_id"], r["score"]) for r in b.search(q, k=10).collect()]
        assert ra == rb, q
