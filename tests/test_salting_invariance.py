"""Salting invariance (SURVEY.md §5.5): splitting every term's posting list
across S doc-shards (the head-term salting) must not change any score or
rank — n_shards=1 and n_shards=6 indexes answer identically, WAND and
exhaustive alike."""

import pytest

from search_engine_tr_spark.operators.query_bm25 import BM25Index
from search_engine_tr_spark.plans.index_build import build_index
from search_engine_tr_spark.sources.synth import pages_df, reference_queries


@pytest.fixture(scope="module")
def two_indexes(spark, tmp_path_factory):
    pages = pages_df(spark, 60, seed=21)
    pages.cache().count()
    outs = []
    for shards in (1, 6):
        out = str(tmp_path_factory.mktemp(f"salt{shards}"))
        build_index(spark, pages, out, n_shards=shards, term_buckets=4)
        outs.append(out)
    pages.unpersist()
    return outs


@pytest.mark.parametrize("mode", ["wand", "exhaustive"])
def test_sharding_does_not_change_results(spark, two_indexes, mode):
    idx1 = BM25Index(spark, two_indexes[0])
    idx6 = BM25Index(spark, two_indexes[1])
    for q in reference_queries()[:6]:
        r1 = [(r["doc_id"], r["score"])
              for r in idx1.search(q, k=10, mode=mode).collect()]
        r6 = [(r["doc_id"], r["score"])
              for r in idx6.search(q, k=10, mode=mode).collect()]
        assert r1 == r6, (q, mode)
