"""Delta derived refresh (round 4): multi-generation stacking, the
avgdl-drift bound rescale, and rebuild_derived as the canonicalization
pass that folds deltas back into one generation."""

import os

from pyspark.sql import functions as F

from search_engine_tr_spark.operators.query_bm25 import BM25Index
from search_engine_tr_spark.plans.index_build import build_index, load_meta
from search_engine_tr_spark.sources.synth import build_vocab, gen_pages, \
    pages_schema
from search_engine_tr_spark.streaming.incremental import \
    incremental_index_update, rebuild_derived

QUERIES = ["haber", "istanbul spor", "ankara", "ekonomi haber spor"]


def _results(spark, index_dir, queries, k=50, mode="wand"):
    idx = BM25Index(spark, index_dir)
    return {q: [(r["url"], round(r["score"], 6))
                for r in idx.search_with_urls(q, k=k, mode=mode).collect()]
            for q in queries}


def _long_pages(base_ts, n, seed=5):
    """Pages ~20x longer than the gen_pages distribution: pushes corpus
    avgdl UP after ingest, which is the direction that makes stale base
    block bounds invalid without the avgdl0 rescale."""
    vocab = build_vocab(seed=42)
    rows = []
    for i in range(n):
        words = [vocab[(i * 31 + j * 7) % len(vocab)] for j in range(4000)]
        body = " ".join(words)
        rows.append({"url": f"https://uzun{i}.example.com/s-{seed}",
                     "warc_ts": base_ts,
                     "html": f"<html><body><p>{body}</p></body></html>"
                     .encode(),
                     "text": None, "lang": "tr"})
    return rows


def _three_generation_stack_and_avgdl_rescale(spark, tmp_path):
    """Bootstrap + TWO delta generations, the second one long-doc-heavy so
    avgdl rises well above both earlier generations' avgdl0. Search must
    stay exact: WAND == exhaustive (a broken bound rescale would prune
    true top-k docs) == a from-scratch build over the full corpus."""
    pages = gen_pages(60, seed=31)
    longs = _long_pages(pages[0]["warc_ts"], 12)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:40],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    avgdl0 = load_meta(ix, spark)["avgdl"]
    m1 = incremental_index_update(
        spark, spark.createDataFrame(pages[40:], schema=pages_schema()),
        ix, refresh_derived=True)
    assert m1["delta_docs"] == 20
    m2 = incremental_index_update(
        spark, spark.createDataFrame(longs, schema=pages_schema()),
        ix, refresh_derived=True)
    assert m2["delta_docs"] == 12
    meta = load_meta(ix, spark)
    # the drift is real, not cosmetic (gen_pages docs average ~700 tokens,
    # the long wave 4000 → corpus avgdl rises ~1.5x, engaging the rescale)
    assert meta["avgdl"] > 1.3 * avgdl0
    # three distinct block generations on disk
    gens = {round(r["avgdl0"], 6) for r in
            spark.read.parquet(os.path.join(ix, "blocks"))
            .select("avgdl0").distinct().collect()}
    assert len(gens) == 3

    fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages + longs,
                                             schema=pages_schema()),
                fresh, n_shards=4, term_buckets=8)
    got_wand = _results(spark, ix, QUERIES, mode="wand")
    got_exh = _results(spark, ix, QUERIES, mode="exhaustive")
    want = _results(spark, fresh, QUERIES, mode="wand")
    assert got_wand == got_exh == want
    assert any(want[q] for q in QUERIES)


def test_three_generation_stack_and_avgdl_rescale(spark, tmp_path,
                                                  refresh_regime):
    writes = refresh_regime("driver")
    _three_generation_stack_and_avgdl_rescale(spark, tmp_path)
    assert len(writes) == 2


def test_three_generation_stack_and_avgdl_rescale_spark_regime(
        spark, tmp_path, refresh_regime):
    """The three generations with both delta refreshes on the Spark
    path."""
    writes = refresh_regime("spark")
    _three_generation_stack_and_avgdl_rescale(spark, tmp_path)
    assert not writes


def test_rebuild_derived_canonicalizes_deltas(spark, tmp_path):
    """rebuild_derived is the periodic compaction of the delta scheme:
    afterwards term_stats holds ONE row per term again, blocks are a
    single generation (every avgdl0 == meta.avgdl), and search results
    are unchanged."""
    pages = gen_pages(60, seed=37)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:35],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    incremental_index_update(
        spark, spark.createDataFrame(pages[35:], schema=pages_schema()),
        ix, refresh_derived=True)
    before = _results(spark, ix, QUERIES)
    ts = spark.read.parquet(os.path.join(ix, "term_stats"))
    assert ts.groupBy("term").count().filter("count > 1").count() > 0

    rebuild_derived(spark, ix)
    ts2 = spark.read.parquet(os.path.join(ix, "term_stats"))
    assert ts2.groupBy("term").count().filter("count > 1").count() == 0
    meta = load_meta(ix, spark)
    gens = {r["avgdl0"] for r in
            spark.read.parquet(os.path.join(ix, "blocks"))
            .select("avgdl0").distinct().collect()}
    assert gens == {meta["avgdl"]}
    assert _results(spark, ix, QUERIES) == before


def _reader_mid_refresh_is_consistent_snapshot(spark, tmp_path, monkeypatch):
    """ADVICE r5: a BM25Index constructed BETWEEN a delta refresh's
    appends and its meta commit must not serve a torn state (new blocks
    visible, old n_docs/avgdl for idf and the avgdl0 rescale). The
    committed-generation bound makes such a reader exactly equal to a
    pre-refresh reader."""
    import pytest

    from search_engine_tr_spark.streaming import incremental as inc

    pages = gen_pages(60, seed=53)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:40],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    before = _results(spark, ix, QUERIES)

    real_write_json = inc.fsio.write_json

    def failing(spark_, path, obj):
        if path.endswith("meta.json"):
            raise RuntimeError("injected crash before meta commit")
        return real_write_json(spark_, path, obj)

    monkeypatch.setattr(inc.fsio, "write_json", failing)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.incremental_index_update(
            spark, spark.createDataFrame(pages[40:], schema=pages_schema()),
            ix, refresh_derived=True)
    monkeypatch.setattr(inc.fsio, "write_json", real_write_json)

    # torn on disk: delta blocks + term_stats appended, meta not advanced
    blk_max = spark.read.parquet(os.path.join(ix, "blocks")) \
        .agg({"max_doc_id": "max"}).collect()[0][0]
    assert blk_max > load_meta(ix, spark)["derived_max_doc_id"]

    # a reader built NOW equals the pre-refresh snapshot, both modes
    assert _results(spark, ix, QUERIES) == before
    mid = BM25Index(spark, ix, tstats_mode="pruned")
    got = {q: [(r["url"], round(r["score"], 6))
               for r in mid.search_with_urls(q, k=50).collect()]
           for q in QUERIES}
    assert got == before

    # after the healed refresh a NEW reader sees the full corpus
    inc.refresh_derived_delta(spark, ix)
    fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh, n_shards=4, term_buckets=8)
    assert _results(spark, ix, QUERIES) == _results(spark, fresh, QUERIES)


def test_reader_mid_refresh_is_consistent_snapshot(spark, tmp_path,
                                                   monkeypatch,
                                                   refresh_regime):
    writes = refresh_regime("driver")
    _reader_mid_refresh_is_consistent_snapshot(spark, tmp_path, monkeypatch)
    assert len(writes) == 2


def test_reader_mid_refresh_is_consistent_snapshot_spark_regime(
        spark, tmp_path, monkeypatch, refresh_regime):
    """The torn state and its healing written by the Spark path."""
    writes = refresh_regime("spark")
    _reader_mid_refresh_is_consistent_snapshot(spark, tmp_path, monkeypatch)
    assert not writes
