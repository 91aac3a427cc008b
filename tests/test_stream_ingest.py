"""Streaming ingestion into the queryable index (stream_ingest_index):
cold-start bootstrap, exactly-once appends across drains, duplicate-url
replay safety, empty-drain no-op, and search parity with a from-scratch
build over the same unique pages."""

import os

from search_engine_tr_spark.operators.query_bm25 import BM25Index
from search_engine_tr_spark.plans.index_build import build_index
from search_engine_tr_spark.sources.synth import gen_pages, pages_schema
from search_engine_tr_spark.streaming.incremental import stream_ingest_index


def _write_wave(spark, pages, dest):
    spark.createDataFrame(pages, schema=pages_schema()) \
        .coalesce(1).write.mode("append").parquet(dest)


def _results(spark, index_dir, queries, k=50):
    idx = BM25Index(spark, index_dir)
    out = {}
    for q in queries:
        out[q] = {(r["url"], round(r["score"], 6))
                  for r in idx.search_with_urls(q, k=k).collect()}
    return out


QUERIES = ["haber", "istanbul spor", "ankara"]


def _stream_ingest_end_to_end(spark, tmp_path):
    pages = gen_pages(60, seed=11)
    src = str(tmp_path / "pages")
    ix = str(tmp_path / "ix")
    ck = str(tmp_path / "ck")

    # drain 1 (cold start): first 40 pages bootstrap a full build
    _write_wave(spark, pages[:40], src)
    s1 = stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8)
    assert s1["new_docs"] == 40
    assert len(_results(spark, ix, ["haber"])["haber"]) > 0

    # drain 2: 10 replayed urls + 20 genuinely new -> only 20 appended
    # (file-level delivery is new, row-level anti-join drops the dupes)
    _write_wave(spark, pages[30:60], src)
    s2 = stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8)
    assert s2["new_docs"] == 20
    assert s2["n_docs"] == 60  # derived refresh sees the full corpus

    # drain 3: nothing new -> checkpoint yields an empty drain, no-op
    s3 = stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8)
    assert s3["new_docs"] == 0 and "n_docs" not in s3

    # parity: search results equal a from-scratch build over the same 60
    # unique pages (scores depend on corpus stats, not ingestion order)
    fresh_ix = str(tmp_path / "fresh")
    fresh_pages = spark.createDataFrame(pages, schema=pages_schema())
    build_index(spark, fresh_pages, fresh_ix, n_shards=4, term_buckets=8)
    got = _results(spark, ix, QUERIES)
    want = _results(spark, fresh_ix, QUERIES)
    assert got == want
    assert any(want[q] for q in QUERIES)  # non-vacuous

    # the checkpoint really is the delivery ledger: a fresh checkpoint
    # over the same files replays them all, and the anti-join still
    # refuses every row — the two layers compose, not just coexist
    s4 = stream_ingest_index(spark, src, ix, str(tmp_path / "ck2"),
                             n_shards=4, term_buckets=8)
    assert s4["new_docs"] == 0
    assert _results(spark, ix, QUERIES) == want
    assert os.path.isdir(ck)

    # companion tables cover stream-ingested docs too (not just the
    # bootstrap corpus): snippets/meta/backlinks read these
    for table in ("pages_text", "doc_meta"):
        assert spark.read.parquet(os.path.join(ix, table)) \
            .select("url").distinct().count() == 60
    # links: a page with no anchors has no rows, so compare against the
    # from-scratch build's links table instead of all wave-2 urls
    def _link_rows(d):
        return {tuple(r) for r in spark.read.parquet(
            os.path.join(d, "links")).collect()}
    assert _link_rows(ix) == _link_rows(fresh_ix)
    wave2_urls = {p["url"] for p in pages[40:60]}
    assert wave2_urls & {s for (s, *_) in _link_rows(ix)}  # non-vacuous


def test_stream_ingest_end_to_end(spark, tmp_path, refresh_regime):
    writes = refresh_regime("driver")
    _stream_ingest_end_to_end(spark, tmp_path)
    assert writes


def test_stream_ingest_end_to_end_spark_regime(spark, tmp_path,
                                               refresh_regime):
    """The end-to-end drains with every delta refresh on the Spark path."""
    writes = refresh_regime("spark")
    _stream_ingest_end_to_end(spark, tmp_path)
    assert not writes


def test_stream_ingest_heals_stale_derived(spark, tmp_path):
    """Crash window: a micro-batch commits (doc_map/postings appended) but
    the process dies before the derived rebuild. The NEXT drain — even one
    with no new files — must detect doc_map ≠ meta.n_docs and heal, or the
    appended docs would stay invisible to BM25 forever."""
    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    pages = gen_pages(70, seed=11)
    src = str(tmp_path / "pages")
    ix = str(tmp_path / "ix")
    ck = str(tmp_path / "ck")

    _write_wave(spark, pages[:60], src)
    stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8)

    # simulate the crash: append directly (committed batch) w/o rebuild
    seen = {p["url"] for p in pages[:60]}
    extra = [p for p in pages[60:] if p["url"] not in seen]
    assert extra
    m = incremental_index_update(
        spark, spark.createDataFrame(extra, schema=pages_schema()), ix)
    assert m["new_docs"] > 0

    # empty drain heals: staleness check fires, derived tables catch up
    healed = stream_ingest_index(spark, src, ix, ck,
                                 n_shards=4, term_buckets=8)
    assert healed["new_docs"] == 0
    assert healed["n_docs"] == 60 + m["new_docs"]
    # and the late docs are actually searchable now
    all_urls = {u for q in QUERIES
                for (u, _) in _results(spark, ix, [q])[q]}
    fresh_ix = str(tmp_path / "fresh")
    build_index(spark,
                spark.createDataFrame(pages[:60] + extra,
                                      schema=pages_schema()),
                fresh_ix, n_shards=4, term_buckets=8)
    fresh_urls = {u for q in QUERIES
                  for (u, _) in _results(spark, fresh_ix, [q])[q]}
    assert all_urls == fresh_urls


def test_crash_before_doc_map_commit_is_rolled_back(spark, tmp_path,
                                                    monkeypatch):
    """The widest crash window of the r4 commit protocol: postings AND all
    companion tables appended, process dies just before the doc_map commit
    (injected at the commit's coalesce call). The replay must (a) still see
    the batch as fresh (doc_map is the anti-join key and was never
    written), (b) roll back the orphan postings/doc_meta files and guard
    the url-keyed companions, and (c) leave the index byte-equivalent to a
    clean run — no lost documents (the r3 bug: doc_map-first ordering made
    crashed docs permanently unsearchable) and no duplicated rows."""
    # the CONCRETE class (Spark 4 split): patching the abstract
    # pyspark.sql.dataframe.DataFrame never fires
    import pyspark.sql.classic.dataframe as D
    import pytest

    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    pages = gen_pages(50, seed=17)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:40],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    batch = spark.createDataFrame(pages[40:], schema=pages_schema())

    orig_coalesce = D.DataFrame.coalesce

    def boom(self, n):
        raise RuntimeError("injected crash before doc_map commit")

    monkeypatch.setattr(D.DataFrame, "coalesce", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_index_update(spark, batch, ix)
    monkeypatch.setattr(D.DataFrame, "coalesce", orig_coalesce)

    # crashed state: intent marker present, doc_map untouched
    assert os.path.exists(os.path.join(ix, "_ingest_intent.json"))
    assert spark.read.parquet(os.path.join(ix, "doc_map")).count() == 40

    m = incremental_index_update(spark, batch, ix, refresh_derived=True)
    assert m["new_docs"] == 10
    assert m.get("rolled_back_files", 0) >= 1  # orphan postings deleted
    assert not os.path.exists(os.path.join(ix, "_ingest_intent.json"))

    # no duplicates anywhere
    p = spark.read.parquet(os.path.join(ix, "postings"))
    assert p.groupBy("doc_id", "term").count().filter("count > 1") \
        .count() == 0
    dm = spark.read.parquet(os.path.join(ix, "doc_map"))
    assert dm.count() == 50
    assert dm.select("url").distinct().count() == 50
    assert dm.select("doc_id").distinct().count() == 50
    for table in ("pages_text", "doc_meta"):
        t = spark.read.parquet(os.path.join(ix, table))
        assert t.count() == t.select("url").distinct().count() == 50, table
    links = spark.read.parquet(os.path.join(ix, "links"))
    assert links.count() == links.distinct().count()

    # search parity with a clean from-scratch build over all 50 pages
    fresh_ix = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh_ix, n_shards=4, term_buckets=8)
    assert _results(spark, ix, QUERIES) == _results(spark, fresh_ix, QUERIES)


def test_zero_token_pages_do_not_loop_rebuilds(spark, tmp_path):
    """ADVICE r4: a page whose extracted text has zero tokens lives in
    doc_map but never in postings. The staleness sentinel must compare
    doc_map.count() against the doc_map count recorded at the last derived
    refresh (n_pages_mapped) — comparing against postings-derived n_docs
    would keep the two forever unequal and run a full rebuild on EVERY
    drain, including empty ones."""
    pages = gen_pages(20, seed=23)
    pages.append({"url": "https://bos.example/empty", "warc_ts": pages[0]["warc_ts"],
                  "html": b"<html><head></head><body></body></html>",
                  "text": None, "lang": "tr"})
    src = str(tmp_path / "pages")
    ix = str(tmp_path / "ix")
    ck = str(tmp_path / "ck")
    _write_wave(spark, pages, src)
    s1 = stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8)
    assert s1["new_docs"] == 21
    # postings-derived n_docs excludes the empty page…
    dm = spark.read.parquet(os.path.join(ix, "doc_map")).count()
    from search_engine_tr_spark.plans.index_build import load_meta
    meta = load_meta(ix, spark)
    assert dm == 21 and meta["n_docs"] == 20
    assert meta["n_pages_mapped"] == 21
    # …and an empty drain must be a true no-op (no rebuild triggered)
    s2 = stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8)
    assert s2["new_docs"] == 0 and "n_docs" not in s2


def _crash_in_delta_refresh_no_double_count(spark, tmp_path, monkeypatch):
    """Crash inside refresh_derived_delta AFTER its term_stats/blocks
    appends but BEFORE the meta commit. A naive replay would fold the same
    delta twice — doubling every touched term's df and scoring the delta
    docs twice. The derived-intent rollback must make the replay exact:
    results equal a from-scratch build, and block postings counts match
    the postings table exactly."""
    import pytest

    from search_engine_tr_spark.streaming import incremental as inc

    pages = gen_pages(50, seed=29)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:40],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    batch = spark.createDataFrame(pages[40:], schema=pages_schema())

    real_write_json = inc.fsio.write_json

    def failing(spark_, path, obj):
        if path.endswith("meta.json"):
            raise RuntimeError("injected crash before meta commit")
        return real_write_json(spark_, path, obj)

    monkeypatch.setattr(inc.fsio, "write_json", failing)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.incremental_index_update(spark, batch, ix, refresh_derived=True)
    monkeypatch.setattr(inc.fsio, "write_json", real_write_json)

    # crashed state: ingest committed (doc_map has 50), derived refresh
    # appended its deltas but never advanced meta
    assert os.path.exists(os.path.join(ix, "_derived_intent.json"))
    assert spark.read.parquet(os.path.join(ix, "doc_map")).count() == 50

    _assert_replay_exact(spark, ix, pages, tmp_path)


def _assert_replay_exact(spark, ix, pages, tmp_path):
    """The replayed refresh of a crashed one folded the 10-page batch
    exactly once: its intent is gone, every posting sits in one block, df
    is not doubled, and search equals a from-scratch build of ``pages``."""
    from search_engine_tr_spark.streaming import incremental as inc

    m = inc.refresh_derived_delta(spark, ix)
    assert m["delta_docs"] == 10
    assert not os.path.exists(os.path.join(ix, "_derived_intent.json"))

    # every posting packed exactly once
    p_rows = spark.read.parquet(os.path.join(ix, "postings")).count()
    blk_n = spark.read.parquet(os.path.join(ix, "blocks")) \
        .agg({"n": "sum"}).collect()[0][0]
    assert blk_n == p_rows
    # df not doubled: term_stats sums equal distinct (term, doc) counts
    ts = spark.read.parquet(os.path.join(ix, "term_stats")) \
        .groupBy("term").sum("df").collect()
    from collections import Counter
    want_df = Counter(
        r["term"] for r in spark.read.parquet(os.path.join(ix, "postings"))
        .select("term", "doc_id").distinct().collect())
    assert {r["term"]: r["sum(df)"] for r in ts} == dict(want_df)

    # and full search parity with a from-scratch build
    fresh_ix = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh_ix, n_shards=4, term_buckets=8)
    assert _results(spark, ix, QUERIES) == _results(spark, fresh_ix, QUERIES)


def test_crash_in_delta_refresh_no_double_count(spark, tmp_path, monkeypatch,
                                                refresh_regime):
    writes = refresh_regime("driver")
    _crash_in_delta_refresh_no_double_count(spark, tmp_path, monkeypatch)
    assert writes


def test_crash_in_delta_refresh_no_double_count_spark_regime(
        spark, tmp_path, monkeypatch, refresh_regime):
    """The crashed refresh and its replay on the Spark path."""
    writes = refresh_regime("spark")
    _crash_in_delta_refresh_no_double_count(spark, tmp_path, monkeypatch)
    assert not writes


def _ingest_unrefreshed(spark, tmp_path, seed=29):
    """A 40-page build plus a committed 10-page ingest whose derived
    refresh has not run. → (index dir, all 50 pages)."""
    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    pages = gen_pages(50, seed=seed)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:40],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    incremental_index_update(
        spark, spark.createDataFrame(pages[40:], schema=pages_schema()), ix)
    return ix, pages


def test_crash_between_driver_blocks_and_term_stats(spark, tmp_path,
                                                    monkeypatch,
                                                    refresh_regime):
    """A driver-regime refresh that crashes after publishing its blocks
    files and before its first term_stats file leaves delta blocks above
    the committed mark and no delta term_stats row. The replay rolls the
    blocks back by their footers and refolds exactly."""
    import pytest

    from search_engine_tr_spark.plans.index_build import load_meta
    from search_engine_tr_spark.streaming import incremental as inc

    writes = refresh_regime("driver")
    ix, pages = _ingest_unrefreshed(spark, tmp_path)
    real_publish = inc._publish

    def failing(arrow, table_dir, bucket, table):
        if table_dir.endswith("term_stats"):
            raise RuntimeError("injected crash before term_stats")
        return real_publish(arrow, table_dir, bucket, table)

    monkeypatch.setattr(inc, "_publish", failing)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.refresh_derived_delta(spark, ix)
    monkeypatch.setattr(inc, "_publish", real_publish)

    dmax = load_meta(ix, spark)["derived_max_doc_id"]
    assert spark.read.parquet(os.path.join(ix, "blocks")) \
        .agg({"max_doc_id": "max"}).collect()[0][0] > dmax
    assert "gen" not in spark.read.option("mergeSchema", "true") \
        .parquet(os.path.join(ix, "term_stats")).columns
    _assert_replay_exact(spark, ix, pages, tmp_path)
    assert len(writes) == 2


def test_leftover_temp_file_is_not_data(spark, tmp_path, monkeypatch,
                                        refresh_regime):
    """A driver-regime refresh that crashes while writing a file leaves
    that file under its temporary name. Spark and pyarrow readers skip
    it, the replay's rollback does not parse it as data (a torn parquet
    file would fail to open) but removes it as debris, and the refold is
    exact."""
    import pytest

    from search_engine_tr_spark.streaming import incremental as inc

    writes = refresh_regime("driver")
    ix, pages = _ingest_unrefreshed(spark, tmp_path)
    before = _results(spark, ix, QUERIES)
    real_write = inc.pq.write_table

    def torn(table, where, **kwargs):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise RuntimeError("injected crash mid-write")

    monkeypatch.setattr(inc.pq, "write_table", torn)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.refresh_derived_delta(spark, ix)
    monkeypatch.setattr(inc.pq, "write_table", real_write)

    tmps = [os.path.join(d, f) for d, _, fs in os.walk(ix) for f in fs
            if inc._is_tmp(f)]
    assert len(tmps) == 1 and "/blocks/term_bucket=" in tmps[0]
    assert spark.read.parquet(os.path.join(ix, "blocks")).count() > 0
    assert _results(spark, ix, QUERIES) == before
    _assert_replay_exact(spark, ix, pages, tmp_path)
    assert not os.path.exists(tmps[0])
    assert len(writes) == 2


def _delta_refresh_ignores_uncommitted_postings(spark, tmp_path,
                                                    monkeypatch):
    """A DIRECT refresh_derived_delta call while a crashed ingest's intent
    is still live must not fold the crashed batch's orphan postings (ids
    above doc_map max): the ingest replay will roll those files back and
    re-append them, so folding them early would double-count df and
    duplicate blocks (round-4 self-review finding)."""
    import pyspark.sql.classic.dataframe as D
    import pytest

    from search_engine_tr_spark.streaming.incremental import (
        incremental_index_update, refresh_derived_delta)

    pages = gen_pages(50, seed=41)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:40],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    batch = spark.createDataFrame(pages[40:], schema=pages_schema())

    orig_coalesce = D.DataFrame.coalesce

    def boom(self, n):
        raise RuntimeError("injected crash before doc_map commit")

    monkeypatch.setattr(D.DataFrame, "coalesce", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_index_update(spark, batch, ix)
    monkeypatch.setattr(D.DataFrame, "coalesce", orig_coalesce)

    # orphan postings exist above doc_map max, intent is live
    assert os.path.exists(os.path.join(ix, "_ingest_intent.json"))
    m = refresh_derived_delta(spark, ix)
    assert m["delta_docs"] == 0  # nothing committed -> nothing folded
    from search_engine_tr_spark.plans.index_build import load_meta
    assert load_meta(ix, spark)["n_docs"] == 40

    # the ingest replay then heals and the final index is exact
    m2 = incremental_index_update(spark, batch, ix, refresh_derived=True)
    assert m2["new_docs"] == 10 and m2["delta_docs"] == 10
    fresh_ix = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh_ix, n_shards=4, term_buckets=8)
    assert _results(spark, ix, QUERIES) == _results(spark, fresh_ix, QUERIES)


def test_delta_refresh_ignores_uncommitted_postings(spark, tmp_path,
                                                    monkeypatch,
                                                    refresh_regime):
    writes = refresh_regime("driver")
    _delta_refresh_ignores_uncommitted_postings(spark, tmp_path, monkeypatch)
    assert writes


def test_delta_refresh_ignores_uncommitted_postings_spark_regime(
        spark, tmp_path, monkeypatch, refresh_regime):
    """The uncommitted-postings bound on the Spark path."""
    writes = refresh_regime("spark")
    _delta_refresh_ignores_uncommitted_postings(spark, tmp_path, monkeypatch)
    assert not writes


def test_rebuild_derived_ignores_uncommitted_postings(spark, tmp_path,
                                                      monkeypatch):
    """ADVICE r5 (medium): rebuild_derived (e.g. compact_job --canonicalize)
    running BETWEEN a crashed ingest and its replay must not fold the
    crashed batch's orphan postings — folding them would make ghost docs
    (no doc_map row) searchable, and after the replay rolls back and
    re-appends those ids the next delta refresh would fold them AGAIN
    (derived_max_doc_id was set from doc_map, below the orphan ids),
    doubling df and duplicating blocks."""
    import pyspark.sql.classic.dataframe as D
    import pytest

    from search_engine_tr_spark.plans.index_build import load_meta
    from search_engine_tr_spark.streaming.incremental import (
        incremental_index_update, rebuild_derived)

    pages = gen_pages(50, seed=43)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:40],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    batch = spark.createDataFrame(pages[40:], schema=pages_schema())

    orig_coalesce = D.DataFrame.coalesce

    def boom(self, n):
        raise RuntimeError("injected crash before doc_map commit")

    monkeypatch.setattr(D.DataFrame, "coalesce", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_index_update(spark, batch, ix)
    monkeypatch.setattr(D.DataFrame, "coalesce", orig_coalesce)
    assert os.path.exists(os.path.join(ix, "_ingest_intent.json"))

    # canonicalization between crash and replay: folds committed docs only
    rebuild_derived(spark, ix, n_shards=4, term_buckets=8)
    meta = load_meta(ix, spark)
    assert meta["n_docs"] == 40
    assert meta["derived_max_doc_id"] == 39
    # no ghost doc searchable: every block doc range is committed
    blk_max = spark.read.parquet(os.path.join(ix, "blocks")) \
        .agg({"max_doc_id": "max"}).collect()[0][0]
    assert blk_max <= 39
    # the intent survives so the replay still rolls back + re-appends
    assert os.path.exists(os.path.join(ix, "_ingest_intent.json"))

    m = incremental_index_update(spark, batch, ix, refresh_derived=True)
    assert m["new_docs"] == 10 and m["delta_docs"] == 10

    # df not doubled, every posting packed exactly once
    p = spark.read.parquet(os.path.join(ix, "postings"))
    blk_n = spark.read.parquet(os.path.join(ix, "blocks")) \
        .agg({"n": "sum"}).collect()[0][0]
    assert blk_n == p.count()
    fresh_ix = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh_ix, n_shards=4, term_buckets=8)
    assert _results(spark, ix, QUERIES) == _results(spark, fresh_ix, QUERIES)


def test_crash_replayed_with_different_batch(spark, tmp_path, monkeypatch):
    """ADVICE r5 (low): a direct caller that crashes mid-batch A and later
    ingests a DIFFERENT batch B must still roll back A's url-keyed
    companion rows (pages_text/links) — a batch-scoped anti-join guard
    would leave them orphaned, and re-ingesting A afterwards would then
    append those urls a SECOND time, duplicating snippet/link rows."""
    import pyspark.sql.classic.dataframe as D
    import pytest

    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    pages = gen_pages(60, seed=47)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:40],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    batch_a = spark.createDataFrame(pages[40:50], schema=pages_schema())
    batch_b = spark.createDataFrame(pages[50:60], schema=pages_schema())

    orig_coalesce = D.DataFrame.coalesce

    def boom(self, n):
        raise RuntimeError("injected crash before doc_map commit")

    monkeypatch.setattr(D.DataFrame, "coalesce", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_index_update(spark, batch_a, ix)
    monkeypatch.setattr(D.DataFrame, "coalesce", orig_coalesce)
    assert os.path.exists(os.path.join(ix, "_ingest_intent.json"))

    # replay with a DIFFERENT batch: A's companion orphans rolled back
    m_b = incremental_index_update(spark, batch_b, ix)
    assert m_b["new_docs"] == 10
    pt = spark.read.parquet(os.path.join(ix, "pages_text"))
    assert pt.count() == 50  # 40 bootstrap + batch B; A's orphans gone
    assert not os.path.exists(os.path.join(ix, "_ingest_intent.json"))

    # now ingest A for real: no duplicate companion rows
    m_a = incremental_index_update(spark, batch_a, ix, refresh_derived=True)
    assert m_a["new_docs"] == 10
    for table in ("pages_text", "doc_meta"):
        t = spark.read.parquet(os.path.join(ix, table))
        assert t.count() == t.select("url").distinct().count() == 60, table

    fresh_ix = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh_ix, n_shards=4, term_buckets=8)
    # links equal the clean build as a MULTISET (a page may legitimately
    # repeat an anchor, so count==distinct doesn't hold in general — but a
    # double-appended crashed batch would inflate the counts here)
    from collections import Counter

    def _link_multiset(d):
        return Counter(tuple(r) for r in spark.read.parquet(
            os.path.join(d, "links")).collect())
    assert _link_multiset(ix) == _link_multiset(fresh_ix)
    assert _results(spark, ix, QUERIES) == _results(spark, fresh_ix, QUERIES)


def test_chunked_bulk_commit(spark, tmp_path, monkeypatch):
    """VERDICT r4 #5: a batch above the commit chunk size commits as
    sequential url-hash chunks — multiple single-file doc_map commits
    instead of one serialized coalesce(1) task — with identical results
    and one derived refresh at the end."""
    import glob

    pages = gen_pages(70, seed=59)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:30],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    files_before = len(glob.glob(os.path.join(ix, "doc_map", "*.parquet")))
    from search_engine_tr_spark.streaming import incremental
    monkeypatch.setattr(incremental, "_COMMIT_CHUNK_PAGES", 12)
    m = incremental.incremental_index_update(
        spark, spark.createDataFrame(pages[30:], schema=pages_schema()),
        ix, refresh_derived=True)
    assert m["new_docs"] == 40
    assert m["commit_chunks"] == 4  # ceil(40 / 12)
    assert m["delta_docs"] == 40    # one refresh folded everything
    files_after = len(glob.glob(os.path.join(ix, "doc_map", "*.parquet")))
    assert files_after - files_before == 4  # one commit file per chunk

    dm = spark.read.parquet(os.path.join(ix, "doc_map"))
    assert dm.count() == dm.select("url").distinct().count() == 70
    assert dm.select("doc_id").distinct().count() == 70

    fresh_ix = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh_ix, n_shards=4, term_buckets=8)
    assert _results(spark, ix, QUERIES) == _results(spark, fresh_ix, QUERIES)


def test_chunked_bulk_commit_crash_mid_chunk(spark, tmp_path, monkeypatch):
    """Crash during the SECOND chunk's doc_map commit: chunk 1 stays
    durably committed, chunk 2 rolls back on replay, and the replayed
    bulk ingest converges to the exact index."""
    import pyspark.sql.classic.dataframe as D
    import pytest

    from search_engine_tr_spark.streaming import incremental
    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    monkeypatch.setattr(incremental, "_COMMIT_CHUNK_PAGES", 12)
    pages = gen_pages(60, seed=67)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:30],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)
    batch = spark.createDataFrame(pages[30:], schema=pages_schema())

    orig_coalesce = D.DataFrame.coalesce
    calls = {"n": 0}

    def boom_second(self, n):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected crash in chunk 2 commit")
        return orig_coalesce(self, n)

    monkeypatch.setattr(D.DataFrame, "coalesce", boom_second)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental_index_update(spark, batch, ix)
    monkeypatch.setattr(D.DataFrame, "coalesce", orig_coalesce)

    # chunk 1 committed, chunk 2's intent still live
    assert os.path.exists(os.path.join(ix, "_ingest_intent.json"))
    dm_mid = spark.read.parquet(os.path.join(ix, "doc_map")).count()
    assert 30 < dm_mid < 60

    m = incremental_index_update(spark, batch, ix, refresh_derived=True)
    assert m["new_docs"] == 60 - dm_mid
    assert not os.path.exists(os.path.join(ix, "_ingest_intent.json"))

    p = spark.read.parquet(os.path.join(ix, "postings"))
    assert p.groupBy("doc_id", "term").count().filter("count > 1") \
        .count() == 0
    dm = spark.read.parquet(os.path.join(ix, "doc_map"))
    assert dm.count() == dm.select("url").distinct().count() == 60
    fresh_ix = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh_ix, n_shards=4, term_buckets=8)
    assert _results(spark, ix, QUERIES) == _results(spark, fresh_ix, QUERIES)


def test_stream_ingest_refresh_scores(spark, tmp_path):
    """refresh_scores=True keeps domain_scores current across drains via
    the delta path, equal to a full recompute after every drain."""
    from search_engine_tr_spark.plans.backlinks import refresh_domain_scores

    pages = gen_pages(60, seed=79)
    src = str(tmp_path / "pages")
    ix = str(tmp_path / "ix")
    ck = str(tmp_path / "ck")

    def _scores():
        return {r["domain"]: r["score"] for r in
                spark.read.parquet(os.path.join(ix, "domain_scores"))
                .collect()}

    _write_wave(spark, pages[:40], src)
    s1 = stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8,
                             refresh_scores=True)
    assert s1["n_domains"] > 0
    got1 = _scores()

    _write_wave(spark, pages[40:], src)
    s2 = stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8,
                             refresh_scores=True)
    assert s2["new_docs"] == 20
    got2 = _scores()
    assert got2 != got1  # the new wave's links moved some counts

    refresh_domain_scores(spark, ix)  # full recompute as the oracle
    assert got2 == _scores()
