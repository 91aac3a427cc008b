"""Compaction: content-identical rewrite, fewer files, idempotent skip,
partition layout preserved, orphan cleanup."""

import os

import pytest
from pyspark.sql import functions as F

from search_engine_tr_spark.plans.compact import compact_parquet


def _files(path):
    return [os.path.join(r, f) for r, _d, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")]


def test_compact_roundtrip_and_skip(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(5000).select(
        "id", (F.col("id") % 7).alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"))
    # simulate many small appends
    for i in range(10):
        df.filter(F.col("id") % 10 == i).repartition(8) \
          .write.mode("append").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    n_before = len(_files(path))
    assert n_before >= 50

    res = compact_parquet(spark, path, target_mb=128)
    assert res["skipped"] is False
    assert res["files_before"] == n_before
    assert len(_files(path)) == res["files_after"] < n_before
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before  # content-identical, layout-only

    # second run: already compact → no rewrite
    res2 = compact_parquet(spark, path, target_mb=128)
    assert res2["skipped"] is True

    # a stale orphan dir from a "crashed" run is cleared, not tripped over
    os.makedirs(path + ".__compact_tmp/garbage", exist_ok=True)
    res3 = compact_parquet(spark, path, target_mb=128)
    assert res3["skipped"] is True
    assert not os.path.exists(path + ".__compact_tmp")

    # crash BETWEEN the two swap renames: `path` is gone, data lives only
    # in `old` — the next call must RESTORE it, never rmtree it
    # (round-3 review finding: the old code deleted the only copy)
    os.rename(path, path + ".__compact_old")
    res4 = compact_parquet(spark, path, target_mb=128)
    assert res4["skipped"] is True
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert not os.path.exists(path + ".__compact_old")


def test_compact_after_incremental_updates_keeps_queries_identical(
        spark, tiny_pages_df, tmp_path):
    """The op's actual job: many incremental appends fragment postings and
    doc_map; compacting them must leave BM25 results byte-identical after
    the derived tables are rebuilt."""
    from search_engine_tr_spark.operators.query_bm25 import BM25Index
    from search_engine_tr_spark.plans.index_build import build_index
    from search_engine_tr_spark.sources.synth import gen_pages, pages_schema
    from search_engine_tr_spark.streaming.incremental import (
        incremental_index_update, rebuild_derived)

    root = str(tmp_path / "inc")
    build_index(spark, tiny_pages_df, root, n_shards=2, term_buckets=4,
                n_chunks=2)
    for seed in (91, 92, 93):
        new = spark.createDataFrame(gen_pages(15, seed=seed),
                                    schema=pages_schema())
        incremental_index_update(spark, new, root)
    rebuild_derived(spark, root, n_shards=2, term_buckets=4)
    before = [(r["doc_id"], round(r["score"], 9)) for r in
              BM25Index(spark, root).search("haber spor", k=10).collect()]

    n_before = len(_files(root + "/postings"))
    for table in ("postings", "doc_map"):
        compact_parquet(spark, root + "/" + table, target_mb=128)
    assert len(_files(root + "/postings")) < n_before
    rebuild_derived(spark, root, n_shards=2, term_buckets=4)
    after = [(r["doc_id"], round(r["score"], 9)) for r in
             BM25Index(spark, root).search("haber spor", k=10).collect()]
    assert after == before


def test_compact_preserves_partition_layout(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.range(2000).select(
        "id", (F.col("id") % 3).alias("bucket"))
    for _ in range(6):
        df.repartition(5).write.mode("append") \
          .partitionBy("bucket").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path)
                        .select("id", "bucket").collect()))
    res = compact_parquet(spark, path, target_mb=128,
                          partition_by=["bucket"])
    assert res["files_after"] < res["files_before"]
    assert sorted(os.listdir(path) + ["_SUCCESS"]).count("bucket=0") <= 1
    assert os.path.isdir(os.path.join(path, "bucket=2"))
    after = sorted(map(tuple, spark.read.parquet(path)
                       .select("id", "bucket").collect()))
    assert after == before
    # CONVERGES: one file per partition dir, so the next run must skip
    # instead of rewriting the whole table forever (round-3 review finding)
    assert res["files_after"] == 3
    res2 = compact_parquet(spark, path, target_mb=128,
                           partition_by=["bucket"])
    assert res2["skipped"] is True


def test_compact_term_stats_keeps_delta_gen(spark, tmp_path):
    """A term_stats table after delta refreshes holds the build's files
    (no ``gen`` column) and the deltas' files (with ``gen``). Compacting
    it keeps every row's ``gen`` — a row that lost it would read as
    committed — and leaves search results unchanged."""
    from collections import Counter

    from search_engine_tr_spark.operators.query_bm25 import (BM25Index,
                                                             _TSTATS_SCHEMA)
    from search_engine_tr_spark.plans.index_build import build_index
    from search_engine_tr_spark.sources.synth import gen_pages, pages_schema
    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    pages = gen_pages(60, seed=37)
    root = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:30], schema=pages_schema()),
                root, n_shards=2, term_buckets=4)
    for lo, hi in ((30, 45), (45, 60)):
        incremental_index_update(
            spark, spark.createDataFrame(pages[lo:hi], schema=pages_schema()),
            root, refresh_derived=True)
    ts = root + "/term_stats"

    def rows():
        return Counter(tuple(r) for r in spark.read.schema(_TSTATS_SCHEMA)
                       .parquet(ts).collect())

    def results():
        return [(r["doc_id"], round(r["score"], 9)) for r in
                BM25Index(spark, root).search("haber spor", k=10).collect()]

    before, before_results = rows(), results()
    assert {gen is None for _t, _df, gen, _b in before} == {True, False}
    res = compact_parquet(spark, ts, target_mb=128,
                          partition_by=["term_bucket"])
    assert res["skipped"] is False
    assert rows() == before
    assert results() == before_results


@pytest.mark.parametrize("marker", ["_ingest_intent.json",
                                    "_derived_intent.json"])
def test_compact_job_refuses_live_intent(spark, tmp_path, monkeypatch,
                                         marker):
    """While a crashed ingest's or delta refresh's intent marker is live,
    the index holds uncommitted rows in files of their own that the replay
    deletes whole. The compaction job must exit non-zero before touching
    any table — also before ``--canonicalize`` — instead of merging those
    rows into files with committed rows."""
    import hashlib
    import importlib.util
    import sys

    from search_engine_tr_spark.plans.index_build import build_index
    from search_engine_tr_spark.sources.synth import gen_pages, pages_schema
    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    pages = gen_pages(40, seed=83)
    root = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:30], schema=pages_schema()),
                root, n_shards=2, term_buckets=4)
    incremental_index_update(
        spark, spark.createDataFrame(pages[30:], schema=pages_schema()),
        root, refresh_derived=True)
    with open(os.path.join(root, marker), "w") as f:
        f.write("{}")

    def snapshot():
        out = {}
        for r, _d, fs in os.walk(root):
            for f in fs:
                with open(os.path.join(r, f), "rb") as fh:
                    out[os.path.join(r, f)] = hashlib.sha1(
                        fh.read()).hexdigest()
        return out

    before = snapshot()
    spec = importlib.util.spec_from_file_location(
        "compact_job", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "jobs", "compact_job.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    for extra in ([], ["--canonicalize"]):
        monkeypatch.setattr(sys, "argv", ["compact_job.py", root,
                                          "--target-mb", "1", *extra])
        with pytest.raises(SystemExit) as exc:
            job.main()
        assert exc.value.code not in (0, None)
        assert snapshot() == before
