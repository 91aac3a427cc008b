"""Resumability (SURVEY.md §5.6): a build killed after chunk p and resumed
must produce a bit-identical index, and the lineage manifest must list every
chunk exactly once. Also covers the incremental (new-pages-only) update."""

import json
import os

import pytest
from pyspark.sql import functions as F

from search_engine_tr_spark.plans.checkpoint import Manifest, build_index_resumable
from search_engine_tr_spark.streaming.incremental import incremental_index_update


def _postings_set(spark, root):
    df = spark.read.option("basePath", os.path.join(root, "postings")).parquet(
        os.path.join(root, "postings"))
    return {
        (r["doc_id"], r["term"], r["tf"], tuple(r["positions"]), tuple(r["tags"]))
        for r in df.collect()
    }


def test_resumed_build_bit_identical(spark, tiny_pages_df, tmp_path):
    full = str(tmp_path / "full")
    part = str(tmp_path / "part")

    build_index_resumable(spark, tiny_pages_df, full, n_chunks=4, n_shards=2,
                          term_buckets=4)

    # simulate a kill after chunk 1: pre-mark chunks 2,3 AND finalize as
    # done so the first run only processes doc_map + chunks 0,1, then
    # un-mark them (equivalent to a crash before chunk 2)
    os.makedirs(part, exist_ok=True)
    m = Manifest(os.path.join(part, "manifest.json"))
    m.mark_chunk(2)
    m.mark_chunk(3)
    m.mark_step("finalize")
    first = build_index_resumable(spark, tiny_pages_df, part, n_chunks=4,
                                  n_shards=2, term_buckets=4)
    assert sorted(first["ran"]) == [0, 1]
    # "restart": clear the fake marks and the finalize step, resume
    m2 = Manifest(os.path.join(part, "manifest.json"))
    del m2.state["chunks"]["2"]
    del m2.state["chunks"]["3"]
    m2.state["steps"].pop("finalize", None)
    m2._flush()
    summary = build_index_resumable(spark, tiny_pages_df, part, n_chunks=4,
                                    n_shards=2, term_buckets=4)
    assert sorted(summary["ran"]) == [2, 3]
    assert sorted(summary["skipped"]) == [0, 1]

    # bit-identical logical index
    assert _postings_set(spark, full) == _postings_set(spark, part)
    # identical doc ids
    dm_full = {r["url"]: r["doc_id"]
               for r in spark.read.parquet(full + "/doc_map").collect()}
    dm_part = {r["url"]: r["doc_id"]
               for r in spark.read.parquet(part + "/doc_map").collect()}
    assert dm_full == dm_part
    # manifest lineage: every chunk exactly once, all done
    mf = json.load(open(os.path.join(part, "manifest.json")))
    assert sorted(mf["chunks"].keys(), key=int) == ["0", "1", "2", "3"]
    assert all(c["status"] == "done" for c in mf["chunks"].values())
    # identical block bytes (physical layout determinism)
    bl_full = {(r["term"], r["shard"], r["block_no"]): bytes(r["block"])
               for r in spark.read.parquet(full + "/blocks").collect()}
    bl_part = {(r["term"], r["shard"], r["block_no"]): bytes(r["block"])
               for r in spark.read.parquet(part + "/blocks").collect()}
    assert bl_full == bl_part


def test_resumable_derived_tables_match_build_index(spark, tiny_pages_df,
                                                   tiny_index, tmp_path):
    """The resumable build runs build_index's postings kernel and writers:
    the same postings rows, term_stats rows, blocks and meta.json keys as
    ``tiny_index`` (same pages, shards and buckets), one blocks file per
    term_bucket, and no doclens table."""
    from search_engine_tr_spark.plans.index_build import (load_meta,
                                                          read_postings)

    base, _ = tiny_index
    out = str(tmp_path / "resumable")
    build_index_resumable(spark, tiny_pages_df, out, n_chunks=2, n_shards=4,
                          term_buckets=8)

    def rows(root, table):
        return sorted(tuple(r) for r in spark.read.parquet(
            os.path.join(root, table)).collect())

    def postings(root):
        return sorted((r["doc_id"], r["term"], r["tf"], tuple(r["positions"]),
                       tuple(r["tags"]))
                      for r in read_postings(spark, root + "/postings")
                      .collect())

    assert postings(out) == postings(base)
    assert sorted(load_meta(out)) == sorted(load_meta(base))
    assert rows(out, "term_stats") == rows(base, "term_stats")
    assert rows(out, "blocks") == rows(base, "blocks")
    bucket_dirs = [d for d in os.listdir(os.path.join(out, "blocks"))
                   if d.startswith("term_bucket=")]
    assert bucket_dirs
    for d in bucket_dirs:
        files = [f for f in os.listdir(os.path.join(out, "blocks", d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    assert not os.path.exists(os.path.join(out, "doclens"))


def test_resume_refuses_changed_input(spark, tiny_pages_df, tmp_path):
    """The manifest records an input-snapshot fingerprint; resuming the same
    out_dir against a DIFFERENT input must raise, not mix snapshots."""
    import pytest
    from pyspark.sql import functions as F

    out = str(tmp_path / "guard")
    build_index_resumable(spark, tiny_pages_df, out, n_chunks=2, n_shards=2,
                          term_buckets=4)
    changed = tiny_pages_df.filter(F.col("url") != tiny_pages_df.head()["url"])
    with pytest.raises(ValueError, match="resume refused"):
        build_index_resumable(spark, changed, out, n_chunks=2, n_shards=2,
                              term_buckets=4)
    # unchanged input still resumes cleanly (everything skipped)
    summary = build_index_resumable(spark, tiny_pages_df, out, n_chunks=2,
                                    n_shards=2, term_buckets=4)
    assert summary["ran"] == []


def test_resume_refuses_same_urls_changed_content(spark, tiny_pages_df,
                                                  tmp_path):
    """A recrawl with the SAME url set but different bytes must also be
    refused — count+url_xor alone would wave it through and the build
    would silently mix two snapshots' postings (round-2 ADVICE)."""
    import pytest
    from pyspark.sql import functions as F

    out = str(tmp_path / "guard_content")
    build_index_resumable(spark, tiny_pages_df, out, n_chunks=2, n_shards=2,
                          term_buckets=4)
    recrawled = tiny_pages_df.withColumn(
        "html", F.concat(F.col("html"),
                         F.lit(b"<p>recrawled delta</p>")))
    with pytest.raises(ValueError, match="content_xor"):
        build_index_resumable(spark, recrawled, out, n_chunks=2, n_shards=2,
                              term_buckets=4)


def test_incremental_update_appends_only_new(spark, tiny_pages_df, tmp_path):
    from search_engine_tr_spark.sources.synth import gen_pages, pages_schema

    root = str(tmp_path / "inc")
    build_index_resumable(spark, tiny_pages_df, root, n_chunks=2, n_shards=2,
                          term_buckets=4)
    n0 = spark.read.parquet(root + "/doc_map").count()

    # re-feeding the same pages: no-op
    r = incremental_index_update(spark, tiny_pages_df, root)
    assert r["new_docs"] == 0

    # new pages (different seed → different urls)
    new = spark.createDataFrame(gen_pages(20, seed=99), schema=pages_schema())
    r = incremental_index_update(spark, new, root)
    assert r["new_docs"] == 20 and r["new_postings"] > 0
    dm = spark.read.parquet(root + "/doc_map")
    assert dm.count() == n0 + 20
    # ids stay dense and unique
    ids = [row["doc_id"] for row in dm.collect()]
    assert sorted(ids) == list(range(n0 + 20))
