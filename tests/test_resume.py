"""Resumability (SURVEY.md §5.6): a build killed in chunk p and resumed
must produce a bit-identical index in all seven tables, and the lineage
manifest must list every chunk exactly once. A resume must see the same
input and build parameters, and an index at a ``file://`` root resumes as
a local one does. Also covers the incremental (new-pages-only) update on
a chunked build, whose appends land beside the chunk directories."""

import json
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from search_engine_tr_spark.plans import index_build
from search_engine_tr_spark.plans.index_build import (build_index, load_meta,
                                                      read_table)
from search_engine_tr_spark.sources.synth import gen_pages, pages_schema
from search_engine_tr_spark.streaming.incremental import \
    incremental_index_update

TABLES = ("doc_map", "postings", "pages_text", "doc_meta", "links",
          "blocks", "term_stats")


def _freeze(v):
    if isinstance(v, list):
        return tuple(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _rows(spark, root, table, drop=()):
    """A table's rows as a multiset, whatever its chunk layout (the
    term_bucket-partitioned tables are read with their partition column)."""
    path = os.path.join(root, table)
    df = (spark.read.parquet(path) if table in ("blocks", "term_stats")
          else read_table(spark, path))
    cols = sorted(c for c in df.columns if c not in drop)
    return Counter(tuple(_freeze(v) for v in r)
                   for r in df.select(*cols).collect())


def _build_crashing_in_chunk(spark, pages, root, n, **kwargs):
    """Run ``build_index`` until it raises in the postings write of its
    chunk number ``n`` (0-based, in run order): chunks before it are done,
    chunk ``n``'s other writes have started."""
    real = index_build.postings_from_pages
    calls = []

    def boom(*args):
        if len(calls) == n:
            raise RuntimeError("injected crash")
        calls.append(1)
        return real(*args)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(index_build, "postings_from_pages", boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            build_index(spark, pages, root, **kwargs)


def test_resumed_build_bit_identical(spark, tiny_pages_df, tiny_index,
                                     tmp_path):
    """Killed in chunk 2 of 4 and resumed: the same rows as the one-chunk
    ``tiny_index`` (same pages, shards and buckets) in all seven tables —
    block bytes included — and a rerun of the finished build returns it
    without running anything."""
    base, _ = tiny_index
    part = str(tmp_path / "part")
    kw = dict(n_shards=4, term_buckets=8, n_chunks=4)
    _build_crashing_in_chunk(spark, tiny_pages_df, part, 2, **kw)
    mf = json.load(open(os.path.join(part, "manifest.json")))
    assert sorted(mf["chunks"], key=int) == ["0", "1"]
    assert "finalize" not in mf["steps"]

    summary = build_index(spark, tiny_pages_df, part, **kw)
    assert summary["ran"] == [2, 3] and summary["skipped"] == [0, 1]
    for t in TABLES:
        assert _rows(spark, part, t) == _rows(spark, base, t), t

    # manifest lineage: every chunk exactly once, all done, with the row
    # counts of each table it wrote
    mf = json.load(open(os.path.join(part, "manifest.json")))
    assert sorted(mf["chunks"], key=int) == ["0", "1", "2", "3"]
    assert all(c["status"] == "done" for c in mf["chunks"].values())
    for t in ("postings", "pages_text", "doc_meta"):
        assert (sum(c[t] for c in mf["chunks"].values())
                == sum(_rows(spark, base, t).values())), t

    again = build_index(spark, tiny_pages_df, part, **kw)
    assert again["ran"] == [] and again["skipped"] == [0, 1, 2, 3]
    meta = load_meta(part)
    assert {k: again[k] for k in meta} == meta


def test_resumable_derived_tables_match_build_index(spark, tiny_pages_df,
                                                   tiny_index, tmp_path):
    """A four-chunk build equals the one-chunk ``tiny_index`` in all seven
    tables and in meta.json (all but the timing keys); it writes the page
    tables as one directory per chunk, one blocks file per term_bucket,
    and no doclens table."""
    base, _ = tiny_index
    out = str(tmp_path / "chunked")
    build_index(spark, tiny_pages_df, out, n_shards=4, term_buckets=8,
                n_chunks=4)

    for t in TABLES:
        assert _rows(spark, out, t) == _rows(spark, base, t), t
    timing = {"build_sec", "docs_per_sec", "postings_per_sec"}
    got, want = load_meta(out), load_meta(base)
    assert sorted(got) == sorted(want)
    assert {k: v for k, v in got.items() if k not in timing} \
        == {k: v for k, v in want.items() if k not in timing}
    for t in ("postings", "pages_text", "doc_meta", "links"):
        assert sorted(d for d in os.listdir(os.path.join(out, t))
                      if d.startswith("chunk=")) \
            == [f"chunk={c}" for c in range(4)], t
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
    out = str(tmp_path / "guard")
    build_index(spark, tiny_pages_df, out, n_shards=2, term_buckets=4,
                n_chunks=2)
    changed = tiny_pages_df.filter(F.col("url") != tiny_pages_df.head()["url"])
    with pytest.raises(ValueError, match="resume refused"):
        build_index(spark, changed, out, n_shards=2, term_buckets=4,
                    n_chunks=2)
    # unchanged input still resumes cleanly (everything skipped)
    summary = build_index(spark, tiny_pages_df, out, n_shards=2,
                          term_buckets=4, n_chunks=2)
    assert summary["ran"] == []


def test_resume_refuses_same_urls_changed_content(spark, tiny_pages_df,
                                                  tmp_path):
    """A recrawl with the SAME url set but different bytes must also be
    refused — count+url_xor alone would wave it through and the build
    would silently mix two snapshots' postings (round-2 ADVICE)."""
    out = str(tmp_path / "guard_content")
    build_index(spark, tiny_pages_df, out, n_shards=2, term_buckets=4,
                n_chunks=2)
    recrawled = tiny_pages_df.withColumn(
        "html", F.concat(F.col("html"),
                         F.lit(b"<p>recrawled delta</p>")))
    with pytest.raises(ValueError, match="content_xor"):
        build_index(spark, recrawled, out, n_shards=2, term_buckets=4,
                    n_chunks=2)


def test_resume_refuses_changed_build_params(spark, tiny_pages_df,
                                             tmp_path):
    """A build stopped after chunks 0-1 of 4 and resumed with 2 chunks
    would skip both "done" chunks and commit half the corpus; with other
    shards or buckets it would pack blocks unlike the recorded build. The
    manifest records the parameters, and a resume with others raises."""
    out = str(tmp_path / "params")
    kw = dict(n_shards=2, term_buckets=4, n_chunks=4)
    _build_crashing_in_chunk(spark, tiny_pages_df, out, 2, **kw)
    for key, value in (("n_chunks", 2), ("n_shards", 4),
                       ("term_buckets", 8)):
        with pytest.raises(ValueError, match=f"resume refused: {key}"):
            build_index(spark, tiny_pages_df, out, **{**kw, key: value})
    assert not os.path.exists(os.path.join(out, "meta.json"))
    summary = build_index(spark, tiny_pages_df, out, **kw)
    assert summary["ran"] == [2, 3]
    assert summary["n_pages_mapped"] == tiny_pages_df.count()


def test_build_resumes_at_file_uri_root(spark, tiny_pages_df, tiny_index,
                                        tmp_path, monkeypatch):
    """The manifest goes through plans.fsio like meta.json: at a
    ``file://`` root it lands in the index directory — not under a
    cwd-relative ``file:`` directory — and the build resumes from it."""
    base, _ = tiny_index
    root = tmp_path / "uri"
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    uri = "file://" + str(root)
    kw = dict(n_shards=4, term_buckets=8, n_chunks=2)
    _build_crashing_in_chunk(spark, tiny_pages_df, uri, 1, **kw)
    assert (root / "manifest.json").exists()
    assert os.listdir(cwd) == []

    summary = build_index(spark, tiny_pages_df, uri, **kw)
    assert summary["ran"] == [1] and summary["skipped"] == [0]
    for t in TABLES:
        assert _rows(spark, uri, t) == _rows(spark, base, t), t


def test_incremental_update_appends_only_new(spark, tiny_pages_df, tmp_path):
    root = str(tmp_path / "inc")
    build_index(spark, tiny_pages_df, root, n_shards=2, term_buckets=4,
                n_chunks=2)
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


# ------------------------------------------- chunked build + one ingest

@pytest.fixture(scope="module")
def chunked_ingested(spark, tmp_path_factory):
    """A two-chunk build of 40 pages plus one 10-page ingest: every page
    table holds ``chunk=0``/``chunk=1`` directories and root-level files.
    → (index root, the ingested pages)."""
    pages = gen_pages(50, seed=71)
    root = str(tmp_path_factory.mktemp("chunked_ingest"))
    build_index(spark, spark.createDataFrame(pages[:40], schema=pages_schema()),
                root, n_shards=2, term_buckets=4, n_chunks=2)
    incremental_index_update(
        spark, spark.createDataFrame(pages[40:], schema=pages_schema()),
        root, refresh_derived=True)
    return root, pages[40:]


def _title(page) -> str:
    html = bytes(page["html"]).decode("utf-8", errors="ignore")
    return html.split("<title>", 1)[1].split("</title>", 1)[0]


@pytest.mark.parametrize("regime", ["driver", "spark"])
def test_result_rows_of_ingested_doc_on_chunked_build(
        spark, chunked_ingested, monkeypatch, regime):
    """search_with_meta, search_with_snippets and search_blended
    (with_meta) return the ingested doc's row, with its metadata and
    snippet, whether the rows are read with pyarrow or with Spark (a root
    pyarrow cannot open): every reader sees the ingest's root-level files
    beside the chunk directories."""
    from search_engine_tr_spark.operators import query_bm25
    from search_engine_tr_spark.operators.snippets import search_with_snippets

    if regime == "spark":
        monkeypatch.setattr(query_bm25, "_arrow_root", lambda root: None)
    root, ingested = chunked_ingested
    idx = query_bm25.BM25Index(spark, root)
    page = ingested[0]
    q = _title(page)
    assert idx.query_terms(q)

    def row_of(df):
        hits = [r for r in df.collect() if r["url"] == page["url"]]
        assert len(hits) == 1, q
        return hits[0]

    assert row_of(idx.search_with_meta(q, k=50))["title"]
    assert row_of(idx.search_blended(q, k=50, with_meta=True))["title"]
    assert row_of(search_with_snippets(idx, q, k=50))["snippet"]


def test_crash_replay_on_chunked_build_keeps_urls_once(spark, tmp_path,
                                                      monkeypatch):
    """An ingest that crashes after its companion appends, before its
    doc_map commit, on a two-chunk build: the replay's rollback finds the
    crashed root-level files beside the chunk directories, so every url is
    in pages_text, doc_meta and links exactly as often as in a one-chunk
    build of all pages."""
    import pyspark.sql.classic.dataframe as D

    pages = gen_pages(40, seed=73)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:30], schema=pages_schema()),
                ix, n_shards=2, term_buckets=4, n_chunks=2)
    batch = spark.createDataFrame(pages[30:], schema=pages_schema())

    def boom(self, n):
        raise RuntimeError("injected crash before doc_map commit")

    with monkeypatch.context() as m:
        m.setattr(D.DataFrame, "coalesce", boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            incremental_index_update(spark, batch, ix)
    assert os.path.exists(os.path.join(ix, "_ingest_intent.json"))
    assert incremental_index_update(spark, batch, ix)["new_docs"] == 10
    assert not os.path.exists(os.path.join(ix, "_ingest_intent.json"))

    fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh, n_shards=2, term_buckets=4)
    for t in ("pages_text", "doc_meta", "links"):
        # a fresh build numbers the docs in its own order
        assert (_rows(spark, ix, t, drop=("doc_id",))
                == _rows(spark, fresh, t, drop=("doc_id",))), t
