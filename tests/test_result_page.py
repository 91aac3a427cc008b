"""The result-page path of BM25Index: small queries read their blocks with
pyarrow, are scored on the driver — "wand" by the batch scorer as a batch
of one, "exhaustive" by the independent oracle — and return rows identical
to the distributed plan's; pages attach metadata with one k-row ``doc_id ∈
ids`` pyarrow read, stored nulls kept; such pages and no-hit pages launch
no Spark job; a memory-mode reader looks terms up on its driver lexicon
with no job and caches nothing in Spark; pruned mode's per-term memo is a
bounded LRU.
Batches (``search_many``) take one of three regimes by the same cap —
driver scoring, a driver merge of per-shard candidates, or the Window plan
— and all three return the same rows. A root pyarrow cannot open sends
every query to the distributed regimes. Frames built from driver rows
answer ``collect()`` from those rows, Row- and type-identical to the
LocalRelation that any other use builds once."""

import contextlib
import io
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from search_engine_tr_spark.operators import query_bm25
from search_engine_tr_spark.oracle.refscore import bm25_idf
from search_engine_tr_spark.operators.query_bm25 import BM25Index
from search_engine_tr_spark.sources.synth import (gen_pages, pages_schema,
                                                  reference_queries)

DRIVER = 1 << 62   # every query fits: the driver path
DISTRIBUTED = -1   # no query fits: the applyInPandas path
NO_HIT = "zzzzz qqqqq"


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _jobs(spark, group: str, fn):
    """→ (fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _collect_built(df):
    """``df.collect()``, checked equal to the collect of the relation its
    Spark plan gives (a driver frame's lazily built LocalRelation), so a
    job count over it covers both."""
    rows = df.collect()
    assert ClassicDataFrame.collect(df) == rows
    return rows


def _pages(spark, rows):
    return spark.createDataFrame(rows, schema=pages_schema())


def _twins(rows, n_copies=4):
    """Each page again under other urls: identical docs score identically,
    so every hit of theirs is a tie that only doc_id orders."""
    return [dict(p, url=f"{p['url']}-ikiz{j}")
            for p in rows for j in range(n_copies)]


@pytest.fixture(scope="module")
def delta_index(spark, tmp_path_factory):
    """Base build plus one delta refresh, with tied twins on both sides."""
    from search_engine_tr_spark.plans.index_build import build_index
    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    pages = gen_pages(40, seed=53)
    ix = str(tmp_path_factory.mktemp("page_ix"))
    build_index(spark, _pages(spark, pages[:25] + _twins(pages[:2])), ix,
                n_shards=4, term_buckets=8)
    incremental_index_update(spark,
                             _pages(spark, pages[25:] + _twins(pages[25:27])),
                             ix, refresh_derived=True)
    return ix


QUERIES = [q for q in reference_queries() if q != NO_HIT] + [
    "haber spor", "istanbul"]


def _answers(spark, ix, cap, monkeypatch):
    monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", cap)
    idx = BM25Index(spark, ix)
    out = {}
    for q in QUERIES:
        for mode in ("wand", "exhaustive"):
            for k in (3, 10, 200):
                out[(q, mode, k)] = [tuple(r) for r in
                                     idx.search(q, k=k, mode=mode).collect()]
        out[(q, "meta")] = [tuple(r) for r in
                            idx.search_with_meta(q, k=7).collect()]
        out[(q, "urls")] = [tuple(r) for r in
                            idx.search_with_urls(q, k=7).collect()]
    return out


@pytest.mark.parametrize("which", ["tiny", "delta"])
def test_driver_path_matches_distributed(spark, tiny_index, delta_index,
                                         monkeypatch, which):
    """Same (doc_id, score) rows, in the same order, from both paths — for
    wand and exhaustive, k cutting through tie groups, and on an index
    whose postings span base and delta blocks."""
    ix = tiny_index[0] if which == "tiny" else delta_index
    driver = _answers(spark, ix, DRIVER, monkeypatch)
    dist = _answers(spark, ix, DISTRIBUTED, monkeypatch)
    assert driver == dist
    assert sum(len(v) for v in driver.values()) > 100
    if which == "delta":
        # the twins really tie, and some k cuts through a tie group
        ranked = [v for key, v in driver.items() if key[1] == "wand"]
        assert any(len({s for _, s in v}) < len(v) for v in ranked)
        cut = [(driver[(q, "wand", 3)], driver[(q, "wand", 10)])
               for q in QUERIES]
        assert any(len(b) > 3 and b[2][1] == b[3][1] for _, b in cut)


def test_page_columns_and_nulls(spark, tiny_index):
    """Result pages keep their column order; every hit of a built index
    has its url, title and description row."""
    idx = BM25Index(spark, tiny_index[0])
    meta = idx.search_with_meta("haber spor", k=5)
    assert meta.columns == ["doc_id", "url", "score", "title", "description"]
    rows = meta.collect()
    assert rows and all(r["url"].startswith("https://") for r in rows)
    assert idx.search_with_urls("haber", k=3).columns == \
        ["doc_id", "score", "url"]
    empty = idx.search_with_meta(NO_HIT)
    assert empty.columns == meta.columns and empty.collect() == []
    # a doc with no metadata row gets nulls, as a left join gives
    got = idx._attach(idx._page("haber", 3, "wand").assign(doc_id=-1)[:1],
                      "doc_meta", ["url", "title"])
    assert got[["url", "title"]].values.tolist() == [[None, None]]


def test_attach_keeps_stored_nulls(spark, tiny_index, tmp_path):
    """A stored null title or description comes back as None, next to the
    row's stored values and in page order, with the Row types of the
    LocalRelation the frame builds; ``search_blended(with_meta=True)``
    returns the rows a Spark left join of the same doc_meta gives."""
    ix = shutil.copytree(tiny_index[0], str(tmp_path / "index"))
    before = BM25Index(spark, ix).search_with_meta("haber spor",
                                                   k=10).collect()
    meta_dir = tmp_path / "index" / "doc_meta"
    table = pq.read_table(str(meta_dir))
    ids = table["doc_id"].to_numpy()
    for c, nulled in (("title", ids % 2 == 0), ("description", ids % 3 == 0)):
        table = table.set_column(
            table.schema.get_field_index(c), c,
            pc.if_else(pa.array(nulled), pa.scalar(None, pa.string()),
                       table[c]))
    for f in meta_dir.glob("*.parquet"):
        f.unlink()
    pq.write_table(table, str(meta_dir / "part-0.parquet"))

    idx = BM25Index(spark, ix)
    frame = idx.search_with_meta("haber spor", k=10)
    rows = frame.collect()
    want = ClassicDataFrame.collect(frame)
    assert rows == want and _types(rows) == _types(want)
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in before]
    for got, old in zip(rows, before):
        assert got["url"] == old["url"] and got["score"] == old["score"]
        assert got["title"] == (None if got["doc_id"] % 2 == 0
                                else old["title"])
        assert got["description"] == (None if got["doc_id"] % 3 == 0
                                      else old["description"])
    # both kinds of stored null, and a stored value, on this page
    assert any(r["title"] is None and r["description"] is not None
               for r in rows)
    assert any(r["title"] is r["description"] is None for r in rows)
    assert any(r["title"] is not None for r in rows)

    blended = idx.search_blended("haber spor", k=10, with_meta=True)
    meta = spark.read.parquet(str(meta_dir)).select("doc_id", "title",
                                                    "description")
    joined = (idx.search_blended("haber spor", k=10)
              .join(meta, "doc_id", "left")
              .orderBy(F.desc("score"), F.asc("doc_id")).collect())
    got = blended.collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in joined]
    assert got and any(r["title"] is None for r in got)


def test_driver_single_query_scorers(spark, tiny_index, monkeypatch):
    """Under the cap a "wand" query is a batch of one through
    ``batch_topk`` and never runs the per-shard ``wand_topk`` cursor; an
    "exhaustive" query is one ``exhaustive_topk`` call over its terms in
    query-term order and never runs ``batch_topk``, so wand == exhaustive
    compares two scorers. Neither launches a Spark job."""
    monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", DRIVER)
    idx = BM25Index(spark, tiny_index[0])
    tmeta = idx._term_meta(idx.query_terms("haber spor"))
    assert len(tmeta) == 2
    calls: dict[str, list] = {}
    for name in ("batch_topk", "wand_topk", "exhaustive_topk"):
        def spy(*args, _name=name, _real=getattr(query_bm25, name)):
            calls.setdefault(_name, []).append(args)
            return _real(*args)
        monkeypatch.setattr(query_bm25, name, spy)
    got = {}
    for mode in ("wand", "exhaustive"):
        calls.clear()
        got[mode], n = _jobs(
            spark, "single-" + mode,
            lambda: _collect_built(idx.search("haber spor", k=5, mode=mode)))
        assert got[mode] and n == 0, mode
        if mode == "wand":
            assert list(calls) == ["batch_topk"]
            [(_, _, _, queries, k)] = calls["batch_topk"]
            assert len(queries) == 1 and len(queries[0]) == 2 and k == 5
        else:
            assert list(calls) == ["exhaustive_topk"]
            [(term_blocks, k, _)] = calls["exhaustive_topk"]
            assert [idf for idf, _ in term_blocks] == \
                [bm25_idf(idx.n_docs, df) for _, df, _ in tmeta]
            assert all(blocks for _, blocks in term_blocks) and k == 5
    assert got["wand"] == got["exhaustive"]


def test_result_page_job_budget(spark, tiny_index):
    """A result page under the cap — its block fetch and its k-row
    metadata fetch are pyarrow reads — launches no Spark job, on a reader
    that has served nothing yet; nor does a page whose terms are all
    absent."""
    idx = BM25Index(spark, tiny_index[0])
    rows, n = _jobs(spark, "page-hit",
                    lambda: _collect_built(idx.search_with_meta("haber spor")))
    assert rows and n == 0
    for name, fn in (
            ("page", lambda: _collect_built(idx.search_with_meta(NO_HIT))),
            ("urls", lambda: _collect_built(idx.search_with_urls(NO_HIT))),
            ("search", lambda: _collect_built(idx.search(NO_HIT))),
            ("many",
             lambda: _collect_built(idx.search_many([NO_HIT, "!!!"])))):
        rows, n = _jobs(spark, "no-hit-" + name, fn)
        assert rows == [] and n == 0, name


def test_page_path_reads_k_rows_not_tables(spark, tiny_index, monkeypatch):
    """No Exchange or Join on the page path: the page frame itself is a
    local relation, and the metadata read of doc_meta (doc_map for url
    pages) returns exactly the page's k ids — on both top-k paths."""
    reads = _spy_reads(monkeypatch)
    for cap in (DRIVER, DISTRIBUTED):
        monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", cap)
        idx = BM25Index(spark, tiny_index[0])
        for table, fn in (("doc_meta", idx.search_with_meta),
                          ("doc_map", idx.search_with_urls)):
            page = fn("haber spor", k=5)
            p = _plan(page)
            assert "LocalTableScan" in p
            assert "Exchange" not in p and "Join" not in p
            ids = [r["doc_id"] for r in page.collect()]
            assert len(ids) == 5
            assert reads[-1][0] == table
            assert sorted(reads[-1][1]["doc_id"]) == sorted(ids)


class _Opened(pafs.FileSystemHandler):
    """The local filesystem, recording every file pyarrow opens."""

    def __init__(self, opened: list):
        self.fs, self.opened = pafs.LocalFileSystem(), opened

    def open_input_file(self, path):
        self.opened.append(path)
        return self.fs.open_input_file(path)

    def open_input_stream(self, path):
        self.opened.append(path)
        return self.fs.open_input_stream(path)

    def get_type_name(self):
        return "opened"

    def normalize_path(self, path):
        return self.fs.normalize_path(path)

    def get_file_info(self, paths):
        return self.fs.get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self.fs.get_file_info(selector)

    def _read_only(self, *args):
        raise NotImplementedError("read-only")

    create_dir = delete_dir = delete_dir_contents = delete_file = move = \
        copy_file = open_output_stream = open_append_stream = \
        delete_root_dir_contents = _read_only


def test_driver_block_fetch_is_job_free_and_pruned(spark, tiny_index,
                                                   monkeypatch):
    """A small query launches no Spark job: its one pyarrow block read
    opens files under its terms' ``term_bucket=`` directories only, and
    the rows it returns hold only its terms."""
    opened: list[str] = []
    fs = pafs.PyFileSystem(_Opened(opened))
    monkeypatch.setattr(query_bm25, "_arrow_root", lambda root: (fs, root))
    monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", DRIVER)
    idx = BM25Index(spark, tiny_index[0])
    tmeta = idx._term_meta(idx.query_terms("haber spor"))
    buckets = {b for _, _, b in tmeta}
    assert len(tmeta) == 2 and len(buckets) < idx.term_buckets
    reads = _spy_reads(monkeypatch)
    opened.clear()
    rows, n = _jobs(spark, "driver-fetch",
                    lambda: _collect_built(idx.search("haber spor", k=5)))
    assert rows and n == 0
    assert [table for table, _ in reads] == ["blocks"]
    assert set(reads[0][1]["term"]) == {t for t, _, _ in tmeta}
    assert opened and {int(re.search(r"/term_bucket=(\d+)/", p).group(1))
                       for p in opened} == buckets


def test_arrow_fetch_is_bit_identical_to_spark_scan(spark, delta_index,
                                                    tmp_path):
    """On an index whose older blocks were packed under a smaller avgdl,
    the pyarrow fetch returns the Spark block scan's rows, ``max_tfnorm``
    rescale included, bit for bit. A reader opened before a later ingest
    keeps its file list and its rows."""
    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    ix = shutil.copytree(delta_index, str(tmp_path / "index"))
    # copies of the longest pages raise avgdl above the older blocks'
    longest = sorted(gen_pages(40, seed=53), key=lambda p: -len(p["html"]))
    copies = [dict(p, url=f"{p['url']}-uzun{j}")
              for p in longest[:3] for j in range(3)]
    incremental_index_update(spark, _pages(spark, copies[:6]), ix,
                             refresh_derived=True)
    idx = BM25Index(spark, ix)
    assert spark.read.parquet(ix + "/blocks").select("avgdl0") \
        .distinct().count() > 1
    tmeta = idx._term_meta(sorted(idx._lexicon))[::7]
    cols = ["shard", "term", "max_doc_id", "max_tfnorm", "block"]
    key = ["shard", "term", "max_doc_id"]

    def arrow_rows(reader):
        pdf = reader._fetch_blocks(tmeta)
        return pdf.sort_values(key).reset_index(drop=True)

    got = arrow_rows(idx)
    want = (idx._blocks
            .filter(F.col("term_bucket").isin(sorted({b for *_, b in tmeta})))
            .filter(F.col("term").isin([t for t, *_ in tmeta]))
            .select(*cols).toPandas().sort_values(key)
            .reset_index(drop=True))
    assert len(got) == len(want) > 0
    for c in ("shard", "term", "max_doc_id"):
        assert got[c].tolist() == want[c].tolist(), c
    assert (got["max_tfnorm"].to_numpy() == want["max_tfnorm"].to_numpy()).all()
    assert [bytes(b) for b in got["block"]] == \
        [bytes(b) for b in want["block"]]
    stored = spark.read.parquet(ix + "/blocks").select(*key, "max_tfnorm")
    rescaled = want.merge(stored.toPandas(), on=key, suffixes=("", "_0"))
    assert (rescaled["max_tfnorm"] > rescaled["max_tfnorm_0"]).any()

    files = idx._datasets["blocks"].files
    incremental_index_update(spark, _pages(spark, copies[6:]), ix,
                             refresh_derived=True)
    assert idx._datasets["blocks"].files == files
    assert len(BM25Index(spark, ix)._datasets["blocks"].files) > len(files)
    assert arrow_rows(idx).equals(got)


def test_root_pyarrow_cannot_open_goes_distributed(spark, delta_index,
                                                   monkeypatch):
    """Driver-local roots resolve to the local filesystem, ``s3a://`` to
    none. A reader whose root pyarrow cannot open answers every query,
    page and batch as a normal reader does, with zero pyarrow reads."""
    assert query_bm25._arrow_root("s3a://bucket/index") is None
    for root in ("file:/x/index", "file:///x/index",
                 "file://localhost/x/index"):
        fs, path = query_bm25._arrow_root(root)
        assert isinstance(fs, pafs.LocalFileSystem) and path == "/x/index"
    normal = BM25Index(spark, delta_index)
    monkeypatch.setattr(query_bm25, "_arrow_root", lambda root: None)
    remote = BM25Index(spark, delta_index)
    reads = _spy_reads(monkeypatch)
    for q in QUERIES + [NO_HIT]:
        for fn in (lambda i: i.search(q, k=10, mode="wand"),
                   lambda i: i.search(q, k=10, mode="exhaustive"),
                   lambda i: i.search_with_meta(q, k=7),
                   lambda i: i.search_with_urls(q, k=7)):
            assert fn(remote).collect() == fn(normal).collect()
    for k in (1, 10):
        assert remote.search_many(BATCH, k=k).collect() == \
            normal.search_many(BATCH, k=k).collect()
    assert reads and not remote._datasets  # the normal reader read
    reads.clear()
    remote.search_with_meta("haber spor").collect()
    remote.search_many(BATCH).collect()
    assert reads == []


def test_term_memo_is_a_bounded_lru(spark, tiny_index, monkeypatch):
    """A long run of distinct queries keeps pruned mode's memo at its cap,
    and a term evicted from it resolves to the same df when it comes
    back."""
    out, _ = tiny_index
    monkeypatch.setattr(BM25Index, "_TERM_MEMO_MAX", 8)
    idx = BM25Index(spark, out, tstats_mode="pruned")
    terms = [r["term"] for r in spark.read.parquet(out + "/term_stats")
             .select("term").distinct().orderBy("term").limit(400).collect()]
    terms = [t for t in terms if idx.query_terms(t) == [t]][:40]
    first = {t: idx._term_meta([t]) for t in terms[:4]}
    for i in range(0, len(terms), 2):
        idx.search(" ".join(terms[i:i + 2]), k=3).collect()
        assert len(idx._term_memo) <= 8
    assert not set(first) & set(idx._term_memo)
    # one call needing more terms than the cap still answers all of them
    assert len(idx._term_meta(terms)) == len(terms)
    assert len(idx._term_memo) == 8
    for t, want in first.items():
        assert idx._term_meta([t]) == want
    # a memo hit is refreshed, so it outlives newer entries
    idx._term_meta([terms[0]])
    idx._term_meta(terms[20:27])
    assert terms[0] in idx._term_memo


@pytest.mark.parametrize("which", ["tiny", "delta"])
def test_memory_lexicon_lookups_launch_no_job(spark, tiny_index, delta_index,
                                              which):
    """A memory-mode reader answers term lookups from its driver lexicon:
    never-seen terms — an absent one and, on the delta index, terms with a
    base and a delta row — cost no Spark job and resolve exactly as pruned
    mode's lookup job resolves them. A page of never-seen terms on a
    reader that has served nothing yet costs no job, and neither does a
    batch of them under the cap. Opening a memory-mode reader costs no
    job either: its lexicon is a pyarrow read, and the Spark blocks frame
    is built only when a distributed regime needs it."""
    ix = tiny_index[0] if which == "tiny" else delta_index
    idx = BM25Index(spark, ix)
    pruned = BM25Index(spark, ix, tstats_mode="pruned")
    counts = (idx._read_term_stats().groupBy("term").count()
              .orderBy("term").collect())
    vocab = [r["term"] for r in counts
             if idx.query_terms(r["term"]) == [r["term"]]]
    multi = [r["term"] for r in counts
             if r["count"] > 1 and r["term"] in set(vocab)]
    assert bool(multi) == (which == "delta")
    terms = multi[:3] + vocab[:3] + ["zzzzz"]
    got, n = _jobs(spark, "lexicon-" + which, lambda: idx._term_meta(terms))
    assert n == 0
    assert len(got) == len(terms) - 1
    assert got == pruned._term_meta(terms)

    fresh, n = _jobs(spark, "lexicon-open-" + which,
                     lambda: BM25Index(spark, ix))
    assert n == 0 and fresh._lexicon == idx._lexicon
    unseen = list(dict.fromkeys(multi + vocab))
    page = " ".join(unseen[:2])
    rows, n = _jobs(spark, "lexicon-page-" + which,
                    lambda: _collect_built(fresh.search_with_meta(page)))
    assert rows and n == 0
    qs = [" ".join(unseen[i:i + 2]) for i in range(2, len(unseen), 2)]
    assert _bounds(fresh, qs, 10)[1] <= BM25Index._DRIVER_MAX_POSTINGS
    rows, n = _jobs(spark, "lexicon-batch-" + which,
                    lambda: _collect_built(fresh.search_many(qs, k=10)))
    assert rows and n == 0


def test_driver_refresh_writes_sparks_files(spark, delta_index, tmp_path,
                                           monkeypatch, refresh_regime):
    """A driver refresh and a Spark refresh of the same ingest, on copies
    of one index, write the same index: blocks equal in every field and
    in their bytes, the same term_stats rows and meta, the same types from
    ``spark.read.parquet`` of the mixed base and delta directories, and
    the same answers from ``search``, ``search_with_meta`` and
    ``search_many`` in the driver and in the distributed regimes."""
    import json

    from search_engine_tr_spark.operators.query_bm25 import _TSTATS_SCHEMA
    from search_engine_tr_spark.streaming import incremental as inc

    pre = shutil.copytree(delta_index, str(tmp_path / "pre"))
    new_docs = inc.incremental_index_update(
        spark, _pages(spark, gen_pages(12, seed=61)), pre)["new_docs"]
    assert new_docs > 0
    ixs = {}
    for regime in ("driver", "spark"):
        ixs[regime] = shutil.copytree(pre, str(tmp_path / regime))
        writes = refresh_regime(regime)
        assert inc.refresh_derived_delta(spark, ixs[regime])[
            "delta_docs"] == new_docs
        assert bool(writes) == (regime == "driver")
    drv, spk = ixs["driver"], ixs["spark"]

    def blocks(ix):
        pdf = spark.read.parquet(ix + "/blocks").toPandas()
        pdf["block"] = pdf["block"].map(bytes)
        return pdf.sort_values(["term", "shard", "max_doc_id"]) \
            .reset_index(drop=True)

    def term_stats(ix):
        return (spark.read.schema(_TSTATS_SCHEMA).parquet(ix + "/term_stats")
                .toPandas().sort_values(["term", "gen"])
                .reset_index(drop=True))

    got = blocks(drv)
    assert got.equals(blocks(spk)) and got["max_doc_id"].max() > \
        blocks(delta_index)["max_doc_id"].max()
    assert term_stats(drv).equals(term_stats(spk))
    with open(drv + "/meta.json") as a, open(spk + "/meta.json") as b:
        assert json.load(a) == json.load(b)
    # term_stats only merged: unmerged, Spark takes the schema of whichever
    # footer it samples, a base file's (no gen) or a delta file's
    for table, merge in (("blocks", "false"), ("blocks", "true"),
                         ("term_stats", "true")):
        assert (spark.read.option("mergeSchema", merge)
                .parquet(f"{drv}/{table}").dtypes
                == spark.read.option("mergeSchema", merge)
                .parquet(f"{spk}/{table}").dtypes), (table, merge)

    for cap in (DRIVER, DISTRIBUTED):
        assert _answers(spark, drv, cap, monkeypatch) == \
            _answers(spark, spk, cap, monkeypatch)
        batches = [BM25Index(spark, ix).search_many(BATCH, k=10).collect()
                   for ix in (drv, spk)]
        assert batches[0] == batches[1] and batches[0]


def _page_tables(spark, ix) -> dict:
    """The five tables an ingest appends to, as sorted row reprs."""
    return {t: sorted(repr(tuple(r)) for r in
                      spark.read.parquet(f"{ix}/{t}").collect())
            for t in ("doc_map", "postings", "pages_text", "doc_meta",
                      "links")}


def _mixed_batch(spark):
    """An ingest batch with urls twice (one copy identical, one with other
    html, one with no html), a null url, a null-html page, a zero-token
    page and a url ``delta_index`` already maps, read as a nullable-url
    frame (as a parquet source reads)."""
    from pyspark.sql import types as T

    new = gen_pages(10, seed=67)
    rows = new + [new[0], dict(new[4], html=new[5]["html"]),
                  dict(new[6], html=None),
                  dict(new[1], url=None),
                  dict(new[2], url=new[2]["url"] + "-bos", html=None),
                  dict(new[3], url=new[3]["url"] + "-sifir",
                       html=b"<html><head></head><body></body></html>"),
                  gen_pages(40, seed=53)[0]]
    schema = T.StructType([T.StructField(f.name, f.dataType, True)
                           for f in pages_schema().fields])
    return spark.createDataFrame(rows, schema=schema)


def test_driver_ingest_writes_sparks_files(spark, delta_index, tmp_path,
                                           monkeypatch, ingest_regime):
    """A driver ingest and a Spark ingest of the same mixed batch, on
    copies of one index, append the same rows to all five tables, ids
    included, in files of the same Arrow schema; ``spark.read.parquet``
    types the mixed directories alike; after a delta refresh both answer
    ``search``, ``search_with_meta``, ``search_with_snippets`` and
    ``search_many`` alike. The driver append launches at most one Spark
    job (its collect)."""
    import os

    from search_engine_tr_spark.operators.snippets import search_with_snippets
    from search_engine_tr_spark.streaming import incremental as inc

    batch = _mixed_batch(spark)
    base_files = {t: set(os.listdir(f"{delta_index}/{t}"))
                  for t in ("doc_map", "postings", "pages_text", "doc_meta",
                            "links")}
    ixs, outs, schemas = {}, {}, {}
    for regime in ("driver", "spark"):
        ix = ixs[regime] = shutil.copytree(delta_index,
                                           str(tmp_path / regime))
        writes = ingest_regime(regime)
        outs[regime], n = _jobs(
            spark, "ingest-" + regime,
            lambda: inc.incremental_index_update(spark, batch, ix))
        assert bool(writes) == (regime == "driver")
        if regime == "driver":
            assert n <= 1
        schemas[regime] = {
            t: {pq.read_schema(f"{ix}/{t}/{f}").remove_metadata()
                for f in set(os.listdir(f"{ix}/{t}")) - files
                if f.endswith(".parquet")}
            for t, files in base_files.items()}
    # 12 fresh urls: ten pages, the null-html and the zero-token page; the
    # null url and the mapped url are not fresh
    assert outs["driver"] == outs["spark"] and outs["driver"]["new_docs"] == 12
    assert schemas["driver"] == schemas["spark"]
    assert all(len(v) == 1 for v in schemas["driver"].values())
    drv, spk = ixs["driver"], ixs["spark"]
    got = _page_tables(spark, drv)
    assert got == _page_tables(spark, spk)
    assert len(got["doc_map"]) == len(_page_tables(spark, delta_index)[
        "doc_map"]) + 12
    for t in base_files:
        assert (spark.read.parquet(f"{drv}/{t}").schema
                == spark.read.parquet(f"{spk}/{t}").schema), t

    for ix in (drv, spk):
        # the null-html and the zero-token page have no postings
        assert inc.refresh_derived_delta(spark, ix)["delta_docs"] == 10
    for cap in (DRIVER, DISTRIBUTED):
        assert _answers(spark, drv, cap, monkeypatch) == \
            _answers(spark, spk, cap, monkeypatch)
    snippets = [[tuple(r) for q in QUERIES for r in search_with_snippets(
        BM25Index(spark, ix), q, k=5).collect()] for ix in (drv, spk)]
    assert snippets[0] == snippets[1] and snippets[0]
    batches = [BM25Index(spark, ix).search_many(BATCH, k=10).collect()
               for ix in (drv, spk)]
    assert batches[0] == batches[1] and batches[0]


def test_memory_reader_persists_nothing(spark, delta_index, tmp_path):
    """Opening a memory-mode reader and serving a page and a batch leaves
    the session's persistent RDDs as they were: the lexicon is a driver
    dict, not a cached frame that nothing ever releases. The reader opens
    a copy of the index no reader has opened yet, so no earlier cache of
    the same scan can mask a new one."""
    ix = shutil.copytree(delta_index, str(tmp_path / "index"))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    idx = BM25Index(spark, ix)
    assert idx.search_with_meta("haber spor").collect()
    assert idx.search_many(["haber spor", "istanbul", NO_HIT]).collect()
    assert jsc.getPersistentRDDs().size() == before


# duplicates, a no-hit query and non-ASCII queries whose code-point order
# ("ç" < "ö" < "İ", all after ASCII) pins the order of the query groups
BATCH = QUERIES + ["istanbul", "haber spor", NO_HIT, "öğrenci",
                   "öğrenci haber", "İZMİR haber"]


def _bounds(idx, queries, k):
    """(candidate bound, scored-row bound) of a batch, from the memoized
    dfs: Σ_q min(n_shards·k, Σdf_q) and Σ_q Σdf_q."""
    n_shards = int(idx.meta["n_shards"])
    sums = [sum(df for _, df, _ in idx._term_meta(idx.query_terms(q)))
            for q in set(queries)]
    return sum(min(n_shards * k, n) for n in sums), sum(sums)


def _regime_caps(idx, queries, k):
    """A cap that sends the batch to each regime of ``search_many``."""
    cand, scored = _bounds(idx, queries, k)
    assert cand < scored
    return {"driver": scored, "merge": cand, "window": cand - 1}


def _spy_to_pandas(monkeypatch, idx) -> list:
    """Record (plan, row count) of every ``toPandas`` from now on."""
    cls = type(idx._blocks)
    to_pandas = cls.toPandas
    seen = []

    def spy(df):
        out = to_pandas(df)
        seen.append((_plan(df), len(out)))
        return out

    monkeypatch.setattr(cls, "toPandas", spy)
    return seen


def _spy_reads(monkeypatch) -> list:
    """Record (table, rows) of every reader's pyarrow read from now on."""
    read = BM25Index._read
    seen = []

    def spy(self, table, columns, where):
        out = read(self, table, columns, where)
        seen.append((table, out))
        return out

    monkeypatch.setattr(BM25Index, "_read", spy)
    return seen


def _regime(reads, collects) -> str:
    """Which regime a ``search_many`` call took: the one pyarrow block read
    of driver scoring, the collect of the per-shard applyInPandas merge, or
    neither (the lazy Window plan)."""
    if reads:
        assert [t for t, _ in reads] == ["blocks"] and not collects
        return "driver"
    if not collects:
        return "window"
    assert len(collects) == 1 and "FlatMapGroupsInPandas" in collects[0][0]
    return "merge"


@pytest.mark.parametrize("which", ["tiny", "delta"])
def test_batch_driver_merge_matches_window_plan(spark, tiny_index,
                                                delta_index, monkeypatch,
                                                which):
    """The three regimes of ``search_many`` — driver scoring, the driver
    merge of the per-shard applyInPandas candidates, and the Window plan —
    return the same rows in the same order, for wand and exhaustive, k = 3
    cutting tie groups that span shards; each query's rows are exactly
    what ``search`` returns for it."""
    ix = tiny_index[0] if which == "tiny" else delta_index
    idx = BM25Index(spark, ix)
    idx.search_many(BATCH, k=1).collect()  # fill the term memo
    seen = _spy_to_pandas(monkeypatch, idx)
    reads = _spy_reads(monkeypatch)
    got = {}
    for mode in ("wand", "exhaustive"):
        for k in (3, 10):
            per = {}
            for regime, cap in _regime_caps(idx, BATCH, k).items():
                monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", cap)
                seen.clear()
                reads.clear()
                df = idx.search_many(BATCH, k=k, mode=mode)
                assert _regime(reads, seen) == regime
                per[regime] = [tuple(r) for r in df.collect()]
            assert per["driver"] == per["merge"] == per["window"], (mode, k)
            got[(mode, k)] = per["driver"]
    for (mode, k), rows in got.items():
        queries = [q for q, _, _ in rows]
        assert queries == sorted(queries)
        assert set(queries) == {q for q in BATCH
                                if idx.search(q, k=1).collect()}
        for q in set(BATCH):
            want = [tuple(r) for r in idx.search(q, k=k, mode=mode).collect()]
            assert [(d, s) for g, d, s in rows if g == q] == want, (q, mode)
    got = {q for q, _, _ in got[("wand", 10)]}
    assert NO_HIT not in got and {"çocuk", "İZMİR haber"} <= got
    if which == "delta":
        # some k = 3 cut falls inside a tie group of twins on several shards
        cut = [[tuple(r) for r in idx.search(q, k=10).collect()]
               for q in set(BATCH)]
        assert any(len(b) > 3 and b[2][1] == b[3][1] for b in cut)


def test_batch_merge_plan_shapes(spark, tiny_index, monkeypatch):
    """The broadcast side of a big lookup is a LocalRelation (no
    Python-RDD scan); a batch answered on the driver is a LocalTableScan
    with no Window or Sort; above the candidate bound the batch keeps its
    Window and global sort."""
    monkeypatch.setattr(BM25Index, "_ISIN_MAX", 0)
    idx = BM25Index(spark, tiny_index[0])
    for col, values, df in (("term", ["haber", "spor"], idx._blocks),
                            ("doc_id", [1, 2, 3],
                             spark.read.parquet(idx.paths.doc_map))):
        p = _plan(idx._isin(df, col, values), "extended")
        assert "LocalRelation" in p and "LogicalRDD" not in p, col
    qs = ["haber spor", "istanbul", NO_HIT]
    for cap in (DRIVER, DISTRIBUTED):
        monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", cap)
        p = _plan(idx.search_many(qs, k=5), "extended")
        assert "LogicalRDD" not in p
        if cap == DRIVER:
            assert "LocalTableScan" in p
            assert "Window" not in p and "Sort" not in p
        else:
            assert "Window" in p and "Sort" in p and "LocalRelation" in p


def test_batch_merge_rows_stay_under_the_cap(spark, tiny_index, monkeypatch):
    """The driver never collects, reads, nor scores more rows than the
    cap: small caps send the batch to the Window plan, larger ones to the
    applyInPandas merge or to driver scoring, and the answer is the same
    either way."""
    idx = BM25Index(spark, tiny_index[0])
    qs = [q for q in BATCH if q != NO_HIT]
    seen = _spy_to_pandas(monkeypatch, idx)
    reads = _spy_reads(monkeypatch)
    batch_topk = query_bm25.batch_topk
    scored = []

    def spy(term_ids, docs, impacts, queries, k):
        per_term = np.bincount(term_ids)
        scored.append(sum(int(per_term[t]) for ts in queries for t in ts))
        return batch_topk(term_ids, docs, impacts, queries, k)

    monkeypatch.setattr(query_bm25, "batch_topk", spy)
    answers, regimes = set(), []
    caps = sorted({10, 200, 2000, DRIVER, *_regime_caps(idx, qs, 10).values()})
    for cap in caps:
        monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", cap)
        seen.clear()
        reads.clear()
        scored.clear()
        rows = idx.search_many(qs, k=10)
        regimes.append(_regime(reads, seen))
        assert all(n <= cap for _, n in seen), (cap, seen)
        assert all(len(pdf) <= cap for _, pdf in reads), cap
        assert all(0 < n <= cap for n in scored), (cap, scored)
        assert bool(scored) == (regimes[-1] == "driver")
        answers.add(tuple(map(tuple, rows.collect())))
    assert len(answers) == 1
    assert regimes[0] == "window" and regimes[-1] == "driver"
    assert "merge" in regimes


def test_batch_job_budget_and_broadcast_release(spark, tiny_index,
                                                monkeypatch):
    """A batch over more than ``_ISIN_MAX`` terms scored on the driver
    launches no Spark job and makes no broadcast variable: its one pyarrow
    block read returns the rows of its terms only. A batch on the
    applyInPandas regime destroys its query broadcast once the call
    returns — also when the call raises."""
    out, _ = tiny_index
    idx = BM25Index(spark, out)
    terms = [r["term"] for r in spark.read.parquet(out + "/term_stats")
             .select("term").distinct().orderBy("term").collect()]
    terms = [t for t in terms
             if idx.query_terms(t) == [t]][:2 * BM25Index._ISIN_MAX + 2]
    assert len(terms) > BM25Index._ISIN_MAX
    qs = [" ".join(terms[i:i + 2]) for i in range(0, len(terms), 2)]
    idx.search_many(qs, k=10).collect()  # fill the term memo
    sc = type(spark.sparkContext)
    broadcast = sc.broadcast
    made = []

    def spy(self, value):
        made.append(broadcast(self, value))
        return made[-1]

    monkeypatch.setattr(sc, "broadcast", spy)
    seen = _spy_to_pandas(monkeypatch, idx)
    reads = _spy_reads(monkeypatch)
    rows, n = _jobs(spark, "batch-hit",
                    lambda: _collect_built(idx.search_many(qs, k=10)))
    assert rows and n == 0 and made == []
    assert _regime(reads, seen) == "driver"
    assert set(reads[0][1]["term"]) == set(terms)
    monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS",
                        _regime_caps(idx, qs, 1)["merge"])
    seen.clear()
    reads.clear()
    assert idx.search_many(qs, k=1).collect()
    assert _regime(reads, seen) == "merge"
    assert len(made) == 1 and not made[0]._jbroadcast.isValid()
    # a failing collect still releases the broadcast
    monkeypatch.setattr(type(idx._blocks), "toPandas",
                        lambda df: 1 / 0)
    with pytest.raises(ZeroDivisionError):
        idx.search_many(qs, k=1)
    assert len(made) == 2 and not made[1]._jbroadcast.isValid()


def test_unknown_mode_is_rejected(spark, tiny_index):
    """A mode other than "wand" or "exhaustive" raises before any job
    runs, on every entry point, instead of silently picking a kernel."""
    idx = BM25Index(spark, tiny_index[0])
    for name, fn in (
            ("search", lambda: idx.search("haber", mode="WAND")),
            ("many", lambda: idx.search_many(["haber"], mode="WAND")),
            ("meta", lambda: idx.search_with_meta("haber", mode="wnad")),
            ("urls", lambda: idx.search_with_urls(NO_HIT, mode="")),
            ("no-hit many", lambda: idx.search_many([NO_HIT], mode="x"))):
        with pytest.raises(ValueError, match="unknown mode"):
            _jobs(spark, "bad-mode-" + name, fn)
        assert not spark.sparkContext.statusTracker().getJobIdsForGroup(
            "bad-mode-" + name), name


def _spy_builds(monkeypatch) -> tuple[list, list]:
    """Record every ``SparkSession.createDataFrame`` call and every classic
    ``DataFrame.collect`` (a ``collectToPython`` round trip) from now on."""
    made, collects = [], []
    create, collect = SparkSession.createDataFrame, ClassicDataFrame.collect

    def spy_create(self, *args, **kwargs):
        made.append(args)
        return create(self, *args, **kwargs)

    def spy_collect(df):
        collects.append(df)
        return collect(df)

    monkeypatch.setattr(SparkSession, "createDataFrame", spy_create)
    monkeypatch.setattr(ClassicDataFrame, "collect", spy_collect)
    return made, collects


def _types(rows) -> list:
    return [(r.__fields__, [type(v) for v in r]) for r in rows]


@pytest.mark.parametrize("which", ["tiny", "delta"])
def test_driver_frame_collects_its_rows(spark, tiny_index, delta_index,
                                        monkeypatch, which):
    """A frame built from driver rows — pages and no-hit pages on both
    top-k paths, batches of both driver regimes, an all-no-hit batch, a
    page whose doc has no metadata row — answers ``collect()`` with no
    ``createDataFrame``, no classic collect and no job. Its rows equal,
    Row for Row, field for field and type for type, those of the
    LocalRelation its first other use builds; composing it builds that
    relation once and keeps the rows."""
    ix = tiny_index[0] if which == "tiny" else delta_index
    idx = BM25Index(spark, ix)
    idx.search_many(BATCH, k=1).collect()  # fill the term memo
    # (regime, page cap, batch cap): the driver regime everywhere, then the
    # distributed top-k under pages and the driver merge under batches
    regimes = (("driver", DRIVER, DRIVER),
               ("merge", DISTRIBUTED, _regime_caps(idx, BATCH, 10)["merge"]))
    pages = {"search": idx.search,
             "urls": lambda q: idx.search_with_urls(q, k=7),
             "meta": lambda q: idx.search_with_meta(q, k=7)}
    cases = [(name, q, fn) for name, fn in pages.items()
             for q in ("haber spor", "istanbul", NO_HIT)]
    cases += [("many", BATCH, idx.search_many),
              ("many", [NO_HIT, "!!!"], idx.search_many),
              ("meta-missing", "haber spor",
               lambda q: idx.search_with_meta(q, k=5))]
    read, drop = BM25Index._read, [False]

    def drop_a_meta_row(self, table, columns, where):
        out = read(self, table, columns, where)
        return out.iloc[1:] if drop[0] and table == "doc_meta" else out

    monkeypatch.setattr(BM25Index, "_read", drop_a_meta_row)
    reads = _spy_reads(monkeypatch)
    made, collects = _spy_builds(monkeypatch)
    regime_of, hits = {}, 0
    for regime, page_cap, batch_cap in regimes:
        for i, (name, q, fn) in enumerate(cases):
            monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS",
                                batch_cap if name == "many" else page_cap)
            drop[0] = name == "meta-missing"
            reads.clear()
            frame = fn(q)
            if not isinstance(frame, query_bm25._DriverFrame):
                # a hit above the cap stays the lazy distributed plan
                assert (name, regime) == ("search", "merge") and q != NO_HIT
                continue
            if name == "many" and q == BATCH:
                regime_of[regime] = "driver" if reads else "merge"
            made.clear()
            collects.clear()
            rows, n = _jobs(spark, f"driver-frame-{which}-{regime}-{i}",
                            frame.collect)
            assert (n, made, collects) == (0, [], []), name
            assert frame._relation is None
            want = ClassicDataFrame.collect(frame)
            assert len(made) == (1 if rows else 0), name
            assert rows == want and _types(rows) == _types(want), name
            assert frame.collect() == rows
            if name == "meta-missing":
                bare = [r for r in rows if r["url"] is None]
                assert len(bare) == 1 and len(rows) == 5
                assert bare[0]["title"] is bare[0]["description"] is None
            hits += bool(rows)

            again = fn(q)  # composed from scratch: built once, same rows
            made.clear()
            assert again.count() == len(rows)
            relation = again._relation
            renamed = again.withColumnRenamed("score", "s").collect()
            assert [tuple(r) for r in renamed] == [tuple(r) for r in rows]
            assert "LocalTableScan" in _plan(again)
            assert again._relation is relation
            assert len(made) == (1 if rows else 0), name
            assert again.collect() == rows
    assert regime_of == {"driver": "driver", "merge": "merge"}
    assert hits >= 10
