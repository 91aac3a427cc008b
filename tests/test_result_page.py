"""The result-page path of BM25Index: small queries run their top-k kernel
on the driver and return rows identical to the distributed plan's; pages
attach metadata with one k-row ``doc_id IN (...)`` read; memo-hit pages
cost at most two Spark jobs and no-hit pages none; the per-term memo is a
bounded LRU."""

import contextlib
import io

import pytest

from search_engine_tr_spark.operators.query_bm25 import BM25Index
from search_engine_tr_spark.sources.synth import (gen_pages, pages_schema,
                                                  reference_queries)

DRIVER = 1 << 62   # every query fits: the driver path
DISTRIBUTED = -1   # no query fits: the applyInPandas path
NO_HIT = "zzzzz qqqqq"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
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


def test_result_page_job_budget(spark, tiny_index):
    """A memo-hit result page is one block fetch plus one k-row metadata
    fetch; a page whose terms are all absent launches no job at all."""
    idx = BM25Index(spark, tiny_index[0])
    for q in ("haber spor", NO_HIT):  # fill the term memo
        idx.search_with_meta(q, k=10).collect()
    rows, n = _jobs(spark, "page-hit",
                    lambda: idx.search_with_meta("haber spor").collect())
    assert rows and n <= 2
    for name, fn in (
            ("page", lambda: idx.search_with_meta(NO_HIT).collect()),
            ("urls", lambda: idx.search_with_urls(NO_HIT).collect()),
            ("search", lambda: idx.search(NO_HIT).collect()),
            ("many", lambda: idx.search_many([NO_HIT, "!!!"]).collect())):
        rows, n = _jobs(spark, "no-hit-" + name, fn)
        assert rows == [] and n == 0, name


def test_page_path_reads_k_rows_not_tables(spark, tiny_index, monkeypatch):
    """No Exchange, BroadcastExchange or SortMergeJoin over doc_map or
    doc_meta on the page path: the page frame itself is a local relation,
    and the metadata read is a pushed-down doc_id IN filter — on both
    top-k paths."""
    for cap in (DRIVER, DISTRIBUTED):
        monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", cap)
        idx = BM25Index(spark, tiny_index[0])
        for page in (idx.search_with_meta("haber spor", k=5),
                     idx.search_with_urls("haber spor", k=5)):
            p = _plan(page)
            assert "LocalTableScan" in p
            assert "Exchange" not in p and "Join" not in p
        ids = [r["doc_id"] for r in idx.search("haber spor", k=5).collect()]
        for table in ("doc_map", "doc_meta"):
            p = _plan(idx._by_ids(table, ids, ["url"]))
            assert "Exchange" not in p and "Join" not in p
            pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
            assert pushed and "In(doc_id" in pushed[0]


def test_driver_block_fetch_is_aqe_free_and_pruned(spark, tiny_index,
                                                  monkeypatch):
    """The one job of a small query reads only its terms' block partitions:
    the frame the driver path collects prunes term_bucket directories,
    pushes the term filter into the scan and runs without AQE."""
    monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", DRIVER)
    idx = BM25Index(spark, tiny_index[0])
    idx.search("haber spor", k=5)  # fill the term memo
    cls = type(idx._blocks)
    to_pandas = cls.toPandas
    plans = []

    def spy(df):
        plans.append(_plan(df))
        return to_pandas(df)

    monkeypatch.setattr(cls, "toPandas", spy)
    assert idx.search("haber spor", k=5).collect()
    assert len(plans) == 1
    p = plans[0]
    assert "AdaptiveSparkPlan" not in p and "Exchange" not in p
    parts = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert parts and "term_bucket" in parts[0]
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "In(term" in pushed[0]


def test_term_memo_is_a_bounded_lru(spark, tiny_index, monkeypatch):
    """A long run of distinct queries keeps the memo at its cap, and a term
    evicted from it resolves to the same df when it comes back."""
    out, _ = tiny_index
    monkeypatch.setattr(BM25Index, "_TERM_MEMO_MAX", 8)
    idx = BM25Index(spark, out)
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
