"""End-to-end link-graph pipeline: build_index materializes doc_meta +
links, refresh_domain_scores turns links into persisted authority, and the
query paths (search_with_meta, search_blended) consume them — no
hand-assembly. Parity checks run against the pure-python oracle."""

import math
import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_tr_spark.operators.query_bm25 import BM25Index
from search_engine_tr_spark.oracle.htmltext import (base_url, extract_links,
                                                    parse_document)
from search_engine_tr_spark.plans.backlinks import refresh_domain_scores


@pytest.fixture(scope="module")
def tiny_index(tiny_index, tmp_path_factory):
    """This module's own copy of the shared index: its tests write
    ``domain_scores`` into it, and the shared index must keep no such table
    (test_engine_e2e checks the missing-table fallback)."""
    out = str(tmp_path_factory.mktemp("linkgraph") / "index")
    shutil.copytree(tiny_index[0], out)
    return out, tiny_index[1]


def _decode(b):
    return bytes(b).decode("utf-8", errors="ignore")


def test_doc_meta_byte_parity(spark, tiny_pages, tiny_index):
    out, _ = tiny_index
    got = {r["url"]: (r["title"], r["description"])
           for r in spark.read.parquet(out + "/doc_meta").collect()}
    assert len(got) == len(tiny_pages)
    for p in tiny_pages:
        doc = parse_document(_decode(p["html"]))
        title = doc.title.strip() if doc.title else None
        expected = (title if title else None, doc.description)
        assert got[p["url"]] == expected, p["url"]


def test_links_table_parity(spark, tiny_pages, tiny_index):
    out, _ = tiny_index
    got = {}
    for r in spark.read.parquet(out + "/links").collect():
        got.setdefault(r["source_url"], []).append(
            (r["link_type"], r["target_url"], r["anchor_text"]))
    n_expected = 0
    for p in tiny_pages:
        links = extract_links(p["url"], _decode(p["html"]))
        n_expected += len(links)
        expected = sorted((t, href, anchor) for t, _, href, anchor in links)
        assert sorted(got.get(p["url"], [])) == expected, p["url"]
    assert sum(len(v) for v in got.values()) == n_expected


def _py_indegree(links_rows):
    """Pure-python mirror of backlink_analyser.py:29-62 over EXTERNAL links:
    +1 to base(target) unless same domain or same last-2 host labels."""

    def suffix(base):
        host = base.split("://", 1)[1]
        labels = host.split(".")
        return ".".join(labels[-2:]) if len(labels) >= 2 else host

    counts = {}
    for src, ltype, dst in links_rows:
        if ltype != "EXTERNAL":
            continue
        bs, bt = base_url(src), base_url(dst)
        if bs == bt or suffix(bs) == suffix(bt):
            continue
        counts[bt] = counts.get(bt, 0) + 1
    return counts


def test_domain_scores_match_python_oracle(spark, tiny_index):
    out, _ = tiny_index
    info = refresh_domain_scores(spark, out, mode="indegree")
    rows = [(r["source_url"], r["link_type"], r["target_url"])
            for r in spark.read.parquet(out + "/links").collect()]
    expected = _py_indegree(rows)
    got = {r["domain"]: r["score"]
           for r in spark.read.parquet(out + "/domain_scores").collect()}
    assert got == {d: float(c) for d, c in expected.items()}
    assert info["n_domains"] == len(expected) > 0


def test_domain_scores_pagerank_mode(spark, tiny_index):
    out, _ = tiny_index
    refresh_domain_scores(spark, out, mode="pagerank", max_iter=10)
    got = {r["domain"]: r["score"]
           for r in spark.read.parquet(out + "/domain_scores").collect()}
    assert got and abs(sum(got.values()) - 1.0) < 1e-6  # Σ rank = 1
    assert all(v > 0 for v in got.values())
    # restore indegree scores for the blended-search tests below
    refresh_domain_scores(spark, out, mode="indegree")


def test_search_with_meta_attaches_title_description(spark, tiny_pages,
                                                     tiny_index):
    out, _ = tiny_index
    idx = BM25Index(spark, out)
    hits = idx.search_with_meta("haber spor", k=5).collect()
    assert 0 < len(hits) <= 5
    by_url = {p["url"]: p for p in tiny_pages}
    for h in hits:
        doc = parse_document(_decode(by_url[h["url"]]["html"]))
        title = doc.title.strip() if doc.title else None
        assert h["title"] == (title if title else None)
        assert h["description"] == doc.description


def test_reference_rank_consumes_persisted_scores(spark, tiny_pages_df,
                                                  tiny_index):
    """The standing pipeline end-to-end: build → links → persisted
    domain_scores → parity ranker, no hand-assembled inputs."""
    from search_engine_tr_spark.operators.refrank import (page_seq_map,
                                                          reference_rank)

    out, _ = tiny_index
    refresh_domain_scores(spark, out, mode="indegree")
    persisted = spark.read.parquet(out + "/domain_scores")
    postings = spark.read.parquet(out + "/postings")
    doc_meta = (spark.read.parquet(out + "/doc_map")
                .join(page_seq_map(tiny_pages_df), "url"))
    got = reference_rank(postings, doc_meta, "haber spor",
                         domain_scores=persisted, k=10).collect()
    assert got and got[0]["pinned"]
    assert [r["rank"] for r in got] == list(range(len(got)))


def test_search_blended_alpha_zero_is_plain_bm25(spark, tiny_index):
    out, _ = tiny_index
    idx = BM25Index(spark, out)
    plain = [(r["doc_id"], r["score"])
             for r in idx.search("haber istanbul", k=5).collect()]
    blended = [(r["doc_id"], r["score"])
               for r in idx.search_blended("haber istanbul", k=5,
                                           alpha=0.0).collect()]
    assert blended == plain


def test_search_blended_with_meta(spark, tiny_index):
    out, _ = tiny_index
    idx = BM25Index(spark, out)
    rows = idx.search_blended("haber spor", k=5, alpha=0.1,
                              with_meta=True).collect()
    assert rows
    assert set(rows[0].asDict()) == {"doc_id", "url", "score", "bm25",
                                     "authority", "title", "description"}


def test_search_blended_authority_and_formula(spark, tiny_index):
    out, _ = tiny_index
    refresh_domain_scores(spark, out, mode="indegree")
    idx = BM25Index(spark, out)
    scores = {r["domain"]: r["score"]
              for r in spark.read.parquet(out + "/domain_scores").collect()}
    hits = idx.search_blended("haber istanbul", k=10, alpha=0.25).collect()
    assert hits
    ordered = [(r["score"], -r["doc_id"]) for r in hits]
    assert ordered == sorted(ordered, reverse=True)
    for h in hits:
        expected_auth = scores.get(base_url(h["url"]), 0.0)
        assert h["authority"] == expected_auth
        assert h["score"] == pytest.approx(
            h["bm25"] * (1.0 + 0.25 * math.log1p(expected_auth)))


def test_delta_domain_scores_refresh(spark, tmp_path, monkeypatch):
    """Data-proportional domain-scores refresh (round 5): only link files
    appended since the last refresh are read; merged counts equal a full
    recompute exactly. Crash between the scores write and the sidecar
    commit, and a links compaction, both heal via full-recompute
    fallback."""
    from search_engine_tr_spark.plans import backlinks as bl
    from search_engine_tr_spark.plans.index_build import build_index
    from search_engine_tr_spark.sources.synth import gen_pages, pages_schema
    from search_engine_tr_spark.streaming.incremental import \
        incremental_index_update

    pages = gen_pages(80, seed=73)
    ix = str(tmp_path / "ix")
    build_index(spark, spark.createDataFrame(pages[:50],
                                             schema=pages_schema()),
                ix, n_shards=4, term_buckets=8)

    def _scores():
        return {r["domain"]: r["score"] for r in
                spark.read.parquet(ix + "/domain_scores").collect()}

    m0 = bl.refresh_domain_scores(spark, ix, delta=True)
    assert m0["full"]  # first delta call baselines with a full pass
    incremental_index_update(
        spark, spark.createDataFrame(pages[50:65], schema=pages_schema()), ix)
    m1 = bl.refresh_domain_scores(spark, ix, delta=True)
    assert m1.get("delta_files", 0) >= 1 and "full" not in m1
    got = _scores()
    bl.refresh_domain_scores(spark, ix)  # full recompute as the oracle
    assert got == _scores()

    # no-op when nothing new
    m2 = bl.refresh_domain_scores(spark, ix, delta=True)
    assert m2["delta_files"] == 0

    # crash window A: scores overwritten, meta sidecar not -> gen/meta
    # mismatch -> next delta run falls back to full and stays exact
    incremental_index_update(
        spark, spark.createDataFrame(pages[65:], schema=pages_schema()), ix)
    real_write_json = bl.fsio.write_json

    def fail_meta(spark_, path, obj):
        if path.endswith("_scores_meta.json"):
            raise RuntimeError("injected crash before meta sidecar")
        return real_write_json(spark_, path, obj)

    import pytest as _pytest
    monkeypatch.setattr(bl.fsio, "write_json", fail_meta)
    with _pytest.raises(RuntimeError, match="injected crash"):
        bl.refresh_domain_scores(spark, ix, delta=True)
    monkeypatch.setattr(bl.fsio, "write_json", real_write_json)
    m3 = bl.refresh_domain_scores(spark, ix, delta=True)
    assert m3["full"]
    got_all = _scores()
    bl.refresh_domain_scores(spark, ix)
    assert got_all == _scores()

    # crash window B (the round-5 review finding): the NEW gen marker is
    # committed but the process dies before the scores overwrite. Gen-
    # first ordering makes this window VISIBLE (gen != meta.gen), so the
    # replay re-baselines instead of double-counting the delta files.
    incremental_index_update(
        spark, spark.createDataFrame(gen_pages(90, seed=73)[80:],
                                     schema=pages_schema()), ix)

    def fail_after_gen(spark_, path, obj):
        real_write_json(spark_, path, obj)
        if path.endswith("_scores_gen.json"):
            raise RuntimeError("injected crash after gen marker")

    monkeypatch.setattr(bl.fsio, "write_json", fail_after_gen)
    with _pytest.raises(RuntimeError, match="injected crash"):
        bl.refresh_domain_scores(spark, ix, delta=True)
    monkeypatch.setattr(bl.fsio, "write_json", real_write_json)
    m3b = bl.refresh_domain_scores(spark, ix, delta=True)
    assert m3b["full"]  # mismatch detected -> re-baseline, not re-merge
    got_all = _scores()
    bl.refresh_domain_scores(spark, ix)
    assert got_all == _scores()

    # compaction fallback: rewriting the links table (old files vanish)
    # must trigger a full re-baseline, not a wrong delta
    links = spark.read.parquet(ix + "/links").localCheckpoint()
    links.coalesce(1).write.mode("overwrite").parquet(ix + "/links")
    m4 = bl.refresh_domain_scores(spark, ix, delta=True)
    assert m4["full"]
    assert got_all == _scores()

    # pagerank cannot delta
    with _pytest.raises(ValueError, match="additive"):
        bl.refresh_domain_scores(spark, ix, mode="pagerank", delta=True)
