"""End-to-end Spark engine tests against the oracle on the tiny fixture:
byte-identical extraction, posting parity, BM25 rank/score parity (both
WAND and exhaustive paths), docID determinism."""

import pytest
from pyspark.sql import functions as F

from search_engine_tr_spark.operators.query_bm25 import BM25Index
from search_engine_tr_spark.oracle.htmltext import extract_text, tokenize
from search_engine_tr_spark.oracle.refscore import bm25_search
from search_engine_tr_spark.plans.docids import assign_doc_ids
from search_engine_tr_spark.plans.index_build import extract_pages
from search_engine_tr_spark.sources.synth import reference_queries


def _decode(b):
    return bytes(b).decode("utf-8", errors="ignore")


def test_extracted_text_byte_identical(spark, tiny_pages, tiny_pages_df):
    got = {r["url"]: r["text"]
           for r in extract_pages(tiny_pages_df).select("url", "text").collect()}
    for p in tiny_pages:
        expected = extract_text(_decode(p["html"]))
        assert got[p["url"]] == expected, p["url"]


def test_postings_parity_with_oracle(spark, tiny_pages, tiny_index):
    out, _ = tiny_index
    doc_map = {r["url"]: r["doc_id"]
               for r in spark.read.parquet(out + "/doc_map").collect()}
    engine = {}
    for r in spark.read.parquet(out + "/postings").collect():
        engine[(r["doc_id"], r["term"])] = (
            r["tf"], list(r["positions"]), list(r["tags"]))
    expected = {}
    for p in tiny_pages:
        occ = tokenize(_decode(p["html"]))
        did = doc_map[p["url"]]
        per = {}
        for w, loc, tag in occ:
            per.setdefault(w, []).append((loc, tag))
        for w, details in per.items():
            expected[(did, w)] = (
                len(details),
                [l for l, _ in details],
                [t for _, t in details],
            )
    assert engine == expected


def test_doc_ids_deterministic_and_dense(spark, tiny_pages_df):
    a = {r["url"]: r["doc_id"] for r in assign_doc_ids(tiny_pages_df).collect()}
    b = {r["url"]: r["doc_id"] for r in assign_doc_ids(tiny_pages_df).collect()}
    assert a == b
    ids = sorted(a.values())
    assert ids == list(range(len(ids)))  # dense 0..N-1


@pytest.fixture(scope="module")
def oracle_corpus(spark, tiny_pages, tiny_index):
    out, _ = tiny_index
    doc_map = {r["url"]: r["doc_id"]
               for r in spark.read.parquet(out + "/doc_map").collect()}
    return {
        doc_map[p["url"]]: [w for w, _, _ in tokenize(_decode(p["html"]))]
        for p in tiny_pages
    }


@pytest.mark.parametrize("mode", ["wand", "exhaustive"])
def test_bm25_rank_and_score_parity(spark, tiny_index, oracle_corpus, mode):
    out, _ = tiny_index
    idx = BM25Index(spark, out)
    corpus = {d: t for d, t in oracle_corpus.items() if t}
    for q in reference_queries():
        expected = bm25_search(corpus, q, k=10)
        got = [(r["doc_id"], r["score"])
               for r in idx.search(q, k=10, mode=mode).collect()]
        assert [d for d, _ in got] == [d for d, _ in expected], (q, mode)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-9, abs=1e-12), (q, gd)


def test_bm25_no_result_query(spark, tiny_index):
    out, _ = tiny_index
    idx = BM25Index(spark, out)
    assert idx.search("zzzzz qqqqq").count() == 0


def test_search_many_matches_individual(spark, tiny_index):
    """Batched N-queries-one-job path must return exactly the per-query
    results of the single-query path (incl. a no-hit query dropping out)."""
    out, _ = tiny_index
    idx = BM25Index(spark, out)
    qs = list(reference_queries())[:4] + ["zzzzz qqqqq"]
    batched = {}
    for r in idx.search_many(qs, k=10).collect():
        batched.setdefault(r["query"], []).append((r["doc_id"], r["score"]))
    for q in qs:
        single = [(r["doc_id"], r["score"])
                  for r in idx.search(q, k=10).collect()]
        assert batched.get(q, []) == single, q


def test_search_many_broadcast_lookup_path(spark, tiny_index, monkeypatch):
    """Forcing the big-batch term lookup (broadcast join instead of isin
    literals) must not change any result — the switch is purely a plan
    choice for 10k-query batches."""
    out, _ = tiny_index
    qs = list(reference_queries())[:4]
    idx_lit = BM25Index(spark, out)
    expected = sorted((r["query"], r["doc_id"], round(r["score"], 9))
                      for r in idx_lit.search_many(qs, k=10).collect())
    monkeypatch.setattr(BM25Index, "_ISIN_MAX", 0)
    idx_bc = BM25Index(spark, out)
    got = sorted((r["query"], r["doc_id"], round(r["score"], 9))
                 for r in idx_bc.search_many(qs, k=10).collect())
    assert got == expected
    # pruned term-stats mode exercises _buckets_of's big-batch branch too
    idx_pruned = BM25Index(spark, out, tstats_mode="pruned")
    got_p = sorted((r["query"], r["doc_id"], round(r["score"], 9))
                   for r in idx_pruned.search_many(qs, k=10).collect())
    assert got_p == expected


def test_search_with_urls(spark, tiny_index):
    out, _ = tiny_index
    idx = BM25Index(spark, out)
    rows = idx.search_with_urls("haber", k=5).collect()
    assert 0 < len(rows) <= 5
    assert all(r["url"] and r["url"].startswith("https://") for r in rows)


def test_blended_fallback_only_on_missing_table(spark, tiny_index, tmp_path):
    """Missing domain_scores → logged plain-BM25 fallback (authority=0);
    a CORRUPT domain_scores dir must RAISE, not silently serve zeros
    (round-3 review finding: the broad AnalysisException catch masked
    real read failures as 'table missing')."""
    import pytest
    from pyspark.errors import AnalysisException

    out, _ = tiny_index
    idx = BM25Index(spark, out)
    scores_dir = idx.paths.domain_scores
    assert not __import__("os").path.exists(scores_dir)
    rows = idx.search_blended("haber", k=3).collect()
    assert rows and all(r["authority"] == 0.0 for r in rows)

    # corrupt table: a dir with an unreadable 'parquet' file
    import os
    os.makedirs(scores_dir, exist_ok=True)
    with open(os.path.join(scores_dir, "part-garbage.parquet"), "wb") as f:
        f.write(b"not parquet at all")
    idx2 = BM25Index(spark, out)
    with pytest.raises(Exception):
        idx2.search_blended("haber", k=3).collect()
    import shutil
    shutil.rmtree(scores_dir)


def test_blended_missing_table_reads_no_parquet(spark, tiny_index,
                                                monkeypatch):
    """A missing domain_scores table is found by one filesystem probe: the
    blended call makes no Spark parquet read of it (which would log a JVM
    FileNotFoundException trace per call) and serves authority 0."""
    from pyspark.sql.readwriter import DataFrameReader

    out, _ = tiny_index
    idx = BM25Index(spark, out)
    reads = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    for _ in range(2):  # not memoized as missing: each call probes again
        rows = idx.search_blended("haber", k=3).collect()
        assert rows and all(r["authority"] == 0.0 for r in rows)
    assert not [p for p in reads if "domain_scores" in str(p)]


def test_build_metrics_sane(tiny_index):
    _, metrics = tiny_index
    assert metrics["n_docs"] > 0
    assert metrics["total_postings"] > metrics["n_docs"]
    assert metrics["avgdl"] > 1
    assert metrics["skew_shard"] < 3.0  # doc-hash sharding must be balanced
