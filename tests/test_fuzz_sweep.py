"""Multi-seed engine parity sweep — slow, env-gated (SETR_FUZZ=1).

Fresh synthetic corpora per seed: (1) built-index postings must be
tf-identical to the pure-Python oracle's index_rows, (2) block-max WAND
must equal exhaustive scoring on every reference query. Run in round 3
over seeds (11, 23, 37, 58, 71) / ~60k postings: zero failures.
"""

import os
import shutil

import pytest

pytestmark = pytest.mark.skipif(
    not os.environ.get("SETR_FUZZ"),
    reason="slow multi-seed sweep; set SETR_FUZZ=1")


@pytest.mark.parametrize("seed", [11, 23, 37, 58, 71])
def test_fresh_corpus_parity(spark, tmp_path, seed):
    from search_engine_tr_spark.operators.query_bm25 import BM25Index
    from search_engine_tr_spark.oracle.htmltext import index_rows
    from search_engine_tr_spark.plans.index_build import build_index
    from search_engine_tr_spark.sources.synth import (gen_pages, pages_df,
                                                      reference_queries)

    out = str(tmp_path / f"ix_{seed}")
    shutil.rmtree(out, ignore_errors=True)
    build_index(spark, pages_df(spark, 120, seed=seed), out, n_shards=4,
                term_buckets=8)

    py_tf = {}
    for p in gen_pages(120, seed=seed):
        html = bytes(p["html"]).decode("utf-8", errors="ignore")
        for url, word, freq, _loc, _tag in index_rows(p["url"], html):
            py_tf[(url, word)] = freq
    sp = (spark.read.parquet(out + "/postings")
          .join(spark.read.parquet(out + "/doc_map"), "doc_id").collect())
    assert {(r["url"], r["term"]): r["tf"] for r in sp} == py_tf

    idx = BM25Index(spark, out)
    for q in reference_queries():
        w = [(r["doc_id"], round(r["score"], 10))
             for r in idx.search(q, k=10, mode="wand").collect()]
        e = [(r["doc_id"], round(r["score"], 10))
             for r in idx.search(q, k=10, mode="exhaustive").collect()]
        assert w == e, (seed, q)


@pytest.mark.parametrize("seed,cut", [(13, 10), (29, 25), (47, 39)])
def test_stream_ingest_split_invariance(spark, tmp_path, seed, cut):
    """Ingest invariant under arbitrary wave splits: streaming a corpus in
    as (bootstrap wave, append wave) — any cut point — must yield the same
    BM25 results as one from-scratch build. Catches order-dependent doc-id
    or corpus-stat bugs the fixed-split test can't."""
    from search_engine_tr_spark.operators.query_bm25 import BM25Index
    from search_engine_tr_spark.plans.index_build import build_index
    from search_engine_tr_spark.sources.synth import (gen_pages,
                                                      pages_schema,
                                                      reference_queries)
    from search_engine_tr_spark.streaming.incremental import \
        stream_ingest_index

    pages = gen_pages(50, seed=seed)
    src = str(tmp_path / "src")
    ix, ck = str(tmp_path / "ix"), str(tmp_path / "ck")

    def _wave(rows):
        spark.createDataFrame(rows, schema=pages_schema()) \
            .coalesce(1).write.mode("append").parquet(src)

    _wave(pages[:cut])
    stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8)
    _wave(pages[cut:])
    stream_ingest_index(spark, src, ix, ck, n_shards=4, term_buckets=8)

    fresh = str(tmp_path / "fresh")
    build_index(spark, spark.createDataFrame(pages, schema=pages_schema()),
                fresh, n_shards=4, term_buckets=8)

    got_idx, want_idx = BM25Index(spark, ix), BM25Index(spark, fresh)
    checked = 0
    for q in reference_queries()[:8]:
        got = {(r["url"], round(r["score"], 6))
               for r in got_idx.search_with_urls(q, k=50).collect()}
        want = {(r["url"], round(r["score"], 6))
                for r in want_idx.search_with_urls(q, k=50).collect()}
        assert got == want
        checked += len(want)
    assert checked > 0  # non-vacuous: at least one query matched docs


@pytest.mark.skipif(os.environ.get("SETR_FUZZ") != "1",
                    reason="set SETR_FUZZ=1 for the slow sweeps")
def test_gate_queries_under_adversarial_session_timezone():
    """The driver's Spark session timezone is not ours to set. Run the
    time-touching gate entries (plus the production BM25 paths) under a
    BARE session pinned to Pacific/Kiritimati (UTC+14) in a subprocess —
    a fresh in-process session would silently reuse the conftest one —
    and compare against the DuckDB oracles. Guards the timestampdiff /
    F.window / NTZ conventions the entries rely on."""
    import subprocess
    import sys

    code = r'''
import sys, math, os
sys.path.insert(0, "/root/repo"); os.environ["PYTHONPATH"]="/root/repo"
import duckdb
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "Pacific/Kiritimati")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)
Q, O = e.queries(), e.oracle_sql()
names = ["attribution_join", "stream_dedup", "asof_join", "range_join",
         "tumbling_window", "hopping_window", "session_windows",
         "sessionized_counts", "moving_avg", "lag_window",
         "bm25_blocks", "bm25_blocks_incremental"]
bad = []
for n in names:
    df = Q[n](spark, SF); rows = df.collect(); cols = df.columns
    res = con.execute(O[n]); ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    oidx = sorted(range(len(ocols)), key=lambda i: ocols[i])
    g = sorted(tuple(norm(r[cols[i]]) for i in idx) for r in rows)
    w = sorted(tuple(norm(r[i]) for i in oidx) for r in orows)
    if sorted(cols) != sorted(ocols) or g != w:
        bad.append(n)
print("TZBAD:" + ",".join(bad))
'''
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=540)
    assert r.returncode == 0, r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("TZBAD:")]
    assert line and line[0] == "TZBAD:", (line, r.stdout[-500:])
