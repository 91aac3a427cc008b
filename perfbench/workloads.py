"""The benchmark's workloads, their output checks and, for the traced run,
the per-layer probes.

Both workloads drive the engine only through its public calls
(``build_index``, ``BM25Index``, ``incremental_index_update``,
``refresh_derived_delta``) on a corpus generated from the run's seed. Both
run the write path in set-up (build, then one ingest batch made visible)
and then serve from that index, so they return the same end-to-end
figures; ``spec.json`` says what each figure means per workload.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from querygen import FOLDED, distinct_batch, zipf_stream
from spans import SparkRest, Tracer, traced_parquet_writes

from search_engine_tr_spark.functions.codec import decode_block, encode_block
from search_engine_tr_spark.functions.text import normalize_query
from search_engine_tr_spark.operators.query_bm25 import BM25Index
from search_engine_tr_spark.operators.wand import exhaustive_topk, wand_topk
from search_engine_tr_spark.oracle.htmltext import extract_text, tokenize
from search_engine_tr_spark.oracle.refscore import bm25_idf
from search_engine_tr_spark.plans.index_build import build_index
from search_engine_tr_spark.sources.synth import (build_vocab, pages_df_dist,
                                                  reference_queries)
from search_engine_tr_spark.streaming.incremental import (
    incremental_index_update, refresh_derived_delta)

TABLES = ("doc_map", "postings", "pages_text", "doc_meta", "links",
          "blocks", "term_stats")

# serve-seq's warm-up: the first result-page queries of a fresh JVM run
# ~40% slower than later ones (JIT, first-use code paths), and a run only
# holds a dozen queries, so the path is warmed before timing starts with
# five reference queries that have hits
WARM_QUERIES = ["haber", "istanbul spor ekonomi", "çocuk", "ve bir bu",
                "deniz dağ orman yemek"]

# operations a run sends however slow they are, so that a median exists
MIN_OPS = 3


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    size: dict
    tracer: Tracer
    rest: SparkRest | None = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    op_lat: list = field(default_factory=list)   # seconds per operation
    layer: dict = field(default_factory=dict)    # per-layer metrics so far
    report: dict = field(default_factory=dict)   # workload-named figures
    # id(reader) → (reader, terms it has seen); holding the reader keeps
    # its id from being reused by a later one
    seen: dict = field(default_factory=dict)
    term_df: dict = field(default_factory=dict)  # term → df, traced run

    @property
    def traced(self) -> bool:
        return self.rest is not None

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])


def du(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``path`` whose names end with ``suffix``;
    hidden ``.crc`` and ``_SUCCESS`` side files are skipped."""
    total = n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")) or not f.endswith(suffix):
                continue
            total += os.path.getsize(os.path.join(d, f))
            n += 1
    return total, n


def median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def live_words(vocab: list[str]) -> set[str]:
    """Vocabulary words the query path keeps unchanged."""
    return {w for w in vocab if not FOLDED & set(w)}


# ---------------------------------------------------------------- set-up

def make_corpus(run: Run, n_batches: int) -> tuple[str, list[str]]:
    """Base pages plus ``n_batches`` fresh ingest batches, generated once
    with the engine's distributed synthesizer and split by page number."""
    n_base, per = run.size["pages"], run.size["ingest_pages"]
    path = os.path.join(run.work, "corpus")
    page_no = F.regexp_extract("url", r"sayfa-(\d+)$", 1).cast("int")
    part = F.when(page_no < n_base, 0).otherwise(
        F.floor((page_no - n_base) / per) + 1)
    with run.tracer.span("corpus"):
        (pages_df_dist(run.spark, n_base + n_batches * per, seed=run.seed)
         .withColumn("part", part)
         .write.partitionBy("part").parquet(path))
    return (os.path.join(path, "part=0"),
            [os.path.join(path, f"part={b + 1}") for b in range(n_batches)])


def build(run: Run, pages_path: str, index_dir: str) -> tuple[dict, float]:
    """``build_index`` with the build job's defaults (text, meta, links and
    skew metrics on); in the traced run each table write is a span."""
    pages = run.spark.read.parquet(pages_path)
    writes = traced_parquet_writes(run.tracer) if run.traced else nullcontext()
    t0 = time.perf_counter()
    with run.tracer.span("build") as sp, writes:
        meta = build_index(run.spark, pages, index_dir,
                           n_shards=run.size["n_shards"],
                           term_buckets=run.size["term_buckets"])
    dt = time.perf_counter() - t0
    if sp is not None:
        for t in TABLES:
            run.layer[f"index_build.{t}_s"] = sum(
                s["dur"] for s in run.tracer.children(sp, "write:" + t))
            run.layer[f"index_build.bytes_per_page.{t}"] = (
                du(os.path.join(index_dir, t))[0] / run.size["pages"])
    return meta, dt


def open_reader(run: Run, index_dir: str):
    with run.tracer.span("query_bm25.open"):
        idx = BM25Index(run.spark, index_dir)
    run.seen[id(idx)] = (idx, set())
    return idx


_WORD = re.compile(r"[^\W\d_]+")


def probe_term(spark, batch_path: str, live: set[str]) -> str | None:
    """A word of one batch page's title that the query path keeps as is:
    searching it must return that page once the batch is visible."""
    row = spark.read.parquet(batch_path).select("html").first()
    html = bytes(row["html"]).decode("utf-8", errors="ignore")
    m = re.search(r"<title>(.*?)</title>", html, re.S)
    words = [w for w in _WORD.findall(m.group(1) if m else "") if w in live]
    return words[-1] if words else None


def ingest_batch(run: Run, index_dir: str, batch_path: str,
                 probe: str | None, prev: dict):
    """Append one batch, refresh the derived tables, open a new reader and
    wait until it answers with the batch's docs. → (reader, seconds)."""
    before = du(index_dir, ".parquet")
    t0 = time.perf_counter()
    with run.tracer.span("ingest") as sp:
        with run.tracer.span("incremental.append"):
            out = incremental_index_update(
                run.spark, run.spark.read.parquet(batch_path), index_dir,
                refresh_derived=False)
        with run.tracer.span("incremental.refresh"):
            refresh_derived_delta(run.spark, index_dir)
    idx = open_reader(run, index_dir)
    visible = True
    if probe is not None:
        hits = idx.search(probe, k=idx.n_docs).collect()
        visible = any(int(r["doc_id"]) > prev["max_doc"] for r in hits)
    dt = time.perf_counter() - t0
    per = run.size["ingest_pages"]
    if out.get("new_docs") != per or idx.n_docs != prev["n_docs"] + per:
        run.fail(f"ingest: new_docs {out.get('new_docs')}, n_docs "
                 f"{prev['n_docs']} -> {idx.n_docs}, batch {per}")
    if not visible:
        run.fail(f"ingest: probe {probe!r} found no doc of the batch")
    if sp is not None:
        after = du(index_dir, ".parquet")
        sp.update(files_added=after[1] - before[1],
                  bytes_per_page=(after[0] - before[0]) / per)
    return idx, dt


def serve_setup(run: Run, vocab: list[str]):
    """The write path, then a warm reader: corpus, ``build_index``, one
    fresh batch ingested until a new reader answers with it, and the
    reader's term memo filled with the vocabulary head.
    → (reader, base pages path, write-path figures)."""
    base, batches = make_corpus(run, 1)
    index_dir = os.path.join(run.work, "index")
    meta, build_s = build(run, base, index_dir)
    prev = {"n_docs": int(meta["n_docs"]),
            "max_doc": int(meta["derived_max_doc_id"])}
    run.attempted += 1
    idx, fresh_s = ingest_batch(
        run, index_dir, batches[0],
        probe_term(run.spark, batches[0], live_words(vocab)), prev)
    # a serving reader is warm when the head of the vocabulary is in its
    # per-term memo: one search_many over the head words looks them all up
    head = vocab[:run.size["warm_terms"]]
    note_terms(run, idx, head, None)
    idx.search_many(head, k=10).collect()
    pages = run.size["pages"] + run.size["ingest_pages"]
    return idx, base, {"build_docs_per_s": run.size["pages"] / build_s,
                       "fresh_s": fresh_s,
                       "index_bytes_per_page": du(index_dir)[0] / pages}


# ------------------------------------------------------------- the loop

def closed_loop(run: Run, step) -> int:
    """One client: call ``step(i)`` (→ seconds) until ``seconds`` have passed,
    at least ``MIN_OPS`` times. → operations sent."""
    deadline = time.perf_counter() + run.seconds
    i = 0
    while i < MIN_OPS or time.perf_counter() < deadline:
        run.attempted += 1
        try:
            run.op_lat.append(step(i))
        except Exception as e:  # an engine failure is a failed operation
            run.fail(f"op {i}: {type(e).__name__}: {e}")
        i += 1
    return i


def note_terms(run: Run, idx, queries: list[str], sp: dict | None) -> None:
    """Traced run only: the terms of ``queries`` and how many of them the
    reader has not seen yet (its per-term memo misses)."""
    if not run.traced:
        return
    seen = run.seen[id(idx)][1]
    terms = [idx.query_terms(q) for q in queries]
    new = {t for ts in terms for t in ts} - seen
    seen |= new
    if sp is not None:
        sp.update(terms=terms, new_terms=len(new))


def search_op(run: Run, idx, q: str) -> tuple[list, float]:
    """search_with_meta → collect as one operation, with the call (query
    planning plus the term lookup job for unseen terms) and the collect
    (block scan, top-k and metadata joins) as spans. → (rows, seconds)."""
    t0 = time.perf_counter()
    with run.tracer.span("op") as sp:
        note_terms(run, idx, [q], sp)
        with run.tracer.span("query_bm25.call"):
            df = idx.search_with_meta(q, k=10)
        with run.tracer.span("query_bm25.collect"):
            rows = df.collect()
    return rows, time.perf_counter() - t0


# ---------------------------------------------------------------- checks

def _pairs(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def check_modes(run: Run, idx, q: str, got: list[tuple[int, float]]) -> None:
    """The top-k a workload got for ``q`` must equal the exhaustive
    scorer's exactly (doc_id and score)."""
    run.attempted += 1
    try:
        want = _pairs(idx.search(q, k=10, mode="exhaustive").collect())
    except Exception as e:
        run.fail(f"check {q!r}: {type(e).__name__}: {e}")
        return
    if got != want:
        run.fail(f"check {q!r}: wand {got[:3]} != exhaustive {want[:3]}")


# ------------------------------------------------------------- workloads

def serve_seq(run: Run) -> dict:
    vocab = build_vocab(seed=run.seed)
    t0 = time.perf_counter()
    idx, base, fig = serve_setup(run, vocab)
    for q in WARM_QUERIES:
        note_terms(run, idx, [q], None)
        idx.search_with_meta(q, k=10).collect()
    fig["setup_s"] = time.perf_counter() - t0

    stream = zipf_stream(run.seed, vocab, reference_queries())
    sent: list[tuple[str, list]] = []

    def step(i):
        q = next(stream)
        rows, dt = search_op(run, idx, q)
        sent.append((q, rows))
        if any(r["url"] is None for r in rows):
            run.fail(f"query {q!r}: a hit without a url")
        return dt

    closed_loop(run, step)
    for q, rows in [x for x in sent if x[1]][:run.size["check_queries"]]:
        check_modes(run, idx, q, _pairs(rows))
    if run.traced:
        trace_layers(run, idx, base, [q for q, _ in sent])
    p50 = statistics.median(run.op_lat) * 1e3
    run.report.update(
        query_p50_ms=p50, queries=len(sent),
        no_hit_share=sum(not r for _, r in sent) / max(1, len(sent)))
    return {**fig, "op_p50_ms": p50}


def serve_batch(run: Run) -> dict:
    vocab, ref = build_vocab(seed=run.seed), reference_queries()
    size, skip = run.size["batch_queries"], run.size["warm_terms"]

    def batch(i):
        return distinct_batch(run.seed, i, vocab, ref, size, skip)

    t0 = time.perf_counter()
    idx, base, fig = serve_setup(run, vocab)
    # warm the batch path with one batch the loop never sends (batch -1)
    warm = batch(-1)
    note_terms(run, idx, warm, None)
    idx.search_many(warm, k=10).collect()
    fig["setup_s"] = time.perf_counter() - t0

    first: dict[str, list] = {}
    answered = []   # queries of each batch that got rows

    def step(i):
        qs = batch(i)
        t0 = time.perf_counter()
        with run.tracer.span("op") as sp:
            note_terms(run, idx, qs, sp)
            with run.tracer.span("query_bm25.call"):
                df = idx.search_many(qs, k=10)
            with run.tracer.span("query_bm25.collect"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        answered.append(len({r["query"] for r in rows}))
        if i == 0:
            for r in rows:
                first.setdefault(r["query"], []).append(
                    (int(r["doc_id"]), float(r["score"])))
        return dt

    n = closed_loop(run, step)
    # search_many must answer each sampled query exactly like search does,
    # and both like the exhaustive scorer
    for q in sorted(first)[:run.size["check_queries"]]:
        run.attempted += 1
        single = _pairs(idx.search(q, k=10).collect())
        if single != first[q]:
            run.fail(f"search_many {q!r}: {first[q][:3]} != search "
                     f"{single[:3]}")
        check_modes(run, idx, q, first[q])
    if run.traced:
        trace_layers(run, idx, base, batch(0))
    qps = size / statistics.median(run.op_lat)
    run.report.update(
        batch_qps=qps, batches=n, batch_queries=size,
        no_hit_share=1 - sum(answered) / max(1, size * len(answered)))
    return {**fig, "op_p50_ms": 1e3 * size / qps}


WORKLOADS = {"serve-seq": serve_seq, "serve-batch": serve_batch}


# ------------------------------------------------------- traced-run probes

def _blocks_by_query(run: Run, idx, queries: list[str]):
    """Driver-side copy of the blocks the index holds for ``queries``.
    → ({query: [per shard: [(idf, [(max_doc, max_tfnorm, buf)])]]},
    all block buffers)."""
    qterms = {q: idx.query_terms(q) for q in queries}
    terms = sorted({t for ts in qterms.values() for t in ts})
    rows = (run.spark.read.parquet(idx.paths.blocks)
            .filter(F.col("term").isin(terms))
            .select("term", "shard", "n", "max_doc_id", "max_tfnorm",
                    "avgdl0", "block").collect())
    df: dict[str, int] = {}
    per: dict[tuple, list] = {}
    for r in rows:
        df[r["term"]] = df.get(r["term"], 0) + int(r["n"])
        # same bound rescale as the reader applies to delta blocks
        per.setdefault((r["term"], r["shard"]), []).append(
            (int(r["max_doc_id"]),
             float(r["max_tfnorm"]) * max(1.0, idx.avgdl / r["avgdl0"]),
             bytes(r["block"])))
    shards = sorted({s for _, s in per})
    out = {q: [[(bm25_idf(idx.n_docs, df[t]), sorted(per[(t, s)]))
                for t in ts if (t, s) in per] for s in shards]
           for q, ts in qterms.items()}
    return out, [b for v in per.values() for _, _, b in v]


def _rate(fn, items, min_s: float = 0.2) -> float:
    """Items ``fn`` processes per second, over at least ``min_s``."""
    if not items:
        return 0.0
    n, t0 = 0, time.perf_counter()
    while True:
        for x in items:
            fn(x)
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n / dt


def trace_layers(run: Run, idx, pages_path: str, queries: list[str]) -> None:
    """Driver-side probes of single layers on this workload's own inputs:
    the WAND and exhaustive kernels and the block codec on the blocks the
    index holds for the workload's queries, the text layer on its pages,
    and the term df table for postings-per-query."""
    sample = queries[:20]
    by_q, bufs = _blocks_by_query(run, idx, sample)
    for name, kernel in (("topk", wand_topk), ("exhaustive", exhaustive_topk)):
        t0 = time.perf_counter()
        for shards in by_q.values():
            for tb in shards:
                if tb:
                    kernel(tb, 10, idx.avgdl)
        run.layer[f"wand.{name}_ms_per_query"] = (
            (time.perf_counter() - t0) * 1e3 / max(1, len(by_q)))
    mb_per_block = sum(len(b) for b in bufs) / 1e6 / max(1, len(bufs))
    run.layer["codec.decode_mb_per_s"] = (
        _rate(decode_block, bufs) * mb_per_block)
    decoded = [decode_block(b) for b in bufs]
    run.layer["codec.encode_mb_per_s"] = (
        _rate(lambda d: encode_block(*d), decoded) * mb_per_block)
    html = [bytes(r["html"]).decode("utf-8", errors="ignore")
            for r in run.spark.read.parquet(pages_path).select("html")
            .limit(100).collect()]
    run.layer["text.tokenize_pages_per_s"] = _rate(tokenize, html)
    run.layer["text.extract_pages_per_s"] = _rate(extract_text, html)
    run.layer["text.normalize_query_us"] = 1e6 / _rate(normalize_query,
                                                         sample)
    run.term_df = {r["term"]: int(r["df"]) for r in (
        run.spark.read.parquet(idx.paths.term_stats)
        .groupBy("term").agg(F.sum("df").alias("df")).collect())}


def layer_metrics(run: Run, jobs: list[dict], stages: dict) -> dict:
    """Fold the spans and Spark's job/stage data into per-layer metrics."""
    tr = run.tracer
    ops = tr.named("op")
    df = run.term_df
    nq = sum(len(s["terms"]) for s in ops)
    q = run.rest.span_totals(ops, jobs, stages)

    def ms(name):
        return median_or_zero(s["dur"] * 1e3 for s in tr.named(name))

    m = {
        "query_bm25.open_ms": ms("query_bm25.open"),
        "query_bm25.call_ms": ms("query_bm25.call"),
        "query_bm25.collect_ms": ms("query_bm25.collect"),
        "query_bm25.new_terms_per_query":
            sum(s["new_terms"] for s in ops) / max(1, nq),
        "query_bm25.postings_per_query": sum(
            df.get(t, 0) for s in ops for ts in s["terms"] for t in ts
        ) / max(1, nq),
        "spark.jobs_per_query": q["jobs"] / max(1, nq),
        "spark.tasks_per_query": q["tasks"] / max(1, nq),
    }
    for span in ("build", "ingest"):
        spans = tr.named(span)
        tot = run.rest.span_totals(spans, jobs, stages)
        k = max(1, len(spans))
        m[f"spark.{span}.executor_run_s"] = tot["executor_run_s"] / k
        m[f"spark.{span}.core_busy_ratio"] = tot["core_busy_ratio"]
        m[f"spark.{span}.shuffle_write_mb"] = tot["shuffle_write_mb"] / k
        m[f"spark.{span}.spill_mb"] = tot["spill_mb"] / k
    ingests = tr.named("ingest")
    m["incremental.append_s"] = ms("incremental.append") / 1e3
    m["incremental.refresh_s"] = ms("incremental.refresh") / 1e3
    m["incremental.files_added"] = median_or_zero(
        s["files_added"] for s in ingests)
    m["incremental.bytes_per_page"] = median_or_zero(
        s["bytes_per_page"] for s in ingests)
    m["setup.corpus_s"] = ms("corpus") / 1e3
    m.update(run.layer)
    m["trace.op_p50_ms"] = statistics.median(run.op_lat) * 1e3
    return m
