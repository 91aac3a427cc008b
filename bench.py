#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Covers the engine's headline paths:
- synthetic-pages inverted-index build (docs/s, postings/s)
- BM25 top-k query latency over the built index (p50/p95 over the
  reference query set, block-max WAND path)
- representative operator queries from __spark_entry__ at $SPARK_GRAFT_SF_DIR

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_PAGES (default 12000 — synthetic index-build corpus size),
     BENCH_OUT (default /tmp/bench_index).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("PYTHONPATH", os.path.dirname(os.path.abspath(__file__)))

# shuffle/spill on tmpfs — the VM's virtio disk is rate-limited and makes
# wall-clock numbers noisy (see BENCH/BASELINE.md)
os.environ.setdefault("SPARK_LOCAL_DIR", "/dev/shm/spark-bench")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("BENCH_PAGES", "12000"))
OUT = os.environ.get("BENCH_OUT", "/tmp/bench_index")


def main() -> None:
    from search_engine_tr_spark.operators.query_bm25 import BM25Index
    from search_engine_tr_spark.plans.index_build import build_index
    from search_engine_tr_spark.session import get_spark
    from search_engine_tr_spark.sources.synth import (
        pages_df_dist, reference_queries)
    import __spark_entry__ as entry_mod

    spark = get_spark(app="bench", cores=CPUS, shuffle_partitions=CPUS)
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # -- index build over synthetic pages (generation NOT timed) ----------
    pages_path = f"{OUT}_pages_{N_PAGES}"
    if not os.path.exists(pages_path):
        pages_df_dist(spark, N_PAGES, seed=42).write.mode(
            "overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    shutil.rmtree(OUT, ignore_errors=True)
    t0 = time.monotonic()
    metrics = build_index(spark, pages, OUT, n_shards=CPUS, term_buckets=64)
    timings["index_build"] = time.monotonic() - t0
    extras["docs_per_sec"] = N_PAGES / timings["index_build"]
    extras["postings_per_sec"] = metrics["total_postings"] / timings["index_build"]

    # -- link-graph pipeline stages (round 2) ------------------------------
    from search_engine_tr_spark.plans.backlinks import refresh_domain_scores

    t0 = time.monotonic()
    refresh_domain_scores(spark, OUT, mode="indegree")
    timings["domain_scores"] = time.monotonic() - t0

    # -- BM25 query latency over the built index --------------------------
    idx = BM25Index(spark, OUT)
    lat = []
    qset = reference_queries() + ["haber spor", "ekonomi dünya türkiye"]
    idx.search("haber", k=10).collect()  # warm the reader paths
    for q in qset:
        t0 = time.monotonic()
        idx.search(q, k=10, mode="wand").collect()
        lat.append(time.monotonic() - t0)
    timings["bm25_query_total"] = sum(lat)
    extras["bm25_p50_ms"] = statistics.median(lat) * 1000
    extras["bm25_p95_ms"] = sorted(lat)[max(0, int(len(lat) * 0.95) - 1)] * 1000

    # batched multi-query throughput: one Spark job for the whole set.
    # 50 DISTINCT queries (search_many dedups raw queries, so repeating the
    # 12-query set would execute only 12 while dividing by 50 — the round-2
    # qps number was inflated ~4x that way); two-term combinations over the
    # corpus vocabulary keep every query live against the index.
    from search_engine_tr_spark.sources.synth import build_vocab
    vocab = build_vocab(seed=42)
    batch_qs = list(dict.fromkeys(
        qset + [f"{vocab[i]} {vocab[(i * 7 + 3) % 60]}" for i in range(60)]
    ))[:50]
    assert len(set(batch_qs)) == 50
    t0 = time.monotonic()
    idx.search_many(batch_qs, k=10).collect()
    timings["bm25_batch50"] = time.monotonic() - t0
    extras["bm25_batched_qps"] = len(set(batch_qs)) / timings["bm25_batch50"]
    extras["bm25_sequential_qps"] = len(lat) / sum(lat)

    # batch=1000 distinct queries: the broadcast-variable path's scaling
    # row — per-task cost must not grow with batch size beyond the WAND
    # work itself (the closure-capture version would pickle the whole
    # query map into every task)
    big_batch = list(dict.fromkeys(
        f"{vocab[i % 997]} {vocab[(i * 13 + 7) % 800]}" for i in range(1200)
    ))[:1000]
    assert len(set(big_batch)) == 1000
    t0 = time.monotonic()
    idx.search_many(big_batch, k=10).collect()
    timings["bm25_batch1000"] = time.monotonic() - t0
    extras["bm25_batch1000_qps"] = len(set(big_batch)) / timings["bm25_batch1000"]

    # blended + metadata result paths (post-limit joins; per-query latency)
    t0 = time.monotonic()
    idx.search_with_meta("haber spor", k=10).collect()
    timings["bm25_with_meta"] = time.monotonic() - t0
    t0 = time.monotonic()
    idx.search_blended("haber spor", k=10, alpha=0.1).collect()
    timings["bm25_blended"] = time.monotonic() - t0

    # phrase + snippet retrieval modes over the same index (round 4):
    # positional chain-join and post-limit highlight join get wall-time
    # rows like every other operator
    from search_engine_tr_spark.operators.phrase import phrase_search
    from search_engine_tr_spark.operators.snippets import search_with_snippets
    t0 = time.monotonic()
    phrase_search(spark, OUT, "istanbul spor", k=10).collect()
    timings["phrase_query"] = time.monotonic() - t0
    t0 = time.monotonic()
    search_with_snippets(idx, "haber spor", k=10).collect()
    timings["bm25_snippets"] = time.monotonic() - t0

    # -- EVERY gate query at SF_DIR (full round-over-round ladder) ---------
    qreg = entry_mod.queries()
    for name in sorted(qreg):
        t0 = time.monotonic()
        qreg[name](spark, SF_DIR).collect()
        timings[name] = time.monotonic() - t0

    total = sum(timings.values())
    print(json.dumps({
        "metric": "index-build + BM25 top-k + operator suite wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "extras": {k: round(v, 3) for k, v in extras.items()},
        "config": {"cpus": CPUS, "bench_pages": N_PAGES,
                   "total_postings": metrics["total_postings"]},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
