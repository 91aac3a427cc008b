#!/usr/bin/env python
"""Where the ingest's driver regime stops paying: the driver append against
the Spark append of one batch, at several batch sizes, on one base index.

Builds a base index of ``--base`` synthetic pages (4 shards, 8 term
buckets, perfbench's default shape), then, per batch size and repetition,
appends the next N pages of the same corpus to a fresh copy of that index
with ``incremental_index_update(refresh_derived=False)`` — once with the
driver regime forced (page, bytes and url-check caps lifted) and once with
the Spark regime forced (caps at -1), alternating which runs first. Prints
one JSON line per append and then a table of the median append seconds per
size, with the batch's Arrow size (url, html, lang: what the driver regime
collects and what ``_DRIVER_MAX_INGEST_BYTES`` caps).

Usage: python scripts/ingest_crossover.py [--sizes 50,200,500,1000,2000,4000]
           [--base 1000] [--reps 2] [--seed 5] [--work DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

CAPS = ("_DRIVER_MAX_INGEST_PAGES", "_DRIVER_MAX_INGEST_BYTES",
        "_DRIVER_MAX_URL_CHECK_ROWS")


def force(inc, regime: str) -> None:
    """Send every ingest to ``regime`` through the driver regime's caps
    (the page cap goes through DataFrame.limit, an int32)."""
    caps = (1 << 30, 1 << 62, 1 << 62) if regime == "driver" else (-1,) * 3
    for name, cap in zip(CAPS, caps):
        setattr(inc, name, cap)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sizes", default="50,200,500,1000,2000,4000")
    ap.add_argument("--base", type=int, default=1000)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--work", default=None,
                    help="working directory (default: a new temp dir)")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    from pyspark.sql import functions as F

    from search_engine_tr_spark.plans.index_build import build_index
    from search_engine_tr_spark.session import get_spark
    from search_engine_tr_spark.sources.synth import pages_df_dist
    from search_engine_tr_spark.streaming import incremental as inc

    work = args.work or tempfile.mkdtemp(prefix="ingest_crossover-")
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app="ingest_crossover", cores=cores,
                      shuffle_partitions=cores,
                      extra={"spark.driver.memory": "1g",
                             "spark.ui.showConsoleProgress": "false"})
    corpus = os.path.join(work, "corpus")
    page_no = F.regexp_extract("url", r"sayfa-(\d+)$", 1).cast("int")
    pages_df_dist(spark, args.base + max(sizes), seed=args.seed) \
        .withColumn("page_no", page_no).write.parquet(corpus)
    pages = spark.read.parquet(corpus)
    cols = [c for c in pages.columns if c != "page_no"]
    pages.filter(page_no < args.base).select(*cols) \
        .write.parquet(os.path.join(work, "base_pages"))
    for n in sizes:
        pages.filter((page_no >= args.base) & (page_no < args.base + n)) \
            .select(*cols).write.parquet(os.path.join(work, f"batch_{n}"))
    base_ix = os.path.join(work, "base_ix")
    build_index(spark, spark.read.parquet(os.path.join(work, "base_pages")),
                base_ix, n_shards=4, term_buckets=8)

    times: dict = {}
    arrow_mb = {}
    for rep in range(args.reps):
        for n in sizes:
            batch_path = os.path.join(work, f"batch_{n}")
            if n not in arrow_mb:
                arrow_mb[n] = spark.read.parquet(batch_path) \
                    .select("url", "html", "lang").toArrow().nbytes / 2 ** 20
            order = ("driver", "spark") if (rep + n) % 2 else ("spark",
                                                               "driver")
            for regime in order:
                ix = os.path.join(work, "ix")
                shutil.rmtree(ix, ignore_errors=True)
                shutil.copytree(base_ix, ix)
                force(inc, regime)
                t0 = time.perf_counter()
                out = inc.incremental_index_update(
                    spark, spark.read.parquet(batch_path), ix)
                dt = time.perf_counter() - t0
                assert out["new_docs"] == n, out
                times.setdefault((n, regime), []).append(dt)
                print(json.dumps({"pages": n, "regime": regime, "rep": rep,
                                  "append_s": round(dt, 3)}), flush=True)
    spark.stop()
    print("\n| pages | batch Arrow MB | driver append s | Spark append s |")
    print("|---|---|---|---|")
    for n in sizes:
        print(f"| {n} | {arrow_mb[n]:.1f} "
              f"| {statistics.median(times[(n, 'driver')]):.2f} "
              f"| {statistics.median(times[(n, 'spark')]):.2f} |")
    if args.work is None:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
