#!/usr/bin/env python
"""spark-submit entrypoint: compact the small files an incremental index
accumulates (postings appends from streaming/incremental, result-cache
buckets) back to ~target-size parquet files, atomically per table.

Usage:
    spark-submit --py-files dist/search_engine_tr_spark.zip \
        jobs/compact_job.py <index_dir> [--tables postings doc_map ...] \
        [--target-mb 128]

Tables partitioned on disk (blocks, term_stats by term_bucket) keep their
layout; everything else is rewritten layout-only.

``--canonicalize`` first runs rebuild_derived: the delta term_stats rows
and multi-generation blocks that refresh_derived_delta appends are folded
back into ONE generation (single df row per term, one avgdl for every
block bound) before the layout compaction — the periodic maintenance pass
of the incremental scheme.

The job exits non-zero, before any rewrite, while a crashed ingest or
delta refresh has left its intent marker (``_ingest_intent.json``,
``_derived_intent.json``): its uncommitted rows sit in files of their own,
which the next ingest or refresh deletes whole, and a rewrite would merge
them into files with committed rows. Run the ingest or refresh again
first.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_PARTITIONED = {"blocks": ["term_bucket"], "term_stats": ["term_bucket"]}
_DEFAULT_TABLES = ["postings", "doc_map", "doc_meta", "links",
                   "term_stats", "blocks", "domain_scores"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("index_dir")
    ap.add_argument("--tables", nargs="*", default=None)
    ap.add_argument("--target-mb", type=int, default=128)
    ap.add_argument("--canonicalize", action="store_true",
                    help="rebuild_derived first: fold delta term_stats/"
                         "blocks generations back into one")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("setr-compact").getOrCreate()
    from search_engine_tr_spark.plans import fsio
    from search_engine_tr_spark.plans.compact import compact_parquet
    from search_engine_tr_spark.streaming.incremental import (DERIVED_INTENT,
                                                              INGEST_INTENT)

    live = [m for m in (INGEST_INTENT, DERIVED_INTENT)
            if fsio.exists(spark, os.path.join(args.index_dir, m))]
    if live:
        sys.exit(f"compaction refused: {', '.join(live)} is live in "
                 f"{args.index_dir}; run the ingest or refresh again to "
                 f"roll the crashed attempt back first")

    report = {}
    if args.canonicalize:
        from search_engine_tr_spark.streaming.incremental import \
            rebuild_derived
        report["canonicalize"] = rebuild_derived(spark, args.index_dir)

    # `is None`, not falsiness: an explicitly empty --tables means
    # "compact nothing", not "compact everything"
    tables = _DEFAULT_TABLES if args.tables is None else args.tables
    for t in tables:
        path = os.path.join(args.index_dir, t)
        if not os.path.isdir(path):
            report[t] = {"skipped": True, "reason": "absent"}
            continue
        report[t] = compact_parquet(spark, path, target_mb=args.target_mb,
                                    partition_by=_PARTITIONED.get(t))
    print(json.dumps(report, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
