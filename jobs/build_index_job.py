#!/usr/bin/env python
"""spark-submit entrypoint: build the inverted index from a pages table.

Usage:
    python scripts/make_pyfiles.py   # → dist/search_engine_tr_spark.zip
    spark-submit --py-files dist/search_engine_tr_spark.zip \
        jobs/build_index_job.py <pages_parquet> <out_dir> \
        [--shards N] [--buckets B] [--chunks N]

The build is resumable: rerun the same command after a failure and it
skips the chunks its manifest records as done.

Uses the active SparkSession when launched under spark-submit (cluster
master/conf respected); falls back to a local session otherwise.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("pages")
    ap.add_argument("out")
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--chunks", type=int, default=1,
                    help="url-hash chunks, each a resumable unit of work")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from search_engine_tr_spark.plans.index_build import build_index

    spark = SparkSession.builder.appName("setr-build-index").getOrCreate()
    out = build_index(spark, spark.read.parquet(args.pages), args.out,
                      n_shards=args.shards, term_buckets=args.buckets,
                      n_chunks=args.chunks)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
