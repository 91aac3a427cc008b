#!/usr/bin/env python
"""spark-submit entrypoint: BM25 top-k query against a built index.

    spark-submit --py-files dist/search_engine_tr_spark.zip \
        jobs/query_job.py <index_dir> "<query>" [--k 10] [--mode wand] \
        [--urls] [--meta] [--snippets [--window 8]] \
        [--blended [--alpha 0.1]] [--cache DIR]

--meta attaches url + title + description (the reference result page);
--snippets attaches a highlighted context window from pages_text;
--blended re-ranks by BM25 × domain authority (requires domain_scores from
jobs/backlinks_job.py; missing table degrades to plain BM25).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("index_dir")
    ap.add_argument("query")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", choices=["wand", "exhaustive"], default="wand")
    ap.add_argument("--urls", action="store_true")
    ap.add_argument("--meta", action="store_true")
    ap.add_argument("--snippets", action="store_true",
                    help="url + highlighted context window per hit, "
                         "from the index's pages_text table")
    ap.add_argument("--window", type=int, default=8)
    ap.add_argument("--phrase", action="store_true",
                    help="consecutive-position phrase match over the "
                         "positional postings, in the index's position "
                         "space (tag-replay semantics; see operators/"
                         "phrase.py), ranked by occurrences")
    ap.add_argument("--blended", action="store_true")
    ap.add_argument("--alpha", type=float, default=0.1)
    ap.add_argument("--cache", default=None,
                    help="result-cache table dir (read-through + repair)")
    args = ap.parse_args()

    # one retrieval MODE per invocation: the old elif chain silently ran
    # cache/blended when combined with --phrase/--snippets, returning a
    # different mode than asked for (ADVICE r4)
    modes = [name for name, on in [("--cache", args.cache),
                                   ("--blended", args.blended),
                                   ("--phrase", args.phrase),
                                   ("--snippets", args.snippets)] if on]
    if len(modes) > 1:
        ap.error(f"mutually exclusive retrieval modes: {' '.join(modes)}")

    from pyspark.sql import SparkSession

    from search_engine_tr_spark.operators.query_bm25 import BM25Index

    spark = SparkSession.builder.appName("setr-query").getOrCreate()
    idx = BM25Index(spark, args.index_dir)
    if args.cache:
        from search_engine_tr_spark.operators.result_cache import ResultCache

        df, hit = ResultCache(spark, args.cache).cached_search(
            idx, args.query, k=args.k)
        print(f"cache_hit={hit}")
    elif args.blended:
        df = idx.search_blended(args.query, k=args.k, mode=args.mode,
                                alpha=args.alpha, with_meta=args.meta)
    elif args.phrase:
        from search_engine_tr_spark.operators.phrase import phrase_search

        df = phrase_search(spark, args.index_dir, args.query, k=args.k)
    elif args.snippets:
        from search_engine_tr_spark.operators.snippets import \
            search_with_snippets

        df = search_with_snippets(idx, args.query, k=args.k,
                                  window=args.window, mode=args.mode)
    elif args.meta:
        df = idx.search_with_meta(args.query, k=args.k, mode=args.mode)
    elif args.urls:
        df = idx.search_with_urls(args.query, k=args.k, mode=args.mode)
    else:
        df = idx.search(args.query, k=args.k, mode=args.mode)
    for row in df.collect():
        print(row.asDict())


if __name__ == "__main__":
    main()
