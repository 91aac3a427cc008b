"""Stable, dense docID assignment without a global sort.

The reference keys everything by ``document_url`` strings (src/models/db.py:
98-102) — 50+ bytes per posting row. We map url → dense int64 once and key
the index by docID.

Scalable construction (no global window, no zipWithIndex):
1. hash-repartition distinct urls into P partitions (deterministic:
   pmod(hash(url), P)),
2. row_number within each partition ordered by url (per-partition sort only),
3. add the exclusive prefix sum of partition counts (P-row broadcast).

Deterministic for a given (url set, P): re-running on the same snapshot
yields identical ids — required for resumable builds (SURVEY.md §7.3). The
mapping is persisted as its own table by the index build so later increments
extend rather than recompute it.

``assign_doc_ids_local`` is the same rule on the driver, for the small url
sets of an ingest's driver regime: its ids equal ``assign_doc_ids``'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_doc_ids(pages: DataFrame, url_col: str = "url",
                   num_partitions: int | None = None) -> DataFrame:
    """→ DataFrame(url, doc_id) with dense, deterministic int64 ids.

    Plan shape (optimization round 6, guide §2.4): the rank branch and the
    count branch share ONE scan + distinct + hash(_pid) exchange. The
    explicit ``repartition("_pid")`` below, plus pinning the window's
    implicit isnotnull(_pid) filter into the shared subtree, makes both
    branches' exchange subplans syntactically identical so ReuseExchange
    collapses them — the pre-r6 plan scanned the pages and re-shuffled the
    distinct urls twice (once per branch). The id formula is unchanged, so
    assignments stay bit-identical for a given (url set, P)."""
    p = num_partitions or pages.sparkSession.sparkContext.defaultParallelism
    urls = (pages.select(F.col(url_col).alias("url"))
            .distinct()
            .withColumn("_pid", F.pmod(F.xxhash64("url"), F.lit(p)).cast("int"))
            # the Window below would inject exactly this filter into its
            # own branch (breaking subtree equality with the count branch);
            # stating it here keeps it in the SHARED prefix instead
            .filter(F.col("_pid").isNotNull())
            .repartition("_pid"))
    # per-partition dense rank (sort only within the hash bucket); the
    # repartition above already provides hashpartitioning(_pid) so the
    # window adds no exchange of its own
    w = Window.partitionBy("_pid").orderBy("url")
    local = urls.withColumn("_local", F.row_number().over(w).cast("long") - 1)
    counts = (urls.groupBy("_pid").agg(F.count("*").alias("_cnt"))
              .withColumn(
                  "_offset",
                  F.coalesce(
                      F.sum("_cnt").over(
                          Window.orderBy("_pid").rowsBetween(
                              Window.unboundedPreceding, -1)),
                      F.lit(0),
                  ).cast("long"))
              .select("_pid", "_offset"))
    return (local.join(F.broadcast(counts), "_pid")
            .select("url", (F.col("_local") + F.col("_offset")).alias("doc_id")))


def assign_doc_ids_local(urls, num_partitions: int,
                         start: int = 0) -> dict[str, int]:
    """Driver twin of ``assign_doc_ids`` (+ ``start``) → {url: doc_id}.

    The distributed ids are the ranks of the distinct urls ordered by
    (pmod(xxhash64(url), P), url): the offset of the url's hash partition
    plus its rank inside it. Ranking by the same key with the driver's
    xxhash64 (``functions.xxh``) gives the same ids; Python orders strings
    by code point, as Spark orders them by UTF-8 bytes."""
    from ..functions.xxh import term_bucket

    ranked = sorted(set(urls),
                    key=lambda u: (term_bucket(u, num_partitions), u))
    return {u: start + i for i, u in enumerate(ranked)}
