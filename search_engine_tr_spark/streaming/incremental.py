"""Incremental index maintenance.

The reference re-tokenizes EVERY page every 30 minutes (task_scheduler.py:
5-14 + indexer.py:16 truncate-and-rebuild). Here:

- ``incremental_index_update``: resumable batch over NEW pages only —
  extends doc_map with dense ids past the current max, tokenizes only the
  new urls, appends their postings, and rebuilds the (cheap) derived
  tables. This is the availableNow-equivalent the north rule asks for
  (checkpoint/resume, not a long-running stream).
- ``stream_ingest_index``: a Structured Streaming (availableNow) drain of
  an append-only pages directory into the queryable index — each
  micro-batch is an ``incremental_index_update``, exactly once across
  restarts, followed by one delta refresh of the derived tables.

Both appends have two regimes that write the same rows. A small batch (an
ingest within ``_DRIVER_MAX_INGEST_PAGES`` / ``_DRIVER_MAX_INGEST_BYTES``,
a delta refresh within ``_DRIVER_MAX_DELTA_POSTINGS``) on a root pyarrow
can open runs on the DRIVER: pandas kernels and one pyarrow file per
table, each published by rename. Larger ones and ``s3a://`` roots run in
Spark.
"""

from __future__ import annotations

import os
import posixpath
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.text import page_links, page_meta, page_text
from ..plans import fsio
from ..plans.docids import assign_doc_ids, assign_doc_ids_local
from ..plans.index_build import _BLOCK_SCHEMA, _POSTINGS_SCHEMA, \
    IndexPaths, _postings_rows_batches, extract_pages, \
    materialize_doc_meta, materialize_links, postings_from_pages, read_table

# the crash markers of the two append protocols, at the index root: an
# ingest's (``_ingest_core``) and a delta refresh's
# (``refresh_derived_delta``). While one is live the index holds
# uncommitted rows that the next run rolls back file by file.
INGEST_INTENT = "_ingest_intent.json"
DERIVED_INTENT = "_derived_intent.json"


def _orphan_doc_files(spark: SparkSession, table_dir: str, base: int,
                      col: str = "doc_id") -> list[str]:
    """Files under ``table_dir`` (recursive — partitioned tables nest)
    containing any ``col > base``.

    The append protocols guarantee every COMMITTED row has col ≤ the
    committed high-water mark (doc_map max for ingest appends,
    derived_max_doc_id for delta-derived appends), and that one crashed
    append's rows all exceed it — so such files contain ONLY crashed rows,
    making whole-file deletion an exact rollback. The per-file maxima come
    from ``fsio.column_stats`` (parquet footers on local roots). Files
    without the column at all predate the protocol and are committed by
    definition; hidden in-flight files are not data and are skipped."""
    return [fp for fp, (mx, _) in
            fsio.column_stats(spark, table_dir, col).items()
            if mx is not None and mx > base]


def _orphan_url_files(spark: SparkSession, table_dir: str,
                      doc_map: DataFrame, url_col: str = "url") -> list[str]:
    """Files under a url-keyed companion table (pages_text / links) whose
    rows' urls are absent from doc_map.

    Same file-granularity argument as ``_orphan_doc_files``: every append
    writes fresh files, and a batch's companion append happens only for
    urls that anti-joined AGAINST doc_map at append time — so a file from
    a COMMITTED batch has all its urls in doc_map (its doc_map commit
    landed), while a file from the one crashed attempt has none. One
    column-pruned scan + anti-join, recovery-only cost."""
    rows = (read_table(spark, table_dir)
            .select(F.input_file_name().alias("f"),
                    F.col(url_col).alias("url"))
            # a NULL url never matches the anti-join and would flag a
            # COMMITTED file as orphaned, deleting its good rows (ADVICE
            # r5); ingest drops null urls at entry, but guard legacy files
            .filter(F.col("url").isNotNull())
            .join(doc_map.select("url"), "url", "left_anti")
            .select("f").distinct().collect())
    return [r["f"] for r in rows]


# Above this many fresh pages a single batch is committed as SEQUENTIAL
# url-hash chunks, each with its own full protocol run (intent + appends +
# single-file doc_map commit): the single-task coalesce(1) doc_map write
# serializes the whole batch otherwise (ADVICE/VERDICT r4 watch-item). At
# the default, one commit file is ~150 MB of (url, doc_id) rows — seconds
# to write — while every atomicity invariant stays chunk-local and exact.
_COMMIT_CHUNK_PAGES = 2_000_000


def incremental_index_update(spark: SparkSession, new_pages: DataFrame,
                             index_dir: str,
                             refresh_derived: bool = False) -> dict:
    """Append-only index update for pages whose url is not yet in doc_map,
    with a crash-safe commit protocol.

    **doc_map is the commit record**: postings and the companion tables
    (pages_text / doc_meta / links) are appended FIRST, and the batch's
    doc_map rows are appended LAST as a single file (one atomic rename on
    a local/HDFS root): a coalesced Spark write, or in the driver regime a
    url-sorted pyarrow file published by rename (see ``_ingest_core``).
    The fresh-url idempotence key is doc_map, so a replay after a crash
    anywhere before the doc_map append still sees the batch as fresh — no
    document can be half-committed into unsearchability (the round-3
    ordering appended doc_map first, so a crash before the postings
    append permanently anti-joined those urls away; ADVICE r4).

    Replays are made exact by an intent sidecar + rollback: an
    ``_ingest_intent.json`` marker is published before the first append
    and removed after the doc_map commit. When an update finds a
    surviving marker it rolls back the crashed attempt's rows
    file-granularly before appending anything — doc_id-keyed tables by
    parquet footer stats (``_orphan_doc_files``), url-keyed companions by
    a doc_map anti-join (``_orphan_url_files``). The rollback only runs
    on crash recovery; the steady-state cost is one O(1) sidecar
    write+delete per batch.

    **Bulk batches**: a batch with more than ``_COMMIT_CHUNK_PAGES`` fresh
    pages is committed as sequential url-hash chunks, each an independent
    full protocol run — the single-file doc_map commit (the atomicity
    primitive) then never serializes more than one chunk through one
    task, and a crash leaves at most ONE chunk in flight (earlier chunks
    are durably committed; the replay's anti-join skips them).

    With ``refresh_derived=True`` also rebuilds term_stats/blocks/meta so
    the BM25 query path sees the new docs (the derived rebuild reads only
    the compact postings table — the expensive tokenization never
    re-runs); for a chunked batch the refresh runs ONCE, after the last
    chunk.
    """
    out = _ingest_core(spark, new_pages, index_dir,
                       max_rows=_COMMIT_CHUNK_PAGES)
    overflow = out.pop("overflow", None)
    if overflow is not None:
        import logging
        import math as _math

        k = _math.ceil(overflow / _COMMIT_CHUNK_PAGES)
        logging.getLogger(__name__).info(
            "incremental_index_update: %d fresh pages > commit chunk %d — "
            "committing as %d sequential chunks", overflow,
            _COMMIT_CHUNK_PAGES, k)
        probe_rolled = out.get("rolled_back_files", 0)
        out = {"new_docs": 0, "new_postings": 0, "commit_chunks": k}
        if probe_rolled:  # crash recovery performed by the probe pass
            out["rolled_back_files"] = probe_rolled
        for c in range(k):
            sub = new_pages.filter(
                F.pmod(F.xxhash64("url"), F.lit(k)) == c)
            m = _ingest_core(spark, sub, index_dir)
            out["new_docs"] += m.get("new_docs", 0)
            out["new_postings"] += m.get("new_postings", 0)
            if m.get("rolled_back_files"):
                out["rolled_back_files"] = (out.get("rolled_back_files", 0)
                                            + m["rolled_back_files"])
    if refresh_derived:
        # also heals the committed-but-unrefreshed replay window (a no-op
        # when nothing is pending)
        out.update(refresh_derived_delta(spark, index_dir))
    return out


# The driver regime of an ingest (``_ingest_core``): a batch of at most
# _DRIVER_MAX_INGEST_PAGES pages whose collected url/html/lang columns take
# at most _DRIVER_MAX_INGEST_BYTES of Arrow memory, on a root pyarrow can
# open, is collected in ONE Spark job and appended with pandas and pyarrow.
# The collect stops at the page cap + 1, so the driver holds at most that
# many pages; the bytes cap then bounds the Arrow table the regime parses
# (its pandas copy, extracted text and postings are a small multiple of
# it). Measured on 4 vCPU over a 1000-page base (scripts/ingest_crossover.py,
# ~1.1 KB pages, medians of 2): driver vs Spark append 0.34 vs 3.92 s at
# 50 pages, 1.78 vs 3.53 s at 1000, 3.32 vs 4.40 s at 2000 and 6.26 vs
# 5.46 s at 4000, so the page cap sits at half the last size the driver
# won. The bytes cap is checked once the batch is collected, so it does
# not bound the collect itself: that holds up to the page cap + 1 pages,
# e.g. ~1 GB of 1 MB pages (Common Crawl's truncation size), which needs
# spark.driver.maxResultSize and the driver heap above it or the ingest
# fails where the Spark regime would not.
_DRIVER_MAX_INGEST_PAGES = 1000
_DRIVER_MAX_INGEST_BYTES = 64 << 20
# doc_map rows the driver regime's fresh-url check reads: the whole url
# column on every ingest, since the build writes doc_map hash-partitioned
# by url and no footer min/max could narrow the read. The check streams,
# so its memory does not grow with doc_map but its time does: ~0.06 s at
# the cap (2^20 ~45-byte urls, 4 vCPU). An index that maps more docs takes
# the Spark regime without collecting the batch
_DRIVER_MAX_URL_CHECK_ROWS = 1 << 20


def _string_field(name: str) -> T.StructField:
    return T.StructField(name, T.StringType(), True)


# the files the driver regime writes, typed as the Spark regime writes a
# batch read from parquet (whose url is nullable)
_POSTINGS_ARROW = to_arrow_schema(_POSTINGS_SCHEMA)
_PAGES_TEXT_ARROW = to_arrow_schema(T.StructType([
    _string_field("url"), _string_field("text"), _string_field("lang")]))
_DOC_META_ARROW = to_arrow_schema(T.StructType([
    T.StructField("doc_id", T.LongType(), False), _string_field("url"),
    _string_field("title"), _string_field("description"),
    _string_field("keywords")]))
_LINKS_ARROW = to_arrow_schema(T.StructType([
    _string_field("source_url"), _string_field("link_type"),
    _string_field("target_url"), _string_field("anchor_text")]))
_DOC_MAP_ARROW = to_arrow_schema(T.StructType([
    _string_field("url"), T.StructField("doc_id", T.LongType(), False)]))


def _collect_batch(new_pages: DataFrame) -> pa.Table | None:
    """(url, html, lang) of the non-null-url pages in ONE Spark job, or
    None when they exceed ``_DRIVER_MAX_INGEST_PAGES`` pages or
    ``_DRIVER_MAX_INGEST_BYTES`` bytes."""
    batch = (new_pages.select("url", "html", "lang")
             .limit(_DRIVER_MAX_INGEST_PAGES + 1).toArrow())
    if (batch.num_rows > _DRIVER_MAX_INGEST_PAGES
            or batch.nbytes > _DRIVER_MAX_INGEST_BYTES):
        return None
    return batch


def _fresh_rows(arrow, batch: pa.Table) -> pa.Table:
    """The rows of ``batch`` whose url doc_map does not hold: one pyarrow
    scan of doc_map's url column keeps the urls in the batch's set, so the
    check holds the scan's buffers and the hits, not the column. Duplicate
    urls keep all their rows here (``_one_page_per_url_local`` then keeps
    one)."""
    fs, root = arrow
    if not batch.num_rows:
        return batch
    urls = batch["url"].combine_chunks()
    mapped = ds.dataset(posixpath.join(root, "doc_map"),
                        schema=_DOC_MAP_ARROW, format="parquet",
                        filesystem=fs).to_table(
        columns=["url"],
        filter=ds.field("url").isin(urls.cast(pa.string())))["url"]
    return batch.filter(pc.invert(pc.is_in(
        urls, value_set=mapped.combine_chunks().cast(urls.type))))


def _one_page_per_url(pages: DataFrame) -> DataFrame:
    """(url, html, lang) with one row per url: of a url's copies the one
    with the greatest (html, lang), nulls least, as Spark orders structs.
    A url a batch holds twice then commits one doc, not two row sets under
    one doc_id (which doubled its postings and gave result pages two
    metadata rows for one hit)."""
    return (pages.groupBy("url")
            .agg(F.max(F.struct("html", "lang")).alias("p"))
            .select("url", "p.html", "p.lang"))


def _one_page_per_url_local(pages: pd.DataFrame) -> pd.DataFrame:
    """``_one_page_per_url`` on the driver: the same copy of each url."""
    best: dict = {}
    for url, html, lang in zip(pages["url"], pages["html"], pages["lang"]):
        key = (html is not None, html or b"", lang is not None, lang or "")
        if url not in best or key > best[url][0]:
            best[url] = (key, html, lang)
    return pd.DataFrame([(u, h, g) for u, (_, h, g) in best.items()],
                        columns=["url", "html", "lang"])


def _write_batch_driver(arrow, fresh: pd.DataFrame, base: int,
                        num_partitions: int) -> int:
    """Append the ``fresh`` pages (url, html, lang) with pyarrow → their
    postings count. Ids are ``assign_doc_ids_local`` from ``base`` + 1, the
    Spark regime's ids; the rows come from the kernels the Spark regime's
    UDFs wrap. One file per table (postings, pages_text, doc_meta, links;
    a table with no rows gets none), then the url-sorted doc_map file LAST:
    its rename is the commit."""
    _, root = arrow
    ids = assign_doc_ids_local(fresh["url"], num_partitions, start=base + 1)
    doc_ids = fresh["url"].map(ids)
    postings = next(_postings_rows_batches(
        [pd.DataFrame({"doc_id": doc_ids, "html": fresh["html"]})]))
    links = pd.DataFrame(
        [(u, typ, href, anchor)
         for u, recs in zip(fresh["url"], page_links(fresh["url"],
                                                     fresh["html"]))
         for typ, _base, href, anchor in recs],
        columns=_LINKS_ARROW.names)
    tables = {
        "postings": (postings, _POSTINGS_ARROW),
        "pages_text": (pd.DataFrame({"url": fresh["url"],
                                     "text": page_text(fresh["html"]),
                                     "lang": fresh["lang"]}),
                       _PAGES_TEXT_ARROW),
        "doc_meta": (page_meta(fresh["html"]).assign(doc_id=doc_ids,
                                                     url=fresh["url"]),
                     _DOC_META_ARROW),
        "links": (links, _LINKS_ARROW),
        "doc_map": (pd.DataFrame(sorted(ids.items()),
                                 columns=_DOC_MAP_ARROW.names),
                    _DOC_MAP_ARROW),
    }
    for name, (pdf, schema) in tables.items():
        if len(pdf):
            _publish(arrow, posixpath.join(root, name), None,
                     pa.Table.from_pandas(pdf, schema, preserve_index=False))
    return len(postings)


def _ingest_core(spark: SparkSession, new_pages: DataFrame, index_dir: str,
                 max_rows: int | None = None) -> dict:
    """One protocol run (see ``incremental_index_update``). With
    ``max_rows``, returns ``{"overflow": n_new}`` — before publishing the
    intent or appending anything — when the fresh count exceeds it.

    Two regimes append the same rows. On a root pyarrow can open
    (``fsio.arrow_root``), a batch within ``_DRIVER_MAX_INGEST_PAGES`` and
    ``_DRIVER_MAX_INGEST_BYTES``, into an index that maps at most
    ``_DRIVER_MAX_URL_CHECK_ROWS`` docs, runs on the DRIVER: one Arrow
    collect (the only Spark job), a url check against doc_map's url column
    (``_fresh_rows``) and one pyarrow file per table
    (``_write_batch_driver``). Any other batch runs the Spark regime: a
    checkpointed doc_map anti-join and partitioned Spark appends."""
    paths = IndexPaths(index_dir)
    intent = os.path.join(index_dir, INGEST_INTENT)
    # explicit None check: `or -1` would treat a legitimate max doc_id of 0
    # as missing and restart ids at 0, colliding with the existing doc
    _max_id, n_mapped = fsio.column_max_count(spark, paths.doc_map,
                                              "doc_id")
    base = -1 if _max_id is None else _max_id
    n_rolled_back = 0
    if fsio.exists(spark, intent):
        # a prior attempt crashed between its first append and its doc_map
        # commit: roll back its orphan rows before appending anything.
        # doc_id-keyed tables roll back by footer stats; the url-keyed
        # companions (pages_text / links) roll back by anti-joining their
        # urls against doc_map — file-exact for the same one-crashed-append
        # reason, and correct even when the replay carries a DIFFERENT
        # batch than the crashed one (a batch-scoped anti-join guard here
        # would leave the crashed urls orphaned until re-ingested, and
        # then duplicate them; ADVICE r5). A driver-regime crash mid-write
        # also leaves a temporary file, which is debris, not data
        doc_map = spark.read.parquet(paths.doc_map)
        orphans = (_orphan_doc_files(spark, paths.postings, base)
                   + _orphan_doc_files(spark, paths.doc_meta, base)
                   + _orphan_url_files(spark, paths.pages_text, doc_map)
                   + _orphan_url_files(spark, paths.links, doc_map,
                                       url_col="source_url"))
        for fp in orphans:
            fsio.delete(spark, fp)
        n_rolled_back = len(orphans)
        _delete_debris(spark, paths.postings, paths.pages_text,
                       paths.doc_meta, paths.links, paths.doc_map)
    # null-url rows are dropped at ingest entry: they can never commit
    # (the doc_map anti-join idempotence key never matches NULL) and a
    # companion file containing one would break the file-granularity
    # rollback invariant (ADVICE r5)
    new_pages = new_pages.filter(F.col("url").isNotNull())
    arrow = fsio.arrow_root(index_dir)
    batch = (_collect_batch(new_pages) if arrow is not None
             and n_mapped <= _DRIVER_MAX_URL_CHECK_ROWS else None)
    fresh = None if batch is None else _fresh_rows(arrow, batch)
    if fresh is None:
        # Freshness discovery in ONE column-pruned doc_map anti-join of the
        # distinct urls, checkpointed and counted once: the count serves
        # as the overflow probe. localCheckpoint (not cache): appending to
        # doc_map below invalidates any cached plan that READS doc_map
        # (recacheByPath), which would make a cached anti-join silently
        # recompute as empty — checkpointing severs the path lineage
        fresh_urls = (new_pages.select("url").distinct()
                      .join(spark.read.parquet(paths.doc_map).select("url"),
                            "url", "left_anti")
                      .localCheckpoint())
        n_new = fresh_urls.count()
    else:
        fresh = _one_page_per_url_local(fresh.to_pandas())
        n_new = len(fresh)
    if max_rows is not None and n_new > max_rows:
        # state is clean (any crashed attempt was rolled back above),
        # so clear the stale marker — each chunk publishes its own —
        # and report the rollback instead of swallowing it
        fsio.delete(spark, intent)
        out = {"new_docs": 0, "overflow": n_new}
        if n_rolled_back:
            out["rolled_back_files"] = n_rolled_back
        return out
    if n_new == 0:
        # nothing uncommitted remains (any crashed attempt was rolled back
        # above, or its batch actually committed) — clear the marker
        fsio.delete(spark, intent)
        return {"new_docs": 0}
    fsio.write_json(spark, intent, {"base": base, "n_new": n_new})
    if fresh is None:
        n_postings = _append_spark(spark, paths, new_pages, fresh_urls, base)
    else:
        n_postings = _write_batch_driver(
            arrow, fresh, base, spark.sparkContext.defaultParallelism)
    fsio.delete(spark, intent)
    out = {"new_docs": n_new, "new_postings": n_postings}
    if n_rolled_back:
        out["rolled_back_files"] = n_rolled_back
    return out


def _append_spark(spark: SparkSession, paths: IndexPaths,
                  new_pages: DataFrame, fresh_urls: DataFrame,
                  base: int) -> int:
    """The Spark regime's appends of the pages whose url is in the
    checkpointed ``fresh_urls`` → their postings count: postings and the
    companion tables first, then one coalesced doc_map file — the commit,
    a single atomic rename."""
    # ids from the (small, checkpointed) fresh-url frame — assign_doc_ids
    # reads only the url column, so handing it the page rows (the pre-r6
    # shape) forced `fresh` to be materialized with its html payload even
    # when nothing else needed it twice
    new_ids = (assign_doc_ids(fresh_urls)
               .withColumn("doc_id", F.col("doc_id") + F.lit(base + 1))
               .localCheckpoint())
    # widen: a 1-partition pages scan semi-joined against a broadcast url
    # frame stays 1 partition, which would pin the tokenize stage to one
    # task (guide §2.5; no-op at real scale)
    from ..session import ensure_scan_parallelism
    # four appends re-read the html payload — materialize it once
    fresh = ensure_scan_parallelism(_one_page_per_url(
        new_pages.join(fresh_urls, "url", "left_semi"))).localCheckpoint()
    # single tokenize pass straight into the append
    postings_from_pages(fresh, new_ids) \
        .write.mode("append").parquet(paths.postings)
    # crashed companion rows were rolled back file-granularly above, so
    # plain appends are exact — no per-batch anti-join guard needed
    extract_pages(fresh).select("url", "text", "lang") \
        .write.mode("append").parquet(paths.pages_text)
    materialize_doc_meta(fresh, new_ids, paths.doc_meta, mode="append")
    materialize_links(fresh, paths.links, mode="append")
    # COMMIT: one coalesced doc_map file — the append becomes visible as a
    # single atomic rename, and with it the whole batch
    new_ids.coalesce(1).write.mode("append").parquet(paths.doc_map)
    if fsio.local_path(paths.postings) is None:
        # off the driver's disk column_stats scans the whole table in
        # Spark; this count reads only the row groups whose stats pass
        return read_table(spark, paths.postings) \
            .filter(F.col("doc_id") > base).count()
    # the batch's postings count from the footers: the files whose max
    # doc_id is above the old high-water mark are exactly this attempt's,
    # since a crashed attempt's were rolled back before it
    return sum(n for mx, n in
               fsio.column_stats(spark, paths.postings, "doc_id").values()
               if mx is not None and mx > base)


def rebuild_derived(spark: SparkSession, index_dir: str,
                    n_shards: int | None = None,
                    term_buckets: int | None = None) -> dict:
    """Rebuild term_stats/blocks/meta.json from the (appended) postings,
    with ``index_build.write_derived`` — the writer ``build_index`` uses,
    so a rebuild lays out blocks and term_stats as a fresh build does.

    Also records ``n_pages_mapped`` — the doc_map row count — which is the
    staleness sentinel ``stream_ingest_index`` compares against. It must
    come from doc_map, not from postings-derived ``n_docs``: a page whose
    extracted text yields zero tokens is in doc_map but never in postings,
    so comparing doc_map.count() to n_docs would mismatch forever and
    trigger a full rebuild on every drain (ADVICE r4).

    Folds ONLY COMMITTED postings (``doc_id <= doc_map max``), mirroring
    ``refresh_derived_delta``'s bound: a crashed ingest's orphan rows sit
    strictly above doc_map max, and folding them here would make ghost
    docs (no doc_map row) searchable AND double-count them after the
    ingest replay rolls back + re-appends the same ids (ADVICE r5). The
    surviving ``_ingest_intent.json`` stays live so the replay still
    performs its file-exact rollback."""
    from ..plans.index_build import write_derived

    paths = IndexPaths(index_dir)
    meta = fsio.read_json(spark, paths.meta)
    n_shards = n_shards or int(meta.get("n_shards", 32))
    term_buckets = term_buckets or int(meta.get("term_buckets", 64))
    _dm_max, n_pages_mapped = fsio.column_max_count(spark, paths.doc_map,
                                                    "doc_id")
    committed_max = -1 if _dm_max is None else _dm_max
    postings = (read_table(spark, paths.postings)
                .filter(F.col("doc_id") <= F.lit(committed_max)))
    stats = write_derived(spark, postings, paths, n_shards, term_buckets)
    meta.update({"n_docs": stats.n_docs, "avgdl": stats.avgdl,
                 "total_postings": stats.total_postings,
                 "n_pages_mapped": n_pages_mapped,
                 "derived_max_doc_id": committed_max,
                 "n_shards": n_shards, "term_buckets": term_buckets})
    fsio.write_json(spark, paths.meta, meta)
    # a full rebuild canonicalizes everything a crashed delta refresh
    # might have left behind — clear its marker
    fsio.delete(spark, os.path.join(index_dir, DERIVED_INTENT))
    return {"n_docs": stats.n_docs, "total_postings": stats.total_postings}


# delta postings a refresh handles on the driver per call: a refresh whose
# committed delta is at most this many postings reads, packs and writes it
# with pyarrow and pandas — no Spark job — and a larger one runs the Spark
# path. It bounds the driver's memory, since the read stops as soon as the
# delta exceeds it. Measured on 4 vCPU over a 1000-page base (CHANGES.md),
# the driver refresh is faster at every delta up to 140k postings (2000
# pages: 3.4 s against 4.0-4.5 s in Spark) and the two meet at ~210-280k
# (3000-4000 pages), so the cap sits below the crossover
_DRIVER_MAX_DELTA_POSTINGS = 1 << 17

# the two files the driver regime writes, typed as Spark writes them: a
# blocks file is _BLOCK_SCHEMA without its partition column, and a delta
# term_stats file is (term, df, gen), df nullable as Spark's sum is
_BLOCKS_FILE_ARROW = to_arrow_schema(T.StructType(
    [f for f in _BLOCK_SCHEMA.fields if f.name != "term_bucket"]))
_DELTA_TSTATS_ARROW = to_arrow_schema(T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("df", T.LongType(), True),
    T.StructField("gen", T.LongType(), False)]))
_DELTA_POSTINGS_ARROW = to_arrow_schema(T.StructType(
    [f for f in _POSTINGS_SCHEMA.fields if f.name in ("doc_id", "term", "tf")]))


def _read_delta(arrow, lo: int, hi: int) -> pd.DataFrame | None:
    """(doc_id, term, tf) of the postings with ``lo < doc_id <= hi``, read
    with pyarrow batch by batch (row-group stats prune the base files), or
    None as soon as they exceed ``_DRIVER_MAX_DELTA_POSTINGS``."""
    fs, root = arrow
    scan = ds.dataset(posixpath.join(root, "postings"),
                      schema=_DELTA_POSTINGS_ARROW, format="parquet",
                      filesystem=fs).to_batches(
        filter=(ds.field("doc_id") > lo) & (ds.field("doc_id") <= hi),
        batch_size=1 << 14)
    batches, rows = [], 0
    for batch in scan:
        rows += batch.num_rows
        if rows > _DRIVER_MAX_DELTA_POSTINGS:
            return None
        batches.append(batch)
    return pa.Table.from_batches(batches, _DELTA_POSTINGS_ARROW).to_pandas()


def _pack_delta(delta: pd.DataFrame, avgdl: float, n_shards: int,
                term_buckets: int) -> pd.DataFrame:
    """``build_blocks`` on the driver: the delta postings with their doc
    lengths, routed by the driver twins of the build's hashes, sorted on
    (term_bucket, shard, term, doc_id) and packed by the build's own
    streaming packer → block rows of ``_BLOCK_SCHEMA``."""
    from ..functions.xxh import doc_shard, term_bucket
    from ..plans.index_build import _sorted_stream_packer

    docs, terms = delta["doc_id"], delta["term"]
    delta = delta.assign(
        dl=delta.groupby("doc_id")["tf"].transform("sum"),
        shard=docs.map({d: doc_shard(d, n_shards)
                        for d in docs.unique().tolist()}),
        term_bucket=terms.map({t: term_bucket(t, term_buckets)
                               for t in terms.unique()}))
    delta = delta.sort_values(["term_bucket", "shard", "term", "doc_id"])
    return pd.concat(list(_sorted_stream_packer(avgdl)([delta])),
                     ignore_index=True)


def _is_tmp(path: str) -> bool:
    """A ``_publish`` temporary file: hidden, so Spark and pyarrow skip it,
    and not ``.parquet``, so the rollback's footer scan does too."""
    name = posixpath.basename(path)
    return name.startswith(".") and name.endswith(".tmp")


def _publish(arrow, table_dir: str, bucket: int | None,
             table: pa.Table) -> None:
    """Write ``table`` as one parquet file under ``table_dir`` — in its
    partition ``term_bucket=bucket`` unless ``bucket`` is None: under a
    temporary name first, then renamed, so a reader or a rollback never
    sees a partial file. No pandas or Arrow schema metadata is stored, as
    in Spark's files."""
    fs, _ = arrow
    part = (table_dir if bucket is None
            else posixpath.join(table_dir, f"term_bucket={bucket}"))
    fs.create_dir(part)
    name = f"part-{uuid.uuid4().hex}.c000.snappy.parquet"
    tmp = posixpath.join(part, f".{name}.tmp")
    pq.write_table(table.replace_schema_metadata(None), tmp, filesystem=fs,
                   store_schema=False)
    fs.move(tmp, posixpath.join(part, name))


def _delete_debris(spark: SparkSession, *table_dirs: str) -> None:
    """Delete the ``_publish`` temporary files a crash left under
    ``table_dirs``."""
    for table_dir in table_dirs:
        for fp in fsio.list_files_recursive(spark, table_dir):
            if _is_tmp(fp):
                fsio.delete(spark, fp)


def _write_delta_driver(arrow, blocks: pd.DataFrame, gen: int) -> None:
    """Append the packed delta ``blocks`` and the delta term_stats derived
    from them (df = Σ block.n, stamped ``gen``): one file of each per
    touched bucket, blocks first, as the Spark path writes them."""
    _, root = arrow
    for bucket, part in blocks.groupby("term_bucket"):
        _publish(arrow, posixpath.join(root, "blocks"), bucket,
                 pa.Table.from_pandas(part, _BLOCKS_FILE_ARROW,
                                      preserve_index=False))
    ts = (blocks.groupby(["term_bucket", "term"])["n"].sum()
          .rename("df").reset_index().assign(gen=gen))
    for bucket, part in ts.groupby("term_bucket"):
        _publish(arrow, posixpath.join(root, "term_stats"), bucket,
                 pa.Table.from_pandas(part, _DELTA_TSTATS_ARROW,
                                      preserve_index=False))


def refresh_derived_delta(spark: SparkSession, index_dir: str) -> dict:
    """Data-proportional derived refresh — the 100 TB replacement for
    ``rebuild_derived``'s O(full index) pass after each ingest batch.

    Only postings with ``doc_id > meta.derived_max_doc_id`` are read (the
    append-only protocol guarantees new batches carry strictly larger ids,
    and parquet row-group stats prune every base file from the scan), and
    they are folded in as DELTAS:

    - **term_stats**: one delta row per touched term, appended;
      ``BM25Index`` sums df across a term's rows — once, into its driver
      lexicon, in memory mode; per lookup job in pruned mode.
    - **blocks**: packed from the delta postings only by the build's
      sorted-merge packer (``index_build._sorted_stream_packer``), under
      the UPDATED corpus avgdl, and appended. Readers order a term's blocks
      by max_doc_id (delta ranges sit strictly above base ranges) and
      restore valid WAND bounds by scaling each block's stored max_tfnorm
      with max(1, avgdl_now/avgdl0).
    - **meta**: n_docs/avgdl/total_postings updated by exact integer
      arithmetic — bit-identical to a full recompute (avgdl =
      Σdl / n_docs in the same double division), so scores match a
      from-scratch build exactly.

    Two regimes write the same files. A delta of at most
    ``_DRIVER_MAX_DELTA_POSTINGS`` committed postings on a root pyarrow
    can open (``fsio.arrow_root``) is refreshed on the DRIVER with no
    Spark job: a pyarrow read of the delta, doc lengths and the routing
    hashes (``functions.xxh``), the packer over the sorted rows, and one
    blocks and one term_stats file per touched bucket, each written with
    pyarrow under a hidden temporary name and renamed. A larger delta, or
    a root pyarrow cannot open (``s3a://``), runs the Spark path
    (``index_build.build_blocks`` and partitioned appends). The cap exists
    because the driver regime holds the whole delta in driver memory and
    packs it on one core; its read stops as soon as the delta exceeds it.

    These appends (the ``gen`` column, the intent marker, the checkpointed
    delta blocks) are why this path does not share ``write_derived``'s
    overwrite. The deltas accumulate small blocks; ``rebuild_derived`` (or
    the compaction job) remains the periodic canonicalization pass. Falls back
    to ``rebuild_derived`` for metas predating the delta keys. Exact-score
    parity with a from-scratch build is pinned by test_stream_ingest, in
    both regimes.

    Crash-safe like the ingest append: a ``_derived_intent.json`` marker
    brackets the two appends, and a surviving marker triggers file-exact
    rollback before refolding — crashed delta BLOCK files are identified
    by max_doc_id > derived_max_doc_id, crashed delta TERM_STATS files by
    their ``gen`` column (stamped with the refresh's high-water mark,
    committed only when meta advances). Without this, a replayed refresh
    would double every touched term's df and score delta docs twice.
    """
    from ..plans.index_build import build_blocks
    from ..plans.stats import doc_lengths

    paths = IndexPaths(index_dir)
    meta = fsio.read_json(spark, paths.meta)
    if "derived_max_doc_id" not in meta or "total_postings" not in meta:
        return rebuild_derived(spark, index_dir)
    dmax = int(meta["derived_max_doc_id"])
    n_shards = int(meta.get("n_shards", 32))
    term_buckets = int(meta.get("term_buckets", 64))
    intent = os.path.join(index_dir, DERIVED_INTENT)
    if fsio.exists(spark, intent):
        # a prior refresh crashed between its appends and its meta commit;
        # a driver-regime crash mid-write also leaves a temporary file,
        # which is debris, not data
        for fp in _orphan_doc_files(spark, paths.blocks, dmax,
                                    col="max_doc_id"):
            fsio.delete(spark, fp)
        for fp in _orphan_doc_files(spark, paths.term_stats, dmax,
                                    col="gen"):
            fsio.delete(spark, fp)
        _delete_debris(spark, paths.blocks, paths.term_stats)
    _dm_max, n_pages_mapped = fsio.column_max_count(spark, paths.doc_map,
                                                    "doc_id")
    new_high = max(dmax, -1 if _dm_max is None else _dm_max)
    # fold ONLY COMMITTED postings: ids in (dmax, doc_map max]. A crashed
    # ingest's orphan rows sit strictly ABOVE doc_map max (its doc_map
    # commit never happened) — without the upper bound, a direct
    # refresh_derived_delta call while an ingest intent is live would
    # absorb uncommitted docs that the ingest replay then rolls back and
    # re-appends, double-counting df and duplicating their blocks
    arrow = fsio.arrow_root(index_dir)
    driver = None if arrow is None else _read_delta(arrow, dmax, new_high)
    if driver is not None:
        dls = driver.groupby("doc_id")["tf"].sum()
        n_new, tot = len(dls), int(dls.sum())
    else:
        delta = (read_table(spark, paths.postings)
                 .filter((F.col("doc_id") > dmax)
                         & (F.col("doc_id") <= F.lit(new_high))))
        doclens = doc_lengths(delta).localCheckpoint()
        row = doclens.agg(F.count("*").alias("n"),
                          F.sum("dl").alias("tot")).collect()[0]
        n_new, tot = int(row["n"] or 0), int(row["tot"] or 0)
    if n_new == 0:
        # only zero-token pages arrived (doc_map moved, postings didn't):
        # advance the sentinel + high-water mark so drains converge
        meta.update({"n_pages_mapped": n_pages_mapped,
                     "derived_max_doc_id": new_high})
        fsio.write_json(spark, paths.meta, meta)
        fsio.delete(spark, intent)
        return {"n_docs": int(meta["n_docs"]),
                "total_postings": int(meta["total_postings"]),
                "delta_docs": 0}
    n_docs = int(meta["n_docs"]) + n_new
    total = int(meta["total_postings"]) + tot
    avgdl = total / n_docs  # exactly what corpus_stats would compute
    fsio.write_json(spark, intent, {"dmax": dmax, "new_high": new_high})
    if driver is not None:
        _write_delta_driver(
            arrow, _pack_delta(driver, avgdl, n_shards, term_buckets),
            new_high)
    else:
        # pack the delta blocks ONCE (checkpoint: they are refresh-sized,
        # not index-sized) and derive the delta term_stats FROM them — df
        # = Σ block.n, the same single-pass consistency argument as
        # build_index (round 6): one delta-postings scan instead of two,
        # and the two delta tables can never disagree. Clustered by
        # term_bucket: one delta file per touched bucket per refresh.
        blocks = (build_blocks(delta, doclens, avgdl, n_shards, term_buckets)
                  .repartition("term_bucket").localCheckpoint())
        blocks.write.mode("append").partitionBy("term_bucket") \
            .parquet(paths.blocks)
        ts_delta = (blocks
                    .groupBy("term", "term_bucket")
                    .agg(F.sum("n").cast("long").alias("df"))
                    .select("term", "df", "term_bucket")
                    .withColumn("gen", F.lit(new_high).cast("long")))
        ts_delta.write.mode("append").partitionBy("term_bucket") \
            .parquet(paths.term_stats)
    # COMMIT: the meta write publishes the new high-water mark; the intent
    # removal afterwards just re-arms the steady-state fast path
    meta.update({"n_docs": n_docs, "avgdl": avgdl,
                 "total_postings": total,
                 "n_pages_mapped": n_pages_mapped,
                 "derived_max_doc_id": new_high})
    fsio.write_json(spark, paths.meta, meta)
    fsio.delete(spark, intent)
    return {"n_docs": n_docs, "total_postings": total,
            "delta_docs": n_new}


def stream_ingest_index(spark: SparkSession, pages_dir: str, index_dir: str,
                        checkpoint_dir: str, n_shards: int = 8,
                        term_buckets: int = 16, pages_schema=None,
                        refresh_scores: bool = False) -> dict:
    """Streaming ingestion into the QUERYABLE index: watch ``pages_dir``
    for new parquet files and fold each micro-batch into the block index.

    Composition of the two exactly-once layers this module already has:
    the file-source checkpoint guarantees each page FILE enters exactly
    one micro-batch (across restarts), and ``incremental_index_update``'s
    url anti-join makes a replayed batch a no-op — so a crash between
    "batch delivered" and "checkpoint committed" cannot double-index.
    Cold start bootstraps a full ``build_index`` from the first batch;
    warm batches append (postings + the companion pages_text/doc_meta/
    links rows). Derived tables (term_stats/blocks/meta) are refreshed at
    most ONCE after the availableNow drain rather than per batch, and
    INCREMENTALLY (refresh_derived_delta): only postings above the
    derived high-water mark are read — row-group stats prune every base
    file — so the refresh cost is proportional to the drain, not the
    index. The refresh triggers on a STALENESS CHECK
    (doc_map count vs meta.json's ``n_pages_mapped`` — NOT the
    postings-derived n_docs, which zero-token pages would desync
    forever), not on this drain's append counter: a crash between a
    committed micro-batch and the rebuild leaves the derived tables
    stale, and the next drain — even an empty one — detects the mismatch
    and heals it.

    Sidecar IO (meta.json, the ingest-intent marker) goes through
    ``plans.fsio`` — local fast path or the Hadoop FileSystem API — so an
    object-store index root works too.

    With ``refresh_scores=True`` the drain also delta-refreshes the
    ``domain_scores`` table (indegree mode, new link files only — see
    ``plans.backlinks.refresh_domain_scores``), keeping the authority
    blend current on the same cadence as the reference's twin 30-min/
    20-min loops.

    Blocking (availableNow): returns {"new_docs": total appended this
    drain, ...} after the drain and any needed derived refresh.
    """
    if pages_schema is None:
        from ..sources.synth import pages_schema as ps
        pages_schema = ps()
    paths = IndexPaths(index_dir)
    totals = {"new_docs": 0, "new_postings": 0}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not fsio.exists(spark, paths.meta):
            from ..plans.index_build import build_index
            m = build_index(spark, batch_df, index_dir, n_shards=n_shards,
                            term_buckets=term_buckets)
            # report MAPPED pages (includes zero-token docs), consistent
            # with the warm path's doc_map-anti-join count
            totals["new_docs"] += int(m.get("n_pages_mapped",
                                            m.get("n_docs", 0)))
            totals["new_postings"] += int(m.get("total_postings", 0))
        else:
            m = incremental_index_update(spark, batch_df, index_dir,
                                         refresh_derived=False)
            totals["new_docs"] += int(m.get("new_docs", 0))
            totals["new_postings"] += int(m.get("new_postings", 0))

    q = (spark.readStream.schema(pages_schema).parquet(pages_dir)
         .writeStream
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    if fsio.exists(spark, paths.meta):
        meta = fsio.read_json(spark, paths.meta)
        # n_pages_mapped (doc_map rows at last derived refresh) is the
        # convergent sentinel; fall back to n_docs only for a pre-r4 meta
        mapped_at_refresh = int(meta.get("n_pages_mapped",
                                         meta.get("n_docs", -1)))
        if fsio.column_max_count(spark, paths.doc_map,
                                 "doc_id")[1] != mapped_at_refresh:
            totals.update(refresh_derived_delta(spark, index_dir))
        if refresh_scores:
            # the domain-authority twin of the derived refresh: fold only
            # the link files this drain appended (additive indegree; see
            # plans.backlinks.refresh_domain_scores delta semantics).
            # Idempotent and self-healing, so it runs every drain.
            from ..plans.backlinks import refresh_domain_scores
            s = refresh_domain_scores(spark, index_dir, mode="indegree",
                                      delta=True)
            totals["n_domains"] = s["n_domains"]
    return totals

