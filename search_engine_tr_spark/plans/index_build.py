"""Inverted-index build: pages → postings → posting blocks.

Spark-first layout (vs the reference's one-DB-row-per-occurrence,
indexer.py:28-38):

- ``doc_map``     (url, doc_id)                    dense stable ids (docids.py)
- ``postings``    (doc_id, term, tf, positions, tags)   flat logical index
- ``term_stats``  (term, df, term_bucket)          exact df for BM25 idf
- ``blocks``      (term, shard, block_no, n, max_doc_id, max_tfnorm,
                   avgdl0, block)
                  parquet partitioned BY term_bucket → query-term partition
                  pruning, the scalable replacement for the reference's
                  27-way first-letter routing (src/models/db.py:105-114)
- ``pages_text``  (url, text, lang)                extracted text (snippets)
- ``doc_meta``    (doc_id, url, title, description, keywords)  result page
- ``links``       (source_url, link_type, target_url, anchor_text)  backlinks

Skew strategy (north rule): every term's posting list is doc-sharded into
``n_shards`` sub-lists (shard = pmod(xxhash64(doc_id), S)) that are merged
at score time by the global top-k — this IS the "split a head term's
postings into term#salt sub-lists" salting: a Zipfian head term occupying
50% of documents costs any single task at most df/S postings. The block
packer repartitions by (term_bucket, shard), sorts within partitions and
streams each term run into blocks, so no task ever holds more than one
term run of one shard. Skew ratios (max/mean postings per bucket and per
shard) are read off the written blocks and reported in the build metrics.

Scale notes (100 TB / 1000 executors):
- pages → postings is one map-only stage (``postings_from_pages``: the
  doc_map join, then tokenize and per-(doc, term) counts in one kernel);
  the only exchange keyed on terms is the (term_bucket, shard)
  repartition for block packing.
- the build runs in url-hash chunks recorded in a lineage manifest
  (checkpoint.py): a rerun skips finished chunks, and a rewritten chunk
  or blocks table has deterministic content, so a resumed build is
  bit-identical.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codec import BLOCK_SIZE, encode_block
from ..functions.text import (extract_links_udf, extract_meta_udf,
                              extract_text_udf)
from ..oracle.refscore import BM25_B, BM25_K1
from . import fsio
from .checkpoint import Manifest, input_fingerprint, run_resumable_partitions
from .docids import assign_doc_ids
from .stats import CorpusStats, corpus_stats, doc_lengths


@dataclass
class IndexPaths:
    root: str

    @property
    def doc_map(self) -> str: return os.path.join(self.root, "doc_map")
    @property
    def postings(self) -> str: return os.path.join(self.root, "postings")
    @property
    def term_stats(self) -> str: return os.path.join(self.root, "term_stats")
    @property
    def blocks(self) -> str: return os.path.join(self.root, "blocks")
    @property
    def meta(self) -> str: return os.path.join(self.root, "meta.json")
    @property
    def pages_text(self) -> str: return os.path.join(self.root, "pages_text")
    @property
    def links(self) -> str: return os.path.join(self.root, "links")
    @property
    def doc_meta(self) -> str: return os.path.join(self.root, "doc_meta")
    @property
    def domain_scores(self) -> str: return os.path.join(self.root, "domain_scores")
    @property
    def manifest(self) -> str: return os.path.join(self.root, "manifest.json")


# the tables a build writes per chunk; the rest span the whole snapshot
_CHUNKED_TABLES = ("postings", "pages_text", "doc_meta", "links")


def read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Layout-agnostic read of a page-derived table (postings, pages_text,
    doc_meta, links, doc_map). A chunked build writes them under
    ``chunk=N`` subdirectories while incremental ingest appends flat
    files at the table root; partition INFERENCE on that mixed layout
    silently drops the top-level files (found in optimization round 6 —
    an appended batch became unsearchable after a chunked bootstrap) and
    adds a ``chunk`` column. ``recursiveFileLookup`` unions every file
    regardless of nesting and skips the synthetic ``chunk`` column, which
    no reader uses."""
    return (spark.read.option("recursiveFileLookup", "true")
            .parquet(table_dir))


def extract_pages(pages: DataFrame) -> DataFrame:
    """Fill the ``text`` column (byte-identical per url, input_hint)."""
    return pages.withColumn("text", extract_text_udf(F.col("html")))


_POSTINGS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("tf", T.IntegerType(), False),
    T.StructField("positions", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("tags", T.ArrayType(T.StringType(), False), False),
])


def _postings_rows_batches(batches):
    """mapInPandas kernel: (doc_id, html) batches → postings rows.

    A document's occurrences all live in ITS OWN input row (the tokenizer
    is per-page), so the per-(doc, term) aggregation is row-local: no
    occurrence ever crosses an exchange. Occurrence order is the
    tokenizer's global location counter (strictly increasing), so per-term
    (loc, tag) pairs appended in emission order are sorted by position
    (A1). Pages with a NULL body are skipped and pages with no tokens emit
    nothing (the empty-body guard, indexer.py:19-22). Module-level so
    every caller pickles the identical function (plan canonicalization)."""
    from ..oracle.htmltext import tokenize

    for pdf in batches:
        out_doc: list = []
        out_term: list = []
        out_tf: list = []
        out_pos: list = []
        out_tags: list = []
        for did, html in zip(pdf["doc_id"], pdf["html"]):
            if html is None:
                continue
            content = bytes(html).decode("utf-8", errors="ignore")
            occ = tokenize(content)
            if not occ:
                continue
            by: dict = {}
            for word, loc, tag in occ:
                e = by.get(word)
                if e is None:
                    by[word] = ([loc], [tag])
                else:
                    e[0].append(loc)
                    e[1].append(tag)
            did = int(did)
            for word, (locs, tags) in by.items():
                out_doc.append(did)
                out_term.append(word)
                out_tf.append(len(locs))
                out_pos.append(locs)
                out_tags.append(tags)
        yield pd.DataFrame({"doc_id": out_doc, "term": out_term,
                            "tf": out_tf, "positions": out_pos,
                            "tags": out_tags})


def postings_from_pages(pages: DataFrame, doc_map: DataFrame) -> DataFrame:
    """(doc_id, term, tf, positions, tags): the one way pages become
    postings (build_index's chunks and the ingest).
    The doc_map join happens BEFORE tokenization, so one row per PAGE
    crosses the join (guide §3.3), and the per-(doc, term) aggregation
    runs inside the tokenize kernel (``_postings_rows_batches``): the plan
    is map-only, with no aggregate and no per-token shuffle. A url that
    appears twice in ``pages`` yields one row set per copy."""
    with_ids = (pages
                .filter(F.col("html").isNotNull())
                .join(doc_map, "url")
                .select("doc_id", "html"))
    return with_ids.mapInPandas(_postings_rows_batches,
                                schema=_POSTINGS_SCHEMA)


_BLOCK_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("term_bucket", T.IntegerType(), False),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("block_no", T.IntegerType(), False),
    T.StructField("n", T.IntegerType(), False),
    T.StructField("max_doc_id", T.LongType(), False),
    T.StructField("max_tfnorm", T.DoubleType(), False),
    # the avgdl the packer used for max_tfnorm. Blocks appended later by
    # refresh_derived_delta are packed under a DIFFERENT (newer) avgdl, and
    # the corpus avgdl keeps moving as docs arrive — the reader restores a
    # valid upper bound by scaling max_tfnorm with max(1, avgdl_now/avgdl0)
    # (tfnorm grows at most linearly in avgdl; see BM25Index.search)
    T.StructField("avgdl0", T.DoubleType(), False),
    T.StructField("block", T.BinaryType(), False),
])


def _sorted_stream_packer(avgdl: float, k1: float = BM25_K1, b: float = BM25_B):
    """mapInPandas fn over a (term_bucket, shard)-hashed, fully sorted
    partition: streams Arrow batches, emitting each term's blocks as its
    sorted run completes. Peak memory = one Arrow batch + one term's
    in-flight run (df/S postings) — NOT the whole group.

    max_tfnorm is the term-independent part of the BM25 impact upper bound;
    at query time block max impact = idf(term) * max_tfnorm (exact bound).
    """
    cols = [f.name for f in _BLOCK_SCHEMA.fields]

    def pack(batches):
        carry = None  # (key(bucket, shard, term), docs, tfs, dls)
        out_rows: list = []

        def emit(key, d, t, l):
            bucket, shard, term = key
            tfnorm = (t * (k1 + 1.0)) / (t + k1 * (1.0 - b + b * l / avgdl))
            for bno, off in enumerate(range(0, len(d), BLOCK_SIZE)):
                hi = min(off + BLOCK_SIZE, len(d))
                blk = encode_block(d[off:hi].astype(np.uint64),
                                   t[off:hi].astype(np.uint64),
                                   l[off:hi].astype(np.uint64))
                out_rows.append((term, int(bucket), int(shard), bno,
                                 int(hi - off), int(d[hi - 1]),
                                 float(tfnorm[off:hi].max()),
                                 float(avgdl), blk))

        for pdf in batches:
            if pdf.empty:
                continue
            buckets = pdf["term_bucket"].to_numpy()
            shards = pdf["shard"].to_numpy()
            terms = pdf["term"].to_numpy()
            docs = pdf["doc_id"].to_numpy(np.int64)
            tfs = pdf["tf"].to_numpy(np.int64)
            dls = pdf["dl"].to_numpy(np.int64)
            change = np.concatenate(([True],
                                     (terms[1:] != terms[:-1])
                                     | (buckets[1:] != buckets[:-1])
                                     | (shards[1:] != shards[:-1])))
            starts = np.nonzero(change)[0]
            ends = np.concatenate((starts[1:], [len(terms)]))
            last = len(starts) - 1
            for i, (s, e) in enumerate(zip(starts, ends)):
                key = (buckets[s], shards[s], terms[s])
                d, t, l = docs[s:e], tfs[s:e], dls[s:e]
                if carry is not None:
                    if carry[0] == key:  # run continues across batches
                        d = np.concatenate((carry[1], d))
                        t = np.concatenate((carry[2], t))
                        l = np.concatenate((carry[3], l))
                    else:
                        emit(carry[0], carry[1], carry[2], carry[3])
                    carry = None
                if i == last:
                    carry = (key, d, t, l)  # may continue into next batch
                else:
                    emit(key, d, t, l)
            if out_rows:
                yield pd.DataFrame(out_rows, columns=cols)
                out_rows = []
        if carry is not None:
            emit(carry[0], carry[1], carry[2], carry[3])
        if out_rows:
            yield pd.DataFrame(out_rows, columns=cols)

    return pack


def build_blocks(postings: DataFrame, doclens: DataFrame, avgdl: float,
                 n_shards: int, term_buckets: int) -> DataFrame:
    """The north-rule multi-pass sorted merge: repartition on the block key
    and SORT WITHIN PARTITIONS, then stream-pack — Spark's external sort
    spills arbitrarily large partitions to disk, and the packer never holds
    more than one term run, so task memory stays bounded however large a
    (term_bucket, shard) group or a single term grows."""
    return (postings.select("doc_id", "term", "tf")
            .join(doclens, "doc_id")
            .withColumn("shard",
                        F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int"))
            .withColumn("term_bucket",
                        F.pmod(F.xxhash64("term"), F.lit(term_buckets)).cast("int"))
            .repartition("term_bucket", "shard")
            .sortWithinPartitions("term_bucket", "shard", "term", "doc_id")
            .mapInPandas(_sorted_stream_packer(avgdl), schema=_BLOCK_SCHEMA))


def write_derived(spark: SparkSession, postings: DataFrame, paths: IndexPaths,
                  n_shards: int, term_buckets: int) -> CorpusStats:
    """Overwrite ``blocks`` and ``term_stats`` from ``postings``; returns
    the corpus stats the blocks were packed under. The one writer of the
    full derived tables (build_index's finalize and rebuild_derived);
    refresh_derived_delta appends deltas instead.

    The blocks are clustered by term_bucket before the partitioned write
    (guide §6): the packer's output partitions each hold many buckets, so
    a direct partitionBy write sprays one file per (task × bucket) —
    measured 891 files for a 12k-page build — where clustering writes ONE
    file per bucket.

    term_stats is derived FROM the written blocks (guide §2.3): every
    posting of a term lands in exactly one block, so df = Σ block.n —
    grouping the blocks table (one row per term×shard×block, ≪ postings
    rows) replaces a second full-postings aggregate, and term_stats can
    never disagree with the blocks it serves. Partitioned by term_bucket:
    a query's df/idf lookup prunes to its terms' buckets instead of
    scanning every term row."""
    # doclens is derived (dl is packed into the blocks; the query path never
    # reads a doclens table) — cache instead of a write+read round-trip
    doclens = doc_lengths(postings).cache()
    stats = corpus_stats(doclens)
    (build_blocks(postings, doclens, stats.avgdl, n_shards, term_buckets)
     .repartition("term_bucket")
     .write.mode("overwrite")
     .partitionBy("term_bucket")
     .parquet(paths.blocks))
    doclens.unpersist()
    (spark.read.parquet(paths.blocks)
     .groupBy("term", "term_bucket")
     .agg(F.sum("n").cast("long").alias("df"))
     .select("term", "df", "term_bucket")
     .write.mode("overwrite")
     .partitionBy("term_bucket")
     .parquet(paths.term_stats))
    return stats


def _max_over_mean(counts: dict) -> float:
    """max/mean of the per-key posting counts (keys with no postings are
    absent, as in a groupBy of the postings themselves)."""
    if not counts:
        return 0.0
    return max(counts.values()) / (sum(counts.values()) / len(counts))


def write_build_meta(spark: SparkSession, paths: IndexPaths,
                     stats: CorpusStats, n_shards: int, term_buckets: int,
                     elapsed: float) -> dict:
    """Write meta.json of a full build and return it: the corpus stats
    ``write_derived`` packed under, the delta-refresh keys, the BM25 and
    layout parameters, throughput, and the skew ratios
    ``skew_term_bucket``/``skew_shard`` (max/mean postings per key). The
    one meta writer of build_index's finalize."""
    n_pages = stats.n_docs  # every non-empty page is a doc
    # n_pages_mapped counts doc_map rows, which INCLUDES zero-token pages
    # (in doc_map but never in postings) — it is the convergent staleness
    # sentinel for incremental ingest, where postings-derived n_docs is not
    _dm_max, n_pages_mapped = fsio.column_max_count(spark, paths.doc_map,
                                                    "doc_id")
    metrics = {
        "n_docs": stats.n_docs,
        "n_pages_mapped": n_pages_mapped,
        # high-water mark of doc_ids covered by the derived tables: later
        # appends carry strictly larger ids, so a delta refresh reads only
        # postings with doc_id > this (row-group stats prune base files)
        "derived_max_doc_id": -1 if _dm_max is None else _dm_max,
        "n_pages": n_pages,
        "avgdl": stats.avgdl,
        "total_postings": stats.total_postings,
        "n_shards": n_shards,
        "term_buckets": term_buckets,
        "block_size": BLOCK_SIZE,
        "k1": BM25_K1,
        "b": BM25_B,
        "build_sec": elapsed,
        "docs_per_sec": n_pages / elapsed if elapsed else 0.0,
        "postings_per_sec": stats.total_postings / elapsed if elapsed else 0.0,
    }
    # skew ratios (max/mean postings per term bucket and per shard) from one
    # ≤ term_buckets × n_shards-row aggregate of the written blocks: every
    # posting lies in exactly one block, so Σn per key is its postings count
    per_bucket, per_shard = Counter(), Counter()
    for r in (spark.read.parquet(paths.blocks)
              .groupBy("term_bucket", "shard").agg(F.sum("n").alias("n"))
              .collect()):
        per_bucket[r["term_bucket"]] += r["n"]
        per_shard[r["shard"]] += r["n"]
    metrics["skew_term_bucket"] = _max_over_mean(per_bucket)
    metrics["skew_shard"] = _max_over_mean(per_shard)
    fsio.write_json(spark, paths.meta, metrics)
    return metrics


def materialize_doc_meta(pages: DataFrame, doc_map: DataFrame,
                         out_path: str, mode: str = "overwrite") -> None:
    """(doc_id, url, title, description, keywords) — the result-page
    metadata the reference attaches to every hit (src/modules/pagerank.py:
    119-126, document_search_client_CLI.py:57-61). ``mode='append'`` is
    the incremental-ingest form (new docs only)."""
    (pages.select("url", extract_meta_udf(F.col("html")).alias("m"))
     .join(doc_map, "url")
     .select("doc_id", "url",
             F.col("m.title").alias("title"),
             F.col("m.description").alias("description"),
             F.col("m.keywords").alias("keywords"))
     .write.mode(mode).parquet(out_path))


def materialize_links(pages: DataFrame, out_path: str,
                      mode: str = "overwrite") -> None:
    """(source_url, link_type, target_url, anchor_text) — the backlinks
    table the reference's crawler persists and backlink_analyser.py:29-62
    consumes. One explode over the Arrow-batched link extractor; map-only."""
    (pages.select(
        F.col("url").alias("source_url"),
        F.explode(extract_links_udf(F.col("url"), F.col("html"))).alias("l"))
     .select("source_url",
             F.col("l.type").alias("link_type"),
             F.col("l.href").alias("target_url"),
             F.col("l.anchor_text").alias("anchor_text"))
     .write.mode(mode).parquet(out_path))


def build_index(spark: SparkSession, pages: DataFrame, out_dir: str,
                n_shards: int = 32, term_buckets: int = 64,
                n_chunks: int = 1) -> dict:
    """The index build: writes all seven tables under ``out_dir`` and
    returns meta.json's dict plus the ``ran``/``skipped`` chunk lists.
    Resumable (north rule): ``manifest.json`` (``checkpoint.Manifest``)
    records each finished step and chunk, and a rerun skips them.

    - **input**: the manifest records the input fingerprint
      (``checkpoint.input_fingerprint``) and ``n_chunks``/``n_shards``/
      ``term_buckets``; a rerun with other values raises.
    - **doc_map** runs over the FULL snapshot, so ids are identical
      however chunks interleave (SURVEY.md §7.3).
    - **chunks**: chunk c holds the pages with pmod(xxhash64(url),
      n_chunks) = c and writes postings, doc_meta, links and, in a driver
      thread beside them, pages_text (the input_hint contract column)
      under ``<table>/chunk=c``, or at the table roots when n_chunks = 1.
      A killed chunk is rewritten whole; the manifest takes its row
      counts from the parquet footers (``fsio.row_count``).
    - **finalize**: blocks and term_stats by ``write_derived``, meta.json
      by ``write_build_meta``.

    A rerun of a finished build returns its meta.json; ``build_sec`` of a
    resumed build is its last call's wall time.
    """
    paths = IndexPaths(out_dir)
    t0 = time.monotonic()
    manifest = Manifest(spark, paths.manifest)
    _check_input(manifest, pages, n_chunks=n_chunks, n_shards=n_shards,
                 term_buckets=term_buckets)

    # guide §2.5: an under-split pages input (e.g. one unsplittable parquet
    # row group) would pin every UDF stage below — extract, tokenize, link
    # parse — to one task; the widen is a no-op when pages is already
    # split, i.e. on any real corpus
    from ..session import ensure_scan_parallelism
    pages = ensure_scan_parallelism(pages)

    def do_chunk(cid: int) -> dict:
        part, dirs = pages, {t: getattr(paths, t) for t in _CHUNKED_TABLES}
        if n_chunks > 1:
            # the chunk filter is a computed hash no scan can prune: cache
            # the chunk's pages so its four writes below read the input
            # once, not four times
            part = pages.filter(
                F.pmod(F.xxhash64("url"), F.lit(n_chunks)) == cid).cache()
            part.count()
            dirs = {t: os.path.join(d, f"chunk={cid}")
                    for t, d in dirs.items()}
        # pages_text depends only on the pages: its write runs in a driver
        # thread CONCURRENT with the chunk's other writes (guide §2.6: one
        # job's task tail back-fills with the next job's tasks); errors
        # propagate after the join.
        text_err: list = []

        def write_text() -> None:
            try:
                spark.sparkContext.setJobDescription("build: pages_text")
                (extract_pages(part).select("url", "text", "lang")
                 .write.mode("overwrite").parquet(dirs["pages_text"]))
            except BaseException as e:  # re-raised on the main thread
                text_err.append(e)

        text_thread = threading.Thread(target=write_text,
                                       name="build-pages-text")
        text_thread.start()
        try:
            if not manifest.step_done("doc_map"):
                assign_doc_ids(pages).write.mode("overwrite") \
                    .parquet(paths.doc_map)
                manifest.mark_step("doc_map",
                                   rows=fsio.row_count(spark, paths.doc_map))
            doc_map = spark.read.parquet(paths.doc_map)
            materialize_doc_meta(part, doc_map, dirs["doc_meta"])
            materialize_links(part, dirs["links"])
            postings_from_pages(part, doc_map) \
                .write.mode("overwrite").parquet(dirs["postings"])
        finally:
            text_thread.join()
            if part is not pages:
                part.unpersist()
        if text_err:
            raise text_err[0]
        return {t: fsio.row_count(spark, d) for t, d in dirs.items()}

    summary = run_resumable_partitions(manifest, list(range(n_chunks)),
                                       do_chunk)
    if manifest.step_done("finalize"):
        meta = load_meta(out_dir, spark)
    else:
        stats = write_derived(spark, read_table(spark, paths.postings), paths,
                              n_shards, term_buckets)
        meta = write_build_meta(spark, paths, stats, n_shards, term_buckets,
                                time.monotonic() - t0)
        manifest.mark_step("finalize", **{k: v for k, v in meta.items()
                                          if isinstance(v, (int, float))})
    return {**meta, **summary}


def _check_input(manifest: Manifest, pages: DataFrame,
                 **params: int) -> None:
    """Record the input fingerprint and the build ``params`` in the
    manifest's ``input_snapshot`` step, or, when the step is there, raise
    ValueError if any recorded value differs: a resume must see the same
    input and the same chunking, sharding and bucketing as the run it
    continues."""
    fp = {**input_fingerprint(pages), **params}
    recorded = manifest.state["steps"].get("input_snapshot")
    if recorded is None:
        manifest.mark_step("input_snapshot", **fp)
        return
    # only the keys the manifest has: older manifests lack content_xor
    # and the build parameters
    for key in ("n_rows", "url_xor", "content_xor", *params):
        if key in recorded and recorded[key] != fp[key]:
            raise ValueError(
                f"resume refused: {key} changed ({recorded[key]} → "
                f"{fp[key]}) — the manifest at {manifest.path} belongs to "
                f"a different input snapshot or build")


def load_meta(out_dir: str, spark: SparkSession | None = None) -> dict:
    """Read meta.json. With ``spark`` the read goes through plans.fsio
    (any Hadoop filesystem); without it only driver-local roots work."""
    if spark is not None:
        return fsio.read_json(spark, IndexPaths(out_dir).meta)
    with open(IndexPaths(out_dir).meta) as f:
        return json.load(f)
