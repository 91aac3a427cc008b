"""Resumable builds: lineage manifests + per-partition checkpointing.

Replaces the reference's truncate-and-rebuild-every-30-min scheduler
(task_scheduler.py:5-14, indexer.py:16) with an idempotent, resumable batch
build (north rule): work is split into deterministic url-hash chunks; each
completed chunk is recorded in a JSON lineage manifest with row counts and
timings; a re-run skips completed chunks and produces a bit-identical index.

The manifest is written atomically (tmp + rename) after every chunk, so a
kill at any point loses at most the in-flight chunk.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Manifest:
    def __init__(self, path: str):
        self.path = path
        self.state: dict = {"steps": {}, "chunks": {}}
        if os.path.exists(path):
            with open(path) as f:
                self.state = json.load(f)

    def _flush(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=2)
        os.replace(tmp, self.path)

    def step_done(self, name: str) -> bool:
        return self.state["steps"].get(name, {}).get("status") == "done"

    def mark_step(self, name: str, **info) -> None:
        self.state["steps"][name] = {"status": "done", **info}
        self._flush()

    def chunk_done(self, cid: int | str) -> bool:
        return self.state["chunks"].get(str(cid), {}).get("status") == "done"

    def mark_chunk(self, cid: int | str, **info) -> None:
        self.state["chunks"][str(cid)] = {"status": "done", **info}
        self._flush()


def run_resumable_partitions(manifest: Manifest, chunk_ids: list[int],
                             fn: Callable[[int], dict]) -> dict:
    """Run fn(cid) for every chunk not yet marked done; returns summary."""
    ran, skipped = [], []
    for cid in chunk_ids:
        if manifest.chunk_done(cid):
            skipped.append(cid)
            continue
        t0 = time.monotonic()
        info = fn(cid) or {}
        manifest.mark_chunk(cid, sec=time.monotonic() - t0, **info)
        ran.append(cid)
    return {"ran": ran, "skipped": skipped}


def input_fingerprint(pages: DataFrame) -> dict:
    """Order-independent input-snapshot fingerprint: row count, XOR of
    xxhash64(url), and XOR of xxhash64 over url + every content column
    present (html, warc_ts). One cheap aggregate; identical input ⇒
    identical value. The content XOR is what catches a recrawl with the
    SAME url set but CHANGED bytes — url_xor alone would wave it through
    and the resumable build would silently mix two snapshots' postings."""
    content_cols = ["url"] + [c for c in ("html", "warc_ts")
                              if c in pages.columns]
    row = pages.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("url")).alias("h"),
        F.bit_xor(F.xxhash64(*content_cols)).alias("c")).collect()[0]
    return {"n_rows": int(row["n"]), "url_xor": int(row["h"] or 0),
            "content_xor": int(row["c"] or 0)}


def build_index_resumable(spark: SparkSession, pages: DataFrame, out_dir: str,
                          n_chunks: int = 8, n_shards: int = 32,
                          term_buckets: int = 64,
                          input_ref: str | None = None) -> dict:
    """Chunked, resumable variant of plans.index_build.build_index.

    Chunking key = pmod(xxhash64(url), n_chunks). Each chunk runs
    ``index_build.postings_from_pages`` — the build's own map-only kernel,
    so a document's postings come from its one page row and chunks are
    independent and idempotent — and writes them under
    ``postings/chunk=N``. docID assignment runs over the FULL snapshot
    first (its own checkpointed step) so ids are identical regardless of
    chunk interleaving — the resume-bit-identical invariant (SURVEY.md
    §7.3). Row counts for the manifest come from the parquet footers.

    Lineage: the manifest records the input snapshot — the Iceberg snapshot
    id when ``input_ref`` is a catalog table (sources.catalog), else a
    content fingerprint — and a RESUME against different input raises
    instead of silently mixing two snapshots' postings.

    The finalize step writes blocks and term_stats with
    ``index_build.write_derived`` and meta.json with
    ``index_build.write_build_meta``, the writers ``build_index`` uses, so
    both builds give the same postings, derived tables and meta keys
    (``build_sec`` is this call's wall time).
    """
    from . import fsio
    from .docids import assign_doc_ids
    from .index_build import IndexPaths, postings_from_pages, \
        write_build_meta, write_derived

    t0 = time.monotonic()
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    manifest = Manifest(os.path.join(out_dir, "manifest.json"))

    fp = input_fingerprint(pages)
    if input_ref is not None:
        from ..sources.catalog import is_table_ref, snapshot_id
        if is_table_ref(input_ref):
            fp["iceberg_snapshot"] = snapshot_id(spark, input_ref)
        fp["ref"] = input_ref
    recorded = manifest.state["steps"].get("input_snapshot")
    if recorded is None:
        manifest.mark_step("input_snapshot", **fp)
    else:
        # content_xor checked only when the manifest has it (pre-round-3
        # manifests recorded n_rows/url_xor only)
        for key in ("n_rows", "url_xor", "content_xor"):
            if key not in recorded:
                continue
            if recorded.get(key) != fp[key]:
                raise ValueError(
                    f"resume refused: input {key} changed "
                    f"({recorded.get(key)} → {fp[key]}) — the manifest at "
                    f"{manifest.path} belongs to a different input snapshot")

    if not manifest.step_done("doc_map"):
        dm = assign_doc_ids(pages)
        dm.write.mode("overwrite").parquet(paths.doc_map)
        manifest.mark_step("doc_map", rows=fsio.column_max_count(
            spark, paths.doc_map, "doc_id")[1])
    doc_map = spark.read.parquet(paths.doc_map)

    chunked = pages.withColumn(
        "_chunk", F.pmod(F.xxhash64("url"), F.lit(n_chunks)).cast("int"))

    def do_chunk(cid: int) -> dict:
        part = chunked.filter(F.col("_chunk") == cid).drop("_chunk")
        out = os.path.join(paths.postings, f"chunk={cid}")
        postings_from_pages(part, doc_map).write.mode("overwrite").parquet(out)
        return {"postings": fsio.column_max_count(spark, out, "doc_id")[1]}

    summary = run_resumable_partitions(manifest, list(range(n_chunks)), do_chunk)

    if not manifest.step_done("finalize"):
        postings = spark.read.option("basePath", paths.postings).parquet(
            *[os.path.join(paths.postings, f"chunk={c}") for c in range(n_chunks)]
        ).drop("chunk")
        stats = write_derived(spark, postings, paths, n_shards, term_buckets)
        meta = write_build_meta(spark, paths, stats, n_shards, term_buckets,
                                time.monotonic() - t0)
        manifest.mark_step("finalize", **{k: v for k, v in meta.items()
                                          if isinstance(v, (int, float))})
    return summary
