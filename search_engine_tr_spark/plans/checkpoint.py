"""Resumable builds: lineage manifests + per-partition checkpointing.

Replaces the reference's truncate-and-rebuild-every-30-min scheduler
(task_scheduler.py:5-14, indexer.py:16) with an idempotent, resumable batch
build (north rule; ``index_build.build_index``): work is split into
deterministic url-hash chunks; each completed chunk is recorded in a JSON
lineage manifest with row counts and timings; a re-run skips completed
chunks and produces a bit-identical index.

The manifest is published atomically through ``plans.fsio`` after every
step and chunk, so a kill at any point loses at most the in-flight chunk,
and an index on any Hadoop filesystem resumes as a local one does.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio


class Manifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark, self.path = spark, path
        self.state: dict = {"steps": {}, "chunks": {}}
        if fsio.exists(spark, path):
            self.state = fsio.read_json(spark, path)

    def _flush(self) -> None:
        fsio.write_json(self.spark, self.path, self.state)

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
