"""Small-file compaction for parquet tables — the OPTIMIZE-style
maintenance pass an incremental pipeline needs: appends (e.g.
``incremental_index_update``'s per-batch postings) accumulate many small
files, and at cluster scale the file-listing + task-per-file overhead
eventually dominates scans.

Strategy: size the output file count from the table's actual bytes
(``target_mb`` per file), rewrite with a single round-robin repartition
(no column skew — compaction must not reshuffle semantics, only layout),
and swap atomically: write to ``<path>.__compact_tmp``, move the old dir
to ``<path>.__compact_old``, rename tmp into place, delete old. A crash
at any point leaves the data recoverable: either a table is readable at
``path``, or (crash between the two renames) the next call's recovery
block restores ``old`` back to ``path`` before doing anything else —
``old`` is never deleted unless ``path`` exists.

Partitioned tables: pass ``partition_by`` to preserve the directory
layout (each partition's files are compacted within it).

Scope: the stat/swap plumbing uses the local filesystem (os.walk /
os.rename), which is what this sandbox has. On HDFS/S3 swap through the
Hadoop FileSystem API (rename is atomic on HDFS; on S3 prefer a
table-format rewrite — Iceberg rewrite_data_files — since S3 "rename" is
copy+delete). The Spark rewrite itself is storage-agnostic.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession


def _dir_stats(path: str) -> tuple[int, int]:
    """(total_bytes, n_data_files) of the parquet files under path."""
    total, n = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return total, n


def compact_parquet(spark: SparkSession, path: str, target_mb: int = 128,
                    partition_by: list[str] | None = None) -> dict:
    """Rewrite the parquet table at ``path`` into ~target_mb files,
    atomically. Returns {files_before, files_after, bytes, skipped}."""
    tmp = path.rstrip("/") + ".__compact_tmp"
    old = path.rstrip("/") + ".__compact_old"
    # crash recovery ORDER MATTERS: a crash between the two swap renames
    # leaves no table at `path` and the only surviving data in `old` —
    # restore it FIRST; only a leftover alongside an intact `path` is an
    # orphan safe to clear (never delete `old` unless `path` exists)
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(path):
        shutil.rmtree(old, ignore_errors=True)

    total, files_before = _dir_stats(path)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    if partition_by:
        # one task per hash(partition cols) bucket → ONE file per partition
        # directory; the converged state is therefore n_partition_dirs
        # files (a partition larger than target_mb still yields one file —
        # acceptable for layout maintenance)
        n_dirs = sum(1 for d in os.listdir(path)
                     if "=" in d and os.path.isdir(os.path.join(path, d)))
        converged = max(n_out, n_dirs)
    else:
        converged = n_out
    if files_before <= converged:
        return {"files_before": files_before, "files_after": files_before,
                "bytes": total, "skipped": True}

    if partition_by:
        # mergeSchema: files of one partitioned table may carry different
        # columns (term_stats' delta files add ``gen``, older blocks files
        # lack ``avgdl0``); a plain read takes one footer's schema and the
        # rewrite would drop the other files' extra columns
        df = spark.read.option("mergeSchema", "true").parquet(path)
        writer = (df.repartition(n_out, *partition_by)
                  .write.mode("overwrite").partitionBy(*partition_by))
    else:
        # layout-flat tables may mix a chunked build's chunk=N subdirs
        # with flat ingest appends: read_table reads every file of both
        from .index_build import read_table
        df = read_table(spark, path)
        writer = df.repartition(n_out).write.mode("overwrite")
    writer.parquet(tmp)

    # atomic-enough swap: two renames; any crash point leaves the data
    # recoverable (at `path` until the first rename, in `old` between the
    # renames — restored by the recovery block above — at `path` after)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    _, files_after = _dir_stats(path)
    return {"files_before": files_before, "files_after": files_after,
            "bytes": total, "skipped": False}
