"""Standing backlink → domain-authority pipeline.

Reference: ``backlink_analyser.py:29-62`` re-scores every domain from the
backlinks table every 20 minutes (``task_scheduler.py:10-11``): +1 to the
target's base URL per cross-domain backlink, same-domain and
same-subdomain edges skipped. Here that loop is one aggregate over the
``links`` table that ``build_index`` materializes, with an optional
PageRank upgrade, persisted as a ``domain_scores`` table that both the
parity ranker (``operators.refrank.reference_rank``) and the BM25 engine
mode (``BM25Index.search_blended``) consume.

Scale notes: links → edges is map-only; indegree is one groupBy with
map-side partial aggregation; pagerank is the iterative join plan in
``operators.pagerank`` (lineage cut per iteration). The scores table is
one row per domain — tiny relative to the corpus, always broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pagerank import (cross_domain_edges, indegree_authority,
                                  pagerank)
from . import fsio
from .index_build import IndexPaths, read_table


def external_links(links: DataFrame) -> DataFrame:
    """Backlink rows: EXTERNAL hrefs only — the reference stores only
    crawlable absolute links as backlinks; INTERNAL edges would be dropped
    by the same-domain rule anyway and relative hrefs have no host."""
    return links.filter(F.col("link_type") == "EXTERNAL")


def domain_scores_from_links(links: DataFrame,
                             mode: str = "indegree",
                             damping: float = 0.85,
                             max_iter: int = 20) -> DataFrame:
    """→ (domain, score). ``indegree`` is reference parity; ``pagerank``
    runs the damped power iteration over the base-URL graph."""
    ext = external_links(links)
    if mode == "indegree":
        return indegree_authority(ext)
    if mode == "pagerank":
        edges = (cross_domain_edges(ext)
                 .select(F.col("_sb").alias("src"), F.col("_tb").alias("dst")))
        return (pagerank(edges, damping=damping, max_iter=max_iter)
                .select(F.col("node").alias("domain"),
                        F.col("rank").alias("score")))
    raise ValueError(f"unknown mode {mode!r}")


def refresh_domain_scores(spark: SparkSession, index_dir: str,
                          mode: str = "indegree",
                          damping: float = 0.85,
                          max_iter: int = 20,
                          delta: bool = False) -> dict:
    """Read ``links`` under ``index_dir``, write ``domain_scores``.

    The batch equivalent of the reference's 20-minute rescore loop — run it
    on whatever cadence the deployment wants; by default every run fully
    replaces the scores (the reference also zeroes before re-adding,
    backlink_analyser.py:36-40).

    ``delta=True`` (indegree mode only — counts are ADDITIVE over link-row
    subsets, PageRank is not) makes the refresh data-proportional for the
    100 TB cadence story: only link FILES appended since the last refresh
    are read (the sidecar records the processed file set), their
    cross-domain counts are summed into the existing scores, and the
    result overwrites the table. Crash-safe by generation matching: the
    NEW generation is published to ``_scores_gen.json`` BEFORE the scores
    overwrite (poisoning the whole write window) and ``_scores_meta.json``
    is committed only after it — so a crash anywhere between the three
    writes leaves gen ≠ meta.gen, and the next run (like a mode change,
    or a links compaction that REWROTE old files so the processed set is
    no longer a subset of the current listing) falls back to one full
    recompute that re-baselines both sidecars. Gen-first ordering
    matters: a marker written AFTER the scores would leave a crash
    between those two writes invisible, and the replayed delta would
    double-count (round-5 review finding). Value parity with the full
    recompute is pinned by test_linkgraph_e2e."""
    import hashlib
    import json as _json
    import os

    paths = IndexPaths(index_dir)
    meta_path = os.path.join(index_dir, "_scores_meta.json")
    gen_path = os.path.join(index_dir, "_scores_gen.json")

    def _links_files() -> list[str]:
        return sorted(f for f in fsio.list_files_recursive(spark, paths.links)
                      if f.endswith(".parquet"))

    def _gen_of(files: list[str]) -> str:
        return hashlib.sha1(_json.dumps(files).encode()).hexdigest()[:16]

    def _full(files: list[str]) -> dict:
        # read exactly the LISTED files, not the directory: a concurrent
        # ingest may append link files between the listing and this read,
        # and folding them while absent from meta.files would double-count
        # them on the next delta run (ADVICE r5 #1)
        links = spark.read.parquet(*files) if files \
            else read_table(spark, paths.links).limit(0)
        scores = domain_scores_from_links(links, mode, damping, max_iter) \
            .localCheckpoint()
        # gen FIRST: poisons the write window (see docstring)
        g = _gen_of(files)
        fsio.write_json(spark, gen_path, {"gen": g})
        scores.write.mode("overwrite").parquet(paths.domain_scores)
        fsio.write_json(spark, meta_path,
                        {"mode": mode, "files": files, "gen": g})
        return {"mode": mode, "n_domains": scores.count(), "full": True}

    files_now = _links_files()
    if not delta:
        return _full(files_now)
    if mode != "indegree":
        raise ValueError("delta refresh requires additive counts "
                         "(mode='indegree'); pagerank must recompute")
    try:
        meta = fsio.read_json(spark, meta_path)
        gen = fsio.read_json(spark, gen_path)
    except Exception:
        return _full(files_now)  # first run (or lost sidecars)
    done = meta.get("files", [])
    if (meta.get("mode") != mode or meta.get("gen") != gen.get("gen")
            or not set(done) <= set(files_now)):
        # crashed mid-refresh, mode switch, or links were compacted:
        # one full recompute re-baselines everything
        return _full(files_now)
    new_files = [f for f in files_now if f not in set(done)]
    if not new_files:
        out = spark.read.parquet(paths.domain_scores)
        return {"mode": mode, "n_domains": out.count(), "delta_files": 0}
    old = spark.read.parquet(paths.domain_scores)
    add = domain_scores_from_links(spark.read.parquet(*new_files), mode)
    merged = (old.unionByName(add)
              .groupBy("domain").agg(F.sum("score").alias("score"))
              .localCheckpoint())  # sever lineage: overwrite reads itself
    # gen FIRST (see docstring): a crash anywhere below leaves
    # gen ≠ meta.gen and the next run re-baselines with a full recompute
    g = _gen_of(files_now)
    fsio.write_json(spark, gen_path, {"gen": g})
    merged.write.mode("overwrite").parquet(paths.domain_scores)
    fsio.write_json(spark, meta_path,
                    {"mode": mode, "files": files_now, "gen": g})
    return {"mode": mode, "n_domains": merged.count(),
            "delta_files": len(new_files)}
