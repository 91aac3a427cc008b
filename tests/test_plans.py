"""Physical-plan audits: the properties that make queries scale must be
visible in the executed plan, not just intended — top-k compiles to
TakeOrderedAndProject (no global sort), the block reader prunes partitions
and pushes term filters, scans prune columns, small-side joins broadcast,
and postings are built map-only, with no aggregate or term-keyed shuffle."""

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from search_engine_tr_spark.operators.query_bm25 import BM25Index

SF = "/root/testdata/sf0.01"


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_topk_is_take_ordered_not_global_sort(spark):
    p = _plan(entry_mod.q_topk_orders(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_scan_pushdown_and_column_pruning(spark):
    p = _plan(entry_mod.q_scan_project(spark, SF))
    assert "PushedFilters" in p and "l_quantity" in p
    # projection reaches the reader: only the 4 selected columns are read
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_comment" not in read_schema[0]
    assert "l_extendedprice" in read_schema[0]


def test_small_dim_join_broadcasts(spark):
    p = _plan(entry_mod.q_broadcast_join_agg(spark, SF))
    assert "BroadcastHashJoin" in p


def test_postings_kernel_is_map_only(spark):
    """Round-6 postings path: per-doc term counts are computed INSIDE the
    Arrow scan kernel (mapInArrow), so the flat token stream never crosses
    a shuffle — the plan must show the kernel and NO aggregate exchange
    (the only allowed exchange is the scan-parallelism round-robin, which
    moves one row per document, not per token)."""
    p = _plan(entry_mod.q_postings(spark, SF), mode="simple")
    assert "MapInArrow" in p
    assert "HashAggregate" not in p
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert all("RoundRobinPartitioning" in ln for ln in exchanges)


def test_postings_writers_are_map_only(spark, tiny_pages_df, tiny_index,
                                       tmp_path, monkeypatch):
    """The engine's page → postings plans — ``postings_from_pages`` and
    the postings frame each chunk of a chunked ``build_index`` writes —
    have no aggregate and no exchange keyed on a term: a document's
    postings come from its own page row, so no token occurrence crosses a
    shuffle."""
    from pyspark.sql.readwriter import DataFrameWriter

    from search_engine_tr_spark.plans.index_build import (build_index,
                                                          postings_from_pages)

    out, _ = tiny_index
    frames = [postings_from_pages(tiny_pages_df,
                                  spark.read.parquet(out + "/doc_map"))]
    written = []
    real = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append((path, self._df))
        return real(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", spy)
        build_index(spark, tiny_pages_df, str(tmp_path / "r"), n_shards=2,
                    term_buckets=4, n_chunks=2)
    chunks = [df for path, df in written
              if os.path.join("postings", "chunk=") in str(path)]
    assert len(chunks) == 2
    for df in frames + chunks:
        p = _plan(df, mode="simple")
        assert "HashAggregate" not in p
        keyed = [ln for ln in p.splitlines() if "Exchange" in ln
                 and ("term" in ln or "word" in ln)]
        assert not keyed, keyed


def test_bm25_block_read_prunes_partitions_and_pushes_terms(
        spark, tiny_index):
    out, _ = tiny_index
    idx = BM25Index(spark, out)
    terms = idx.query_terms("haber spor")
    tmeta = idx._term_meta(terms)
    assert tmeta
    buckets = sorted({b for _, _, b in tmeta})
    blocks = (idx._blocks
              .filter(F.col("term_bucket").isin(buckets))
              .filter(F.col("term").isin([t for t, _, _ in tmeta])))
    p = _plan(blocks)
    # directory-level pruning on the partition column...
    assert "PartitionFilters" in p and "term_bucket" in p
    # ...and the term filter pushed to the parquet reader
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "term" in pushed[0]


def test_pruned_tstats_mode_matches_memory_and_prunes(spark, tiny_index):
    """The 10^12-doc term-stats path: df/idf lookups read only the query
    terms' bucket partitions, and results are identical to memory mode."""
    out, _ = tiny_index
    mem = BM25Index(spark, out, tstats_mode="memory")
    pruned = BM25Index(spark, out, tstats_mode="pruned")
    terms = mem.query_terms("haber istanbul spor")
    assert pruned._term_meta(terms) == mem._term_meta(terms)
    assert ([r.asDict() for r in pruned.search("haber spor", k=5).collect()]
            == [r.asDict() for r in mem.search("haber spor", k=5).collect()])
    buckets = pruned._buckets_of(terms)
    # the lookup scan itself: no reader caches term_stats, so Spark's cache
    # manager has no InMemoryRelation to swap in for it
    scan = (pruned._read_term_stats()
            .filter(F.col("term_bucket").isin(buckets)))
    p = _plan(scan)
    assert "PartitionFilters" in p and "term_bucket" in p


def test_blended_search_joins_broadcast(spark, tiny_index, tmp_path):
    import shutil

    from search_engine_tr_spark.plans.backlinks import refresh_domain_scores

    # its own copy of the index: the shared one must keep no domain_scores
    # table (test_engine_e2e checks the missing-table fallback)
    out = shutil.copytree(tiny_index[0], str(tmp_path / "index"))
    refresh_domain_scores(spark, out, mode="indegree")
    idx = BM25Index(spark, out)
    p = _plan(idx.search_blended("haber spor", k=5))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # nothing shuffles on the result path


def test_phrase_chain_join_has_no_explode(spark, tiny_index):
    """Phrase matching must stay array-math over per-term position lists:
    no Generate (explode) node and no per-occurrence row blowup in the
    chain-join plan; the per-term postings reads push the term filter."""
    from search_engine_tr_spark.operators.phrase import phrase_match

    out, _ = tiny_index
    postings = spark.read.parquet(out + "/postings")
    df = phrase_match(postings, ["istanbul", "spor"])
    p = _plan(df)
    assert "Generate" not in p  # Generate == explode/posexplode node
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and any("term" in ln for ln in pushed)


def test_sequential_search_plan_is_aqe_free_and_pruned(spark, tiny_index,
                                                      monkeypatch):
    """The round-4 latency fix: per-query jobs run in the reader's sibling
    session with AQE disabled (measured ~30% p50 / 2x p95 win — AQE's
    per-stage re-plan dominates small pruned queries), while the parent
    session keeps AQE for builds. The plan must show no AdaptiveSparkPlan
    node and still prune block partitions. Checked on the distributed
    path (a query above the driver postings cap): small queries answer
    on the driver and return a local frame."""
    out, _ = tiny_index
    monkeypatch.setattr(BM25Index, "_DRIVER_MAX_POSTINGS", -1)
    idx = BM25Index(spark, out)
    assert idx._qspark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    p = _plan(idx.search("haber spor", k=5))
    assert "AdaptiveSparkPlan" not in p
    assert "TakeOrderedAndProject" in p
    assert "PartitionFilters" in p and "term_bucket" in p


def test_ntile_is_distributed_and_matches_window(spark):
    """Round-6: the global-quartile query must NOT funnel every row
    through one WindowExec task (no partition-less Window in the plan),
    and its distributed rank arithmetic must reproduce F.ntile exactly —
    checked on the fixture AND on a random frame with ties in the price
    column (the tie-break key keeps the order total)."""
    from pyspark.sql import Window

    df = entry_mod.q_ntile_buckets(spark, SF)
    assert "Window" not in _plan(df)
    got = {(r["o_orderkey"], r["quartile"]) for r in df.collect()}
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    ref = {(r["o_orderkey"], r["quartile"]) for r in
           entry_mod._t(spark, SF, "orders")
           .select("o_orderkey", F.ntile(4).over(w).alias("quartile"))
           .collect()}
    assert got == ref
    # adversarial: n not divisible by 4, duplicate prices
    rnd = spark.range(1003).select(
        F.col("id").alias("o_orderkey"),
        (F.pmod(F.xxhash64("id"), F.lit(97))).cast("double")
        .alias("o_totalprice"))
    import tempfile
    d = tempfile.mkdtemp(prefix="ntile_t_")
    rnd.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got2 = {(r["o_orderkey"], r["quartile"]) for r in
            entry_mod.q_ntile_buckets(spark, d).collect()}
    ref2 = {(r["o_orderkey"], r["quartile"]) for r in
            rnd.select("o_orderkey",
                       F.ntile(4).over(w).alias("quartile")).collect()}
    assert got2 == ref2
