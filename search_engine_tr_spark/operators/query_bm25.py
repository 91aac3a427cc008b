"""Distributed BM25 top-k over the packed block index.

Query lifecycle (Spark mapping of SURVEY.md §3.1):
1. normalize the raw query with the SAME function as the oracle
   (functions.text.normalize_query — CLI parity, client_CLI.py:30-32)
2. look up df/term_bucket for the query terms → idf per term, candidate
   bucket list. In the default memory mode this is a probe of the driver
   lexicon the reader read once at construction: zero Spark jobs. In
   pruned mode, terms missing from the reader's LRU memo cost one tiny
   term_stats scan (bucket partitions pruned, term predicate pushed down)
3. read ONLY the matching ``term_bucket=`` partitions of the blocks table
   (directory-level partition pruning — the scalable replacement for the
   reference's 27-table routing) with a pushed-down term filter
4. score. Work whose postings fit under
   ``BM25Index._DRIVER_MAX_POSTINGS`` — a query's Σdf, known from step 2,
   or a ``search_many`` batch's scored rows, Σ over its queries of Σdf —
   is scored on the driver: one filtered ``pyarrow.dataset`` read of the
   pruned blocks (zero Spark jobs), one vectorized decode of them all
   (``codec.decode_blocks``), one impact per posting and one vectorized
   exact scoring pass for every query (``wand.batch_topk``); a single query
   is a batch of one. Each block is decoded once per batch, not once per
   query that uses it. ``mode="exhaustive"`` single queries keep the
   independent oracle instead, one ``wand.exhaustive_topk`` over the same
   blocks, so that wand == exhaustive still compares two scorers. Larger
   queries run the per-shard block-max WAND (or exhaustive) kernel inside
   one Arrow-batched applyInPandas group per shard — each head term's
   postings are split across all shards, so no task sees more than
   df/n_shards postings — and larger batches run every query's kernel in
   one applyInPandas pass per shard
5. global (score desc, doc_id asc) top-k: the driver scorers rank it
   themselves; ``orderBy(...).limit(k)`` → TakeOrderedAndProject (no full
   sort) merges a query's per-shard top-k on the distributed path, and a
   per-shard batch is merged per query:
   the union of every shard's exact top-k holds the global top-k, so when
   that union is bounded by ``_DRIVER_MAX_POSTINGS`` rows it is collected
   and merged by a pandas sort on the driver; above the bound a per-query
   Window top-k and an ``orderBy`` do it in Spark.
   Result pages then fetch the k hits' url/title/description with ONE
   ``doc_id ∈ ids`` pyarrow read (J3 pattern): k rows, zero Spark jobs,
   never a broadcast or shuffle of the whole table, attached to the page
   by an index lookup of each hit's row.
6. every answer computed on the driver is returned as driver rows:
   ``collect()`` reads them directly, other uses build the LocalRelation
   once (``_DriverFrame``) — no ``createDataFrame`` and no
   ``collectToPython`` round trip on the path that only collects.

The driver reads go through ``pyarrow.dataset``s opened once per reader.
An index root pyarrow cannot open (``_arrow_root``) sends every query and
batch to the distributed regimes and its pages to a Spark k-row read.
"""

from __future__ import annotations

import posixpath
from collections import OrderedDict
from functools import cached_property

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import to_arrow_schema
# the row constructor Spark's collect unpickles its rows with
from pyspark.sql.types import _create_row

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

from ..functions.codec import decode_blocks
from ..functions.text import normalize_query
from ..oracle.refscore import bm25_idf
from ..plans import fsio
from ..plans.fsio import arrow_root as _arrow_root
from ..plans.index_build import IndexPaths, read_table
from .wand import batch_topk, exhaustive_topk, impacts_for, wand_topk

_RESULT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


# column types of the frames the reader builds on the driver
_COL_TYPES = {"query": T.StringType(), "doc_id": T.LongType(),
              "score": T.DoubleType(), "bm25": T.DoubleType(),
              "authority": T.DoubleType(), "url": T.StringType(),
              "title": T.StringType(), "description": T.StringType()}

# term_stats as the reader reads it, in Spark and in pyarrow. One explicit
# schema: the optional ``gen`` column (absent in base-rebuild files, present
# in delta files) resolves as null rather than depending on which footer is
# sampled
_TSTATS_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()), T.StructField("df", T.LongType()),
    T.StructField("gen", T.LongType()),
    T.StructField("term_bucket", T.IntegerType())])
_TSTATS_ARROW = to_arrow_schema(_TSTATS_SCHEMA)

# the blocks table as the driver reads it. One explicit schema: a file
# without ``avgdl0`` reads it as null, which rescales by 1.0, as in Spark
_BLOCKS_ARROW = pa.schema([
    ("term", pa.string()), ("shard", pa.int32()), ("block_no", pa.int32()),
    ("n", pa.int32()), ("max_doc_id", pa.int64()),
    ("max_tfnorm", pa.float64()), ("avgdl0", pa.float64()),
    ("block", pa.binary()), ("term_bucket", pa.int32())])


def _kernel(mode: str):
    """The per-shard top-k kernel of a search ``mode``."""
    if mode == "wand":
        return wand_topk
    if mode == "exhaustive":
        return exhaustive_topk
    raise ValueError(f"unknown mode {mode!r}")


class _DriverFrame(ClassicDataFrame):
    """A reader-session frame over driver rows ``pdf``. ``collect`` reads
    them directly: no Spark call, no job. Every other use goes through
    ``_jdf``, which builds the LocalRelation on first access and keeps it.
    Arrow turns a NON-empty pandas frame into a LocalRelation; an empty one
    (like a list of rows) would become a Python-RDD scan and cost a job, so
    an empty result is a one-row range under ``limit(0)``, which the
    optimizer folds to an empty LocalTableScan.

    Subclasses PySpark's classic (JVM-backed) frame: ``pyspark.sql.DataFrame``
    is a facade whose ``__new__`` returns the classic class, so it cannot be
    subclassed itself."""

    def __new__(cls, pdf: pd.DataFrame, session: SparkSession):
        return object.__new__(cls)

    def __init__(self, pdf: pd.DataFrame, session: SparkSession):
        self._pdf = pdf
        super().__init__(None, session)  # the relation is built on demand

    @property
    def _jdf(self):
        if self._relation is None:
            pdf = self._pdf
            schema = T.StructType([T.StructField(c, _COL_TYPES[c])
                                   for c in pdf.columns])
            if len(pdf):
                df = self._session.createDataFrame(pdf, schema)
            else:
                df = self._session.range(1).select(
                    *[F.lit(None).cast(f.dataType).alias(f.name)
                      for f in schema]).limit(0)
            self._relation = df._jdf
        return self._relation

    @_jdf.setter
    def _jdf(self, jdf):
        self._relation = jdf

    def collect(self) -> list[Row]:
        """The driver rows as Spark's collect gives them: ``tolist`` turns
        each column into Python int, float, str and None values."""
        names = list(self._pdf.columns)
        cols = [s.tolist() for _, s in self._pdf.items()]
        return [_create_row(names, values) for values in zip(*cols)]


def _blocks_by_term(pdf: pd.DataFrame) -> dict[str, list]:
    """Block rows → term → its blocks [(max_doc_id, max_tfnorm, block)] in
    doc order, the kernels' input. max_doc_id, not block_no, is the
    doc-order key once delta blocks exist: a delta append restarts
    block_no at 0 but its doc range lies strictly above every base
    block's."""
    pdf = pdf.sort_values(["term", "max_doc_id"], kind="mergesort")
    per_term: dict[str, list] = {}
    for term, max_doc, max_tfn, buf in zip(
            pdf["term"], pdf["max_doc_id"], pdf["max_tfnorm"], pdf["block"]):
        per_term.setdefault(term, []).append(
            (int(max_doc), float(max_tfn), bytes(buf)))
    return per_term


def _top_frame(rows: list) -> pd.DataFrame:
    """(doc_id, score) rows → a typed driver frame, empty included."""
    return pd.DataFrame(rows, columns=["doc_id", "score"]).astype(
        {"doc_id": "int64", "score": "float64"})


def _sum_df(rows) -> dict[str, tuple[int, int]]:
    """(term, df, term_bucket) term_stats rows → term → (df, term_bucket),
    df SUMMED across a term's rows: an incrementally-refreshed index holds
    one base row plus one row per delta refresh for a term (same
    term_bucket — it is a pure hash of the term)."""
    found: dict[str, tuple[int, int]] = {}
    for term, df, bucket in rows:
        found[term] = (found.get(term, (0, 0))[0] + int(df), int(bucket))
    return found


class BM25Index:
    """Reader over an index directory produced by plans.index_build.

    **Snapshot semantics**: a BM25Index is a frozen CONSISTENT snapshot at
    the committed derived generation. meta.json (n_docs/avgdl/
    derived_max_doc_id) is read once at construction, and both derived
    scans are bounded to that generation — blocks to ``max_doc_id <=
    derived_max_doc_id`` and delta term_stats rows to ``gen <=
    derived_max_doc_id`` (pushed-down row-group filters, no extra job). A
    reader constructed MID-refresh (between the delta appends and the meta
    commit) therefore serves exactly the pre-refresh index rather than the
    torn state the appends alone would expose (new blocks scored under old
    n_docs/avgdl and a wrong avgdl0 rescale; ADVICE r5). Construct a new
    reader to observe a later generation."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 tstats_mode: str = "memory"):
        """``tstats_mode``:

        - "memory" (default, single-node/bench): the committed term_stats
          are read ONCE here into a driver dict term → (df, term_bucket),
          so every term lookup is a dict probe — zero Spark jobs, nothing
          cached in Spark. Fine while the vocabulary fits on the driver.
          On a root pyarrow can open the read is a pyarrow one, so the
          open launches no Spark job either; on other roots (``s3a://``)
          it is one Spark collect.
        - "pruned" (the 10^12-doc path): term_stats stays on disk
          (partitioned by term_bucket at build time); each query's unseen
          terms cost one lookup job that reads ONLY their buckets'
          partitions — the df/idf lookup cost is bounded by the query's
          buckets, not the vocabulary — and an LRU memo of looked-up terms
          spares repeated terms that job.

        The reader's sibling session runs with HALF the parent session's
        shuffle partitions, floor 8: only the distributed regimes (queries
        and batches above ``_DRIVER_MAX_POSTINGS``) shuffle, and a top-k
        reduce side is shards × k tiny rows plus a ms-scale kernel per
        shard, so two shards per task halves the scheduling overhead that
        dominates short queries (measured at sf0.1: p50 451→352 ms,
        batch1000 268→325 qps; BENCH notes r5). The Spark blocks frame
        those regimes scan is built on their first use (``_blocks``), not
        here."""
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.meta = fsio.read_json(spark, self.paths.meta)
        self.n_docs = int(self.meta["n_docs"])
        self.avgdl = float(self.meta["avgdl"])
        self.term_buckets = int(self.meta.get("term_buckets", 64))
        # Query jobs are short multi-stage pipelines over pruned, small
        # inputs; AQE's per-stage re-optimization round-trips cost more
        # than they save there (measured: sequential p50 525→375 ms, p95
        # 866→430 ms, batch1000 2-3× — BENCH notes r4). Run ALL reader
        # jobs in a sibling session with AQE off; index BUILD jobs keep
        # the parent session's AQE (skew-join handling matters there).
        # newSession shares the SparkContext and table cache, so nothing
        # is re-read, and cross-session joins with caller frames work.
        self._qspark = spark.newSession()
        self._qspark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            parent = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            parent = 200
        self._qspark.conf.set("spark.sql.shuffle.partitions",
                              str(max(8, parent // 2)))
        # the committed snapshot bound (see class docstring); None for a
        # pre-delta meta, where no uncommitted generation can exist
        self._committed_max = (int(self.meta["derived_max_doc_id"])
                               if "derived_max_doc_id" in self.meta else None)
        # the driver regimes' datasets: blocks now, doc_meta / doc_map on
        # first use. Opening lists the files once, which freezes them as
        # Spark's file index does
        self._arrow = _arrow_root(index_dir)
        self._datasets: dict[str, ds.Dataset] = {}
        if self._arrow is not None:
            fs, root = self._arrow
            self._datasets["blocks"] = ds.dataset(
                posixpath.join(root, "blocks"), schema=_BLOCKS_ARROW,
                format="parquet", filesystem=fs, partitioning="hive")
        self.tstats_mode = tstats_mode
        if tstats_mode == "memory":
            self._lexicon: dict[str, tuple[int, int]] | None = \
                _sum_df(self._lexicon_rows())
        elif tstats_mode == "pruned":
            self._lexicon = None
        else:
            raise ValueError(f"unknown tstats_mode {tstats_mode!r}")
        self._domain_scores = None
        # pruned mode's per-term (df, bucket) LRU memo — a BM25Index is a
        # snapshot reader (n_docs/avgdl frozen at construction), so term
        # stats are immutable for its lifetime; repeated terms skip the
        # lookup job entirely, and the cap keeps a long run of distinct
        # queries from growing the driver without bound
        self._term_memo: OrderedDict[str, tuple[int, int] | None] = \
            OrderedDict()

    @cached_property
    def _blocks(self) -> DataFrame:
        """The committed blocks as a Spark frame, for the distributed
        regimes: built on first use, so an open whose queries stay on the
        driver resolves no blocks schema through Spark."""
        blocks = self._qspark.read.parquet(self.paths.blocks)
        if self._committed_max is not None:
            # excludes exactly an in-flight refresh's delta blocks (every
            # committed block's doc range is <= the committed high-water
            # mark); row-group stats prune, so steady state cost is zero
            blocks = blocks.filter(
                F.col("max_doc_id") <= F.lit(self._committed_max))
        if "avgdl0" in blocks.columns:
            # blocks appended incrementally (refresh_derived_delta) were
            # packed under the avgdl of THEIR refresh; the corpus avgdl has
            # moved since. tfnorm(avgdl_b)/tfnorm(avgdl_a) ≤ avgdl_b/avgdl_a
            # for avgdl_b ≥ avgdl_a (the dl term dominates the ratio), so
            # scaling the stored bound by max(1, avgdl_now/avgdl0) restores
            # a VALID block-max upper bound — WAND stays exact, merely a
            # little looser on stale blocks. Same-generation blocks scale
            # by exactly 1.0 (bit-identical behavior).
            blocks = blocks.withColumn(
                "max_tfnorm",
                F.col("max_tfnorm")
                * F.greatest(F.lit(1.0),
                             F.lit(float(self.meta["avgdl"]))
                             / F.col("avgdl0")))
        return blocks

    def _read_term_stats(self) -> DataFrame:
        """term_stats scan bounded to the committed generation, with the
        explicit schema ``_TSTATS_SCHEMA``."""
        scan = (self._qspark.read.schema(_TSTATS_SCHEMA)
                .parquet(self.paths.term_stats))
        if self._committed_max is not None:
            scan = scan.filter(
                F.col("gen").isNull()
                | (F.col("gen") <= F.lit(self._committed_max)))
        return scan

    def _lexicon_rows(self):
        """(term, df, term_bucket) rows of the committed term_stats for the
        memory-mode lexicon: one filtered pyarrow read (hive partitions,
        ``_TSTATS_ARROW``, the same generation bound), zero Spark jobs; on
        a root pyarrow cannot open, one Arrow ``toPandas`` of the Spark
        scan."""
        cols = ["term", "df", "term_bucket"]
        if self._arrow is None:
            pdf = self._read_term_stats().select(*cols).toPandas()
            return pdf.itertuples(index=False, name=None)
        fs, root = self._arrow
        where = None
        if self._committed_max is not None:
            where = (ds.field("gen").is_null()
                     | (ds.field("gen") <= self._committed_max))
        table = ds.dataset(
            posixpath.join(root, "term_stats"), schema=_TSTATS_ARROW,
            format="parquet", filesystem=fs,
            partitioning="hive").to_table(columns=cols, filter=where)
        return zip(*(table[c].to_pylist() for c in cols))

    # -- query plumbing ----------------------------------------------------
    def query_terms(self, raw_query: str) -> list[str]:
        """Unique engine-mode terms, first-appearance order."""
        return list(dict.fromkeys(t for t in normalize_query(raw_query) if t))

    # above this many lookup values, switch from isin literals to a
    # broadcast join: a 30k-literal In expression is a pathological
    # Catalyst tree (parse/optimize cost grows with the batch), while a
    # broadcast hash join of a tiny values frame is flat
    _ISIN_MAX = 256

    # rows the driver handles per call: a single query whose postings (Σdf
    # over its terms) are at most this many, and a batch whose scored rows
    # (Σ_q Σdf_q, which also bounds its distinct terms' postings) are at
    # most this many, are decoded and scored on the driver by ``batch_topk``
    # (module docstring, step 4; a single query is a batch of one), and a
    # larger batch whose per-shard candidates (Σ_q min(n_shards·k, Σdf_q))
    # are at most this many is merged on the driver (step 5). The driver
    # regimes read with pyarrow: zero Spark jobs. Measured on 4 vCPU at
    # 5000 pages (CHANGES.md), the single-query driver path with the batch
    # scorer is faster at every size up to 247k postings (179 vs 12492 ms),
    # 69% of that corpus's postings, so the crossover lies beyond what that
    # corpus can measure; with the per-shard driver cursor it lay between
    # 114k and 150k postings. The cap stays until a serve workload with
    # head-term queries measures it. It bounds driver work per call
    # independently of corpus size
    _DRIVER_MAX_POSTINGS = 1 << 16

    # term memo entries kept (least recently used evicted first)
    _TERM_MEMO_MAX = 1 << 16

    def _buckets_of(self, terms: list[str]) -> list[int]:
        """term_bucket of each query term, computed DRIVER-SIDE with the
        pure-Python twin of the JVM bucket hash (functions.xxh, parity
        pinned by test) — zero Spark jobs, which is what makes the
        single-action search path possible."""
        from ..functions.xxh import term_bucket
        return sorted({term_bucket(t, self.term_buckets) for t in terms})

    def _isin(self, df: DataFrame, col: str, values: list) -> DataFrame:
        """col ∈ values — isin literals for small sets, broadcast join for
        big batches (10k-query batches union tens of thousands of terms).
        The broadcast side is built from pandas in the reader session, so
        it is a LocalRelation: a list of rows would be a Python-RDD scan
        and cost a job of its own."""
        if len(values) <= self._ISIN_MAX:
            return df.filter(F.col(col).isin(values))
        vdf = self._qspark.createDataFrame(
            pd.DataFrame({col: sorted(set(values))}),
            T.StructType([df.schema[col]]))
        return df.join(F.broadcast(vdf), col)

    def _local(self, pdf: pd.DataFrame) -> DataFrame:
        """Driver rows → a reader-session frame of them (``_DriverFrame``):
        ``collect()`` reads them directly, other uses build the
        LocalRelation once. Neither launches a Spark job."""
        return _DriverFrame(pdf, self._qspark)

    def _read(self, table: str, columns: list[str],
              where: ds.Expression) -> pd.DataFrame:
        """The ``columns`` of the ``table`` rows matching ``where``: one
        filtered pyarrow read, zero Spark jobs. doc_meta and doc_map are
        opened on first use."""
        if table not in self._datasets:
            fs, root = self._arrow
            self._datasets[table] = ds.dataset(
                posixpath.join(root, table), format="parquet", filesystem=fs)
        return self._datasets[table].to_table(columns=columns,
                                              filter=where).to_pandas()

    def _fetch_blocks(self,
                      tmeta: list[tuple[str, int, int]]) -> pd.DataFrame:
        """(shard, term, max_doc_id, max_tfnorm, block) of the committed
        blocks of the looked-up terms ``tmeta``: the ``term_bucket``
        directories of their buckets only, filtered on term and on the
        committed generation. ``max_tfnorm`` comes rescaled by
        max(1, avgdl/avgdl0), the same IEEE ops as the Spark scan's."""
        where = (ds.field("term_bucket").isin(sorted({b for *_, b in tmeta}))
                 & ds.field("term").isin([t for t, *_ in tmeta]))
        if self._committed_max is not None:
            where &= ds.field("max_doc_id") <= self._committed_max
        pdf = self._read("blocks", ["shard", "term", "max_doc_id",
                                    "max_tfnorm", "avgdl0", "block"], where)
        pdf["max_tfnorm"] *= np.fmax(1.0, self.avgdl / pdf.pop("avgdl0"))
        return pdf

    def _term_meta(self, terms: list[str]) -> list[tuple[str, int, int]]:
        """[(term, df, term_bucket)] for terms present in the index."""
        if self._lexicon is not None:
            lex = self._lexicon
            return [(t, *lex[t]) for t in terms if t in lex]
        memo = self._term_memo
        got: dict[str, tuple[int, int] | None] = {}
        missing = []
        for t in terms:
            if t in memo:
                memo.move_to_end(t)
                got[t] = memo[t]
            else:
                missing.append(t)
        if missing:
            # directory-level pruning to the missing terms' buckets
            scan = self._read_term_stats().filter(
                F.col("term_bucket").isin(self._buckets_of(missing)))
            found = _sum_df(self._isin(scan, "term", missing)
                            .select("term", "df", "term_bucket").collect())
            for t in missing:
                got[t] = memo[t] = found.get(t)  # None = absent, memoized
            while len(memo) > self._TERM_MEMO_MAX:
                memo.popitem(last=False)
        return [(t, *got[t]) for t in terms if got[t] is not None]

    def search(self, raw_query: str, k: int = 10,
               mode: str = "wand") -> DataFrame:
        """→ DataFrame(doc_id, score) — global top-k, (score desc, doc_id asc).

        Plan shape (measured in BENCH notes r5): term df/idf comes from the
        driver lookup (zero jobs in memory mode; in pruned mode zero for
        memo hits, one tiny collect for new terms) and rides the kernel
        closure; bucket routing is driver-side hashing (functions.xxh — no
        job). A single-action
        variant that broadcast-joined a df frame into the block scan was
        tried and REVERTED: the extra agg + broadcast-build stages cost
        more scheduling latency per query than the collect they replaced
        (p50 533 → 812 ms at sf0.1).

        Queries at most ``_DRIVER_MAX_POSTINGS`` postings long are answered
        EAGERLY (zero Spark jobs: a pyarrow block read, then ``batch_topk``
        on the driver as a batch of one, or ``exhaustive_topk`` for
        ``mode="exhaustive"``) and come back as driver rows: ``collect()``
        reads them directly, other uses build the LocalRelation once; so
        does a query with no indexed term. Larger queries, and every query
        on a root pyarrow cannot open, return the lazy distributed plan."""
        top = self._topk(raw_query, k, mode)
        if isinstance(top, pd.DataFrame):
            return self._local(top)
        return top

    def _topk(self, raw_query: str, k: int,
              mode: str) -> pd.DataFrame | DataFrame:
        """The top-k rows: a driver pandas frame for small queries (and for
        no hit), the lazy distributed frame above the postings cap or
        without a pyarrow root. On the driver, "wand" is a batch of one
        through ``_score_batch`` and "exhaustive" one ``exhaustive_topk``
        call over the same blocks; the per-shard ``shard_topk`` kernel runs
        only inside the distributed plan."""
        kernel = _kernel(mode)
        tmeta = self._term_meta(self.query_terms(raw_query))
        if not tmeta:
            return _top_frame([])
        idfs = {t: bm25_idf(self.n_docs, df) for t, df, _ in tmeta}
        term_list = [t for t, _, _ in tmeta]
        avgdl = self.avgdl
        postings = sum(df for _, df, _ in tmeta)
        if self._arrow is not None and postings <= self._DRIVER_MAX_POSTINGS:
            if mode == "wand":
                return self._score_batch(tmeta, {raw_query: term_list}, idfs,
                                         k)[["doc_id", "score"]]
            # the oracle over every fetched block at once, its terms in
            # query-term order: a doc has at most one posting per term, so
            # its impacts are summed in query-term order across shards too
            per_term = _blocks_by_term(self._fetch_blocks(tmeta))
            return _top_frame(exhaustive_topk(
                [(idfs[t], per_term[t]) for t in term_list if t in per_term],
                k, avgdl))

        def shard_topk(pdf: pd.DataFrame) -> pd.DataFrame:
            per_term = _blocks_by_term(pdf)
            top = kernel([(idfs[t], per_term[t]) for t in term_list
                          if t in per_term], k, avgdl)
            return pd.DataFrame(top, columns=["doc_id", "score"])

        blocks = (self._blocks
                  .filter(F.col("term_bucket").isin(
                      sorted({b for _, _, b in tmeta})))
                  .filter(F.col("term").isin(term_list)))
        local = blocks.groupBy("shard").applyInPandas(shard_topk,
                                                      _RESULT_SCHEMA)
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_many(self, raw_queries: list[str], k: int = 10,
                    mode: str = "wand") -> DataFrame:
        """Batched top-k for MANY queries → (query, doc_id, score), per
        query (score desc, doc_id asc), ≤ k rows each, queries ascending.

        Duplicate raw queries are deduplicated: the result has ONE group per
        DISTINCT query string (callers fan results back out by joining on
        the query column) — len(set(raw_queries)) groups, not
        len(raw_queries).

        One term lookup for the union of terms (on the driver in memory
        mode; one term_stats job for memo misses in pruned mode) and one
        pruned block read for the union of (bucket, term) serve the whole
        batch. The looked-up dfs then pick one of three regimes before any
        job runs (module docstring, steps 4–5):

        1. the batch's scored rows Σ_q Σdf_q are at most
           ``_DRIVER_MAX_POSTINGS``: the pruned blocks are fetched with one
           pyarrow read (zero Spark jobs), decoded in one vectorized pass,
           weighed once per posting, and every query is scored exactly in
           one vectorized pass (``wand.batch_topk``) — both modes share
           this exact scorer, as WAND is exact too. No broadcast variable,
           no Python worker; the result is driver rows: ``collect()`` reads
           them directly, other uses build the LocalRelation once.
        2. above that, while the per-shard candidates Σ_q min(n_shards·k,
           Σdf_q) fit under the same bound: one applyInPandas pass per shard
           runs every query's kernel against the blocks it holds, its
           output is collected with Arrow, merged by a pandas sort and
           returned as driver rows, as in regime 1.
        3. above both: the lazy plan ranks per query with a Window over the
           shuffled candidates and sorts the result with ``orderBy``.

        On a root pyarrow cannot open, regime 1 is skipped. Regimes 1–2 run
        eagerly: regime 1 launches no Spark job, regime 2 one (plus one
        per broadcast join side of more than ``_ISIN_MAX`` terms); pruned
        mode adds the lookup job for memo misses. In regimes 2–3 the
        query→terms map and idf table ride a Spark broadcast variable, not
        closure capture, so a 10k-query batch is shipped to each executor
        once; regime 2 destroys it after its collect. Python ``str`` order
        is code-point order, the same as Spark's UTF-8 binary order."""
        from pyspark.sql import Window

        kernel = _kernel(mode)
        per_query = {q: self.query_terms(q) for q in raw_queries}
        all_terms = sorted({t for ts in per_query.values() for t in ts})
        tmeta = self._term_meta(all_terms)
        present = {t for t, _, _ in tmeta}
        idfs = {t: bm25_idf(self.n_docs, df) for t, df, _ in tmeta}
        qterms = {q: [t for t in ts if t in present]
                  for q, ts in per_query.items()}
        live = {q: ts for q, ts in qterms.items() if ts}
        schema = T.StructType([T.StructField("query", T.StringType(), False),
                               *_RESULT_SCHEMA.fields])
        if not live:
            return self._local(pd.DataFrame(columns=schema.names))

        df_of = {t: df for t, df, _ in tmeta}
        postings = [sum(df_of[t] for t in ts) for ts in live.values()]
        if (self._arrow is not None
                and sum(postings) <= self._DRIVER_MAX_POSTINGS):
            return self._local(self._score_batch(tmeta, live, idfs, k))
        blocks = self._isin(
            self._blocks.filter(F.col("term_bucket").isin(
                sorted({b for _, _, b in tmeta}))),
            "term", sorted(present))

        avgdl = self.avgdl
        batch_bc = self.spark.sparkContext.broadcast(
            {"live": live, "idfs": idfs})

        def shard_topk_many(pdf: pd.DataFrame) -> pd.DataFrame:
            payload = batch_bc.value
            b_live, b_idfs = payload["live"], payload["idfs"]
            per_term = _blocks_by_term(pdf)
            out = []
            for q, terms in b_live.items():
                tb = [(b_idfs[t], per_term[t]) for t in terms if t in per_term]
                if not tb:
                    continue
                for doc, score in kernel(tb, k, avgdl):
                    out.append((q, doc, score))
            return pd.DataFrame(out, columns=["query", "doc_id", "score"])

        local = blocks.groupBy("shard").applyInPandas(shard_topk_many, schema)
        n_shards = int(self.meta["n_shards"])
        bound = sum(min(n_shards * k, n) for n in postings)
        if bound > self._DRIVER_MAX_POSTINGS:
            w = Window.partitionBy("query").orderBy(F.desc("score"),
                                                    F.asc("doc_id"))
            return (local.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") <= k)
                    .drop("_rn")
                    .orderBy("query", F.desc("score"), F.asc("doc_id")))
        try:
            pdf = local.toPandas()
        finally:
            batch_bc.destroy()
        top = (pdf.sort_values(["query", "score", "doc_id"],
                               ascending=[True, False, True])
               .groupby("query").head(k))
        return self._local(top.reset_index(drop=True))

    def _score_batch(self, tmeta: list[tuple[str, int, int]],
                     live: dict[str, list[str]], idfs: dict[str, float],
                     k: int) -> pd.DataFrame:
        """The driver scorer of ``search_many`` and of single "wand"
        queries (a batch of one): the blocks of the batch's terms
        ``tmeta`` fetched in one pyarrow read and decoded at once, each
        posting's impact computed once (the same elementwise ops as per
        term, so the same bits), every query of ``live`` scored by
        ``batch_topk``."""
        pdf = self._fetch_blocks(tmeta)
        terms = sorted(idfs)
        tix = {t: i for i, t in enumerate(terms)}
        docs, tfs, dls, counts = decode_blocks(pdf["block"])
        term_ids = np.repeat(pdf["term"].map(tix).to_numpy(np.int64), counts)
        idf = np.array([idfs[t] for t in terms])[term_ids]
        names = sorted(live)
        qi, doc, score = batch_topk(
            term_ids, docs, impacts_for(tfs, dls, idf, self.avgdl),
            [[tix[t] for t in live[q]] for q in names], k)
        return pd.DataFrame({"query": np.array(names, dtype=object)[qi],
                             "doc_id": doc, "score": score})

    def _page(self, raw_query: str, k: int, mode: str) -> pd.DataFrame:
        """The top-k rows on the driver, whichever path computed them."""
        top = self._topk(raw_query, k, mode)
        return top if isinstance(top, pd.DataFrame) else top.toPandas()

    def _attach(self, top: pd.DataFrame, table: str,
                cols: list[str]) -> pd.DataFrame:
        """Left-join ``cols`` of index table ``table`` onto the page rows
        ``top`` by doc_id, keeping their order: ONE ``doc_id ∈ ids`` pyarrow
        read of the page's ids — k rows, zero Spark jobs. On a root pyarrow
        cannot open, the same k rows come from a pushed-down Spark
        ``doc_id IN (...)`` read. Either read's rows are looked up by doc_id
        position; a hit without a row and a stored null both come back as
        None. An empty page reads nothing."""
        if top.empty:
            return top.assign(**{c: None for c in cols})
        ids = top["doc_id"].tolist()
        if self._arrow is not None:
            rows = self._read(table, ["doc_id", *cols],
                              ds.field("doc_id").isin(ids))
        else:
            rows = self._isin(
                read_table(self._qspark, getattr(self.paths, table)),
                "doc_id", ids).select("doc_id", *cols).toPandas()
        # each hit's row position; -1 (no row) picks the appended None, the
        # null a left join gives
        at = pd.Index(rows["doc_id"]).get_indexer(ids)
        return top.assign(**{c: np.append(rows[c].to_numpy(object), None)[at]
                             for c in cols})

    def search_with_urls(self, raw_query: str, k: int = 10,
                         mode: str = "wand") -> DataFrame:
        """Top-k + url → (doc_id, score, url), (score desc, doc_id asc),
        as driver rows: ``collect()`` reads them directly, other uses build
        the LocalRelation once. The url is fetched for the k hits only."""
        return self._local(self._attach(self._page(raw_query, k, mode),
                                        "doc_map", ["url"]))

    def search_with_meta(self, raw_query: str, k: int = 10,
                         mode: str = "wand") -> DataFrame:
        """Top-k + url + title + description — full J3 parity with the
        reference result page (src/modules/pagerank.py:119-126,
        document_search_client_CLI.py:57-61). ``doc_meta`` carries the url
        too, so the whole page is one k-row pyarrow read of it after the
        top-k; a page under ``_DRIVER_MAX_POSTINGS`` costs zero Spark jobs
        (in pruned mode, plus the lookup job for memo misses), and so does
        a no-hit one. The page comes back as driver rows: ``collect()``
        reads them directly, other uses build the LocalRelation once."""
        page = self._attach(self._page(raw_query, k, mode), "doc_meta",
                            ["url", "title", "description"])
        return self._local(
            page[["doc_id", "url", "score", "title", "description"]])

    def search_blended(self, raw_query: str, k: int = 10,
                       mode: str = "wand", alpha: float = 0.1,
                       candidates: int | None = None,
                       with_meta: bool = False) -> DataFrame:
        """BM25 × domain-authority blend — the engine-mode counterpart of
        the reference's backlink-score pass (backlink_analyser.py +
        document_score_calculator authority term).

        Takes the BM25 top-C (C = ``candidates`` or max(10k, 100)), joins
        each hit's base URL against the persisted ``domain_scores`` table
        (plans.backlinks.refresh_domain_scores), and re-ranks by
        ``bm25 * (1 + alpha * ln(1 + authority))`` — a multiplicative boost
        so zero-authority domains keep their BM25 order and alpha=0 is
        exactly plain BM25. Missing scores table → authority 0 everywhere
        (detected by a ``plans.fsio.exists`` probe — a Hadoop-FS call, so
        hdfs://, s3a:// index roots blend too; the fallback is logged).

        → (doc_id, url, score, bm25, authority), (score desc, doc_id asc).
        The candidate set is k-bounded, the scores table is one row per
        domain: both joins are post-limit broadcasts."""
        from ..functions.urlfns import base_url_col

        c = candidates or max(10 * k, 100)
        top = self.search_with_urls(raw_query, c, mode) \
            .withColumnRenamed("score", "bm25")
        if self._domain_scores is None:
            # probe with one Hadoop-FS call (any filesystem, unlike an
            # os.path.isdir probe) before reading: a missing table costs no
            # Spark read and no JVM stack trace. Not memoized as missing:
            # the table may appear after a later backlinks_job run and the
            # next query picks it up. A corrupt or unreadable table RAISES
            # here rather than silently serving authority=0
            if fsio.exists(self.spark, self.paths.domain_scores):
                scores_df = self._qspark.read.parquet(self.paths.domain_scores)
                scores_df.schema  # force resolution now, not at join time
                self._domain_scores = scores_df
            else:
                import logging
                logging.getLogger(__name__).warning(
                    "domain_scores table missing at %s — search_blended "
                    "falling back to plain BM25 (authority=0)",
                    self.paths.domain_scores)
        top = top.withColumn("_base", base_url_col(F.col("url")))
        if self._domain_scores is not None:
            scores = self._domain_scores.select(
                F.col("domain").alias("_base"), F.col("score").alias("_auth"))
            top = top.join(F.broadcast(scores), "_base", "left")
        else:
            top = top.withColumn("_auth", F.lit(None).cast("double"))
        blended = (top
                   .withColumn("authority", F.coalesce("_auth", F.lit(0.0)))
                   .withColumn("score",
                               F.col("bm25") *
                               (1.0 + F.lit(alpha) * F.log1p(F.col("authority")))))
        out = (blended
               .select("doc_id", "url", "score", "bm25", "authority")
               .orderBy(F.desc("score"), F.asc("doc_id"))
               .limit(k))
        if not with_meta:
            return out
        # title/description AFTER the limit, like search_with_meta
        return self._local(self._attach(out.toPandas(), "doc_meta",
                                        ["title", "description"]))
