"""Positional queries over the postings table: exact-phrase match and
conjunctive (all-terms) retrieval.

The reference stores (word, location, tag) per occurrence
(src/models/db.py:98-102) but never uses locations for matching — only
the ranker's proximity feature reads them. These operators are the upgrade
that storage was begging for: phrase match = every query term present with
CONSECUTIVE locations in the INDEX'S position space.

Position-space caveat (inherited, deliberate): the index tokenizer
(oracle/htmltext.tokenize, crawler.py:217-245 parity) runs ONE global
per-doc counter across the weighted-tag records, and nested tags REPLAY
their words (an <a> inside a <p> contributes under both). Consequently
(1) a phrase spanning a tag-record boundary can match even though the
words are not textually adjacent, and (2) a phrase inside a nested tag
counts once per replaying record. That is what "phrase over this index"
means — matching the exact positions the reference persists; a
text-adjacency phrase would need a different tokenizer, not a different
operator. The parity test pins this by recounting from the oracle
tokenizer's own positions.

Plan shape: the postings read prunes to the query's terms (predicate
pushdown), each term contributes one (doc_id, positions) row per doc;
terms chain-join on doc_id in phrase order (offsets are relative to that
order) with the candidate position set shrinking at every step, and the
consecutive-position check is pure array math (F.filter/array_contains)
inside the join projection — no explode, no UDF, no per-occurrence rows.

Scale note: at 10^12 docs the postings table should itself be
term_bucket-partitioned (same layout as blocks/term_stats) so the per-term
reads prune directories; the operator is layout-agnostic — it only needs
(doc_id, term, positions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_query


def _term_positions(postings: DataFrame, term: str, alias: str) -> DataFrame:
    return (postings.filter(F.col("term") == term)
            .select("doc_id", F.col("positions").alias(alias)))


def phrase_match(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Docs where ``terms`` occur as a consecutive phrase →
    (doc_id, n_matches), n_matches = number of phrase occurrences.
    Requires the postings schema's ``positions: array<int>``."""
    if not terms:
        raise ValueError("empty phrase")
    def shifted_in(pos_col, offset):
        # factory: F.filter inspects the lambda's arity, so it must take
        # exactly one parameter (no bound defaults)
        return lambda p: F.array_contains(pos_col, p + offset)

    base = _term_positions(postings, terms[0], "_cand")
    for i, t in enumerate(terms[1:], start=1):
        nxt = _term_positions(postings, t, f"_p{i}")
        base = (base.join(nxt, "doc_id")
                .withColumn("_cand",
                            F.filter(F.col("_cand"),
                                     shifted_in(F.col(f"_p{i}"), i)))
                .drop(f"_p{i}")
                .filter(F.size("_cand") > 0))
    return base.select("doc_id",
                       F.size("_cand").cast("long").alias("n_matches"))


def all_terms_match(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Conjunctive retrieval: docs containing EVERY term →
    (doc_id, min_tf) where min_tf is the scarcest term's tf (a cheap
    AND-mode relevance proxy). One pruned scan + one aggregate."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    return (postings.filter(F.col("term").isin(terms))
            .groupBy("doc_id")
            .agg(F.count("*").alias("_nt"), F.min("tf").alias("min_tf"))
            .filter(F.col("_nt") == len(terms))
            .select("doc_id", F.col("min_tf").cast("long")))


def phrase_search(spark, index_dir: str, raw_phrase: str,
                  k: int = 10) -> DataFrame:
    """Engine-level phrase query: normalize with the CLI-parity path, match
    consecutively, rank by occurrence count (doc_id tie-break), attach
    urls post-limit."""
    from ..plans.index_build import IndexPaths

    paths = IndexPaths(index_dir)
    terms = [t for t in normalize_query(raw_phrase) if t]
    doc_map_schema = "doc_id long, n_matches long, url string"
    if not terms:
        # degenerate query (punctuation/whitespace only): empty results,
        # consistent with the other search modes — never a crash
        return spark.createDataFrame([], doc_map_schema)
    from ..plans.index_build import read_table
    postings = read_table(spark, paths.postings)
    hits = phrase_match(postings, terms)
    top = (hits.orderBy(F.desc("n_matches"), F.asc("doc_id")).limit(k)
           .localCheckpoint(eager=True))  # k rows; avoids recompute
    # push the k doc_ids down into the doc_map scan and broadcast only the
    # k matching rows — broadcasting the corpus-sized doc_map (the r3 code)
    # is the exact anti-pattern snippets.py avoids and OOMs on a real index
    ids = [r["doc_id"] for r in top.select("doc_id").collect()]
    doc_map = (spark.read.parquet(paths.doc_map)
               .filter(F.col("doc_id").isin(ids)))
    return (top.join(F.broadcast(doc_map), "doc_id", "left")
            .orderBy(F.desc("n_matches"), F.asc("doc_id")))
