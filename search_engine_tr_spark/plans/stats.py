"""Corpus statistics for BM25: N, avgdl, total postings, per-doc lengths.

Replaces the reference's candidate-relative counts (document_score_
calculator.py:43-49, SURVEY.md Q2) with true corpus-level stats for the
engine's BM25 mode. All single-pass hash aggregates (map-side partials free
from Catalyst). The exact per-term ``df`` is Σn of the written blocks
(``index_build.write_derived``), not a postings aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CorpusStats:
    n_docs: int
    avgdl: float
    total_postings: int


def doc_lengths(postings: DataFrame) -> DataFrame:
    """(doc_id, dl) — dl = Σ tf = kept-token count per doc (tokenizer spec)."""
    return postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))


def corpus_stats(doclens: DataFrame) -> CorpusStats:
    row = doclens.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("total"),
    ).collect()[0]
    return CorpusStats(
        n_docs=int(row["n"] or 0),
        avgdl=float(row["avgdl"] or 0.0),
        total_postings=int(row["total"] or 0),
    )
