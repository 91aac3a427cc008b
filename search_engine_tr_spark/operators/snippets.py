"""Result snippets: a context window around the first query-term match in
each hit's extracted text, with <b>…</b> highlighting — the result-page
nicety the reference approximates with the stored meta description
(document_search_client_CLI.py shows title+description only; this is the
upgrade a user of that engine would expect).

Placement matters for scale: snippets are computed for the k hits of a
query, never corpus-wide — the pages_text lookup joins AFTER the limit
(the J3 pattern), so the Arrow-batched snippet UDF sees k rows per query,
not the table.

Matching follows the engine's own query semantics: terms come from
``normalize_query`` (the CLI parity path) and match against the
whitespace-tokenized extracted text exactly — no substring matches, so a
query term never highlights inside an unrelated longer word.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.index_build import read_table


def _make_snippet(text: str, terms: list[str], window: int) -> str | None:
    if not text:
        return None
    words = text.split(" ")
    tset = set(terms)
    hit = next((i for i, w in enumerate(words) if w in tset), None)
    if hit is None:
        # no term in body (e.g. title-only match): lead of the document
        head = words[:2 * window + 1]
        return " ".join(head) if head else None
    lo = max(0, hit - window)
    hi = min(len(words), hit + window + 1)
    out = [f"<b>{w}</b>" if w in tset else w for w in words[lo:hi]]
    if lo > 0:
        out.insert(0, "…")
    if hi < len(words):
        out.append("…")
    return " ".join(out)


def with_snippets(hits: DataFrame, pages_text: DataFrame, terms: list[str],
                  window: int = 8, url_col: str = "url",
                  out: str = "snippet") -> DataFrame:
    """hits (post-limit, has ``url``) × pages_text (url, text) →
    hits + ``snippet``.

    The k hit urls are collected (k rows — hits is post-limit by contract)
    and pushed down as a filter into the pages_text scan, so only the k
    matching text rows are read and broadcast — never the corpus table
    (broadcasting pages_text itself would OOM on any real index)."""
    terms = [t for t in terms if t]

    @F.pandas_udf(T.StringType())
    def snip(text: pd.Series) -> pd.Series:
        return text.map(lambda t: _make_snippet(t, terms, window))

    hits = hits.localCheckpoint(eager=True)  # k rows; avoids recompute
    urls = [r[url_col] for r in hits.select(url_col).collect()]
    texts = (pages_text.select(url_col, "text")
             .filter(F.col(url_col).isin(urls)))
    joined = hits.join(F.broadcast(texts), url_col, "left")
    return joined.withColumn(out, snip(F.col("text"))).drop("text")


def search_with_snippets(idx, raw_query: str, k: int = 10,
                         window: int = 8, mode: str = "wand") -> DataFrame:
    """BM25Index top-k + url + highlighted snippet, from the index's
    pages_text table (every build and ingest writes it)."""
    top = idx.search_with_urls(raw_query, k, mode)
    # read through the index's AQE-off reader session like every other
    # per-query job (tiny k-row lookup; falls back for non-BM25Index idx)
    pages_text = read_table(getattr(idx, "_qspark", idx.spark),
                            idx.paths.pages_text)
    terms = idx.query_terms(raw_query)
    return (with_snippets(top, pages_text, terms, window)
            .orderBy(F.desc("score"), F.asc("doc_id")))
