"""Arrow-batched pandas UDFs wrapping the oracle's per-row text semantics.

The per-row functions live in ``oracle.htmltext`` (the parity spec —
reference crawler.py:113-245); here they are vectorized over Arrow batches.
No row-at-a-time Python UDFs anywhere (input_hint requirement): every UDF
below is a ``pandas_udf`` receiving/returning ``pd.Series`` so transfer is
Arrow-columnar and the Python loop runs tight over a batch. Each UDF wraps
a plain pandas function (``page_text``, ``page_meta``, ``page_links``),
which the driver regime of the ingest calls on its collected batch.

HTML decode follows the reference indexer: ``bytes.decode("utf-8",
errors="ignore")`` (indexer.py:24).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..oracle.htmltext import extract_links as _o_links
from ..oracle.htmltext import extract_text as _o_extract
from ..oracle.htmltext import parse_document as _o_parse


def _decode(b) -> str:
    if b is None:
        return ""
    if isinstance(b, (bytes, bytearray)):
        return bytes(b).decode("utf-8", errors="ignore")
    return str(b)


def page_text(html: pd.Series) -> pd.Series:
    """html binary → byte-identical extracted text (crawler.py:113-168)."""
    return html.map(lambda b: _o_extract(_decode(b)))


def page_meta(html: pd.Series) -> pd.DataFrame:
    """html → (title, description, keywords) (crawler.py:89-111; title stripped)."""
    rows = []
    for b in html:
        doc = _o_parse(_decode(b))
        title = doc.title.strip() if doc.title else None
        rows.append((title if title else None, doc.description, doc.keywords))
    return pd.DataFrame(rows, columns=["title", "description", "keywords"])


def page_links(url: pd.Series, html: pd.Series) -> pd.Series:
    """(url, html) → link records (type, base_url, href, anchor_text)
    (crawler.py:43-87 incl. str(None) quirk)."""
    return pd.Series([
        _o_links(u, _decode(b)) for u, b in zip(url, html)
    ], dtype=object)


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """``page_text`` over Arrow batches."""
    return page_text(html)


_META_TYPE = T.StructType([
    T.StructField("title", T.StringType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("keywords", T.StringType(), True),
])


@pandas_udf(_META_TYPE)
def extract_meta_udf(html: pd.Series) -> pd.DataFrame:
    """``page_meta`` over Arrow batches."""
    return page_meta(html)


_LINKS_TYPE = T.ArrayType(T.StructType([
    T.StructField("type", T.StringType(), False),
    T.StructField("base_url", T.StringType(), False),
    T.StructField("href", T.StringType(), False),
    T.StructField("anchor_text", T.StringType(), True),
]))


@pandas_udf(_LINKS_TYPE)
def extract_links_udf(url: pd.Series, html: pd.Series) -> pd.Series:
    """``page_links`` over Arrow batches."""
    return page_links(url, html)


def normalize_query(raw_query: str) -> list[str]:
    """Driver-side query normalization — the CLI's `_preprocess_document(q)
    .split(" ")` (document_search_client_CLI.py:30-32). Shared with the
    oracle so engine and spec can never diverge."""
    return _o_extract(raw_query).split(" ")
