"""SEC-filing text extraction (reference unstructured/edgar.py re-expressed).

``extract_item`` (edgar.py:359-527 in the reference) walks a 10-K for the
span between an ITEM heading and the next ITEM heading (e.g. Item 7 MD&A:
start at "ITEM 7", stop at "ITEM 7A"/"ITEM 8").  It is a pure function of
one string, so on Spark it runs as an Arrow-batched pandas UDF over the
filings text column — the only sane shape for a 100 TB text corpus (one
Python call per ~10k rows, not per row).

This is a fresh regex implementation of the public 10-K item structure,
not a port of the reference's state machine.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_WS = r"[\s ]*"


def _item_pattern(item: str) -> re.Pattern:
    # "ITEM 7." / "Item 7 -" / "ITEM 7:" at line start; 7A distinguished
    # from 7 by a negative lookahead on the trailing letter
    esc = re.escape(item).replace(r"\ ", _WS)
    trail = r"(?![A-Za-z0-9])"
    return re.compile(
        rf"(?im)^{_WS}item{_WS}{esc}{trail}[\.\:\-\s]",
    )


def extract_item_str(text: str, item: str, next_items: list[str]) -> str | None:
    """Span from the LAST occurrence of `item` heading (10-Ks repeat the
    TOC entry first) to the earliest following next-item heading."""
    if not text:
        return None
    starts = list(_item_pattern(item).finditer(text))
    if not starts:
        return None
    start = starts[-1].end()
    end = len(text)
    for nxt in next_items:
        m = _item_pattern(nxt).search(text, start)
        if m:
            end = min(end, m.start())
    out = text[start:end].strip()
    return out or None


def extract_item_udf(item: str, next_items: list[str]) -> Column:
    """Factory: pandas UDF extracting one item span per filing row — the
    reference's ``extract_item`` (edgar.py:359-527) over a text column."""

    @F.pandas_udf(T.StringType())
    def _udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: extract_item_str(t, item, next_items))

    return _udf


def clean_html_expr(col: str | Column) -> Column:
    """Loughran-McDonald stage-one-ish HTML cleaning as column expressions
    (edgar.py:246-319): strip tags/entities, collapse whitespace — JVM-side
    regex, no per-row Python."""
    c = F.col(col) if isinstance(col, str) else col
    no_script = F.regexp_replace(c, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    no_tags = F.regexp_replace(no_script, r"(?s)<[^>]+>", " ")
    no_ent = F.regexp_replace(no_tags, r"&[a-zA-Z#0-9]{1,8};", " ")
    return F.trim(F.regexp_replace(no_ent, r"\s+", " "))
