"""HTML→text extraction and tombstone/action detection.

Reference analog: the ``add-model`` parse step of the interceptor chain
(``src/genegraph/annotate.clj:58-66`` → per-format multimethod) — the
stage that turns a raw event payload into structured content. Here the
payload is Common-Crawl-style HTML bytes and the contract (BASELINE
``input_hint``) is **byte-identical extracted text per url**.

Extraction is a pure function of the html bytes, implemented as an
Arrow-batched pandas UDF (`extract_text`): the only part of the hot path
that must run in Python. Everything around it (tombstone detection,
language filtering) stays JVM-side.

Malformed inputs (undecodable bytes, no body) return NULL so the caller
can route them to a quarantine table instead of failing the job
(reference terminates the event chain on validation failure,
``src/genegraph/annotate.clj:128-132``; our batch semantics quarantine).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_SCRIPT_RE = re.compile(r"<script\b.*?</script\s*>", re.IGNORECASE | re.DOTALL)
_STYLE_RE = re.compile(r"<style\b.*?</style\s*>", re.IGNORECASE | re.DOTALL)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_BODY_RE = re.compile(r"<body\b[^>]*>(.*)</body\s*>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"[ \t\r\n\f\v]+")

# minimal entity table; &amp; must be decoded LAST so "&amp;lt;" → "&lt;"
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " ")]


def extract_text_py(html: bytes | None) -> str | None:
    """Pure-Python reference implementation (unit-testable, and the exact
    function the pandas UDF applies per Arrow batch)."""
    if html is None:
        return None
    try:
        s = html.decode("utf-8", errors="strict")
    except (UnicodeDecodeError, AttributeError):
        return None
    s = _COMMENT_RE.sub("", s)
    s = _SCRIPT_RE.sub(" ", s)
    s = _STYLE_RE.sub(" ", s)
    m = _BODY_RE.search(s)
    if m is None:
        return None
    s = _TAG_RE.sub("", m.group(1))
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    s = s.replace("&amp;", "&")
    return _WS_RE.sub(" ", s).strip()


def _extract_batch(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


def extract_text(html_col) -> Column:
    """Vectorized html(binary) → text(string); NULL on malformed input.

    Built lazily because pandas_udf registration requires an active
    SparkSession (PySpark 4). Marked non-deterministic although it is a
    pure function: this stops Catalyst from (a) pushing the expensive UDF
    below exchanges — observed pushing the whole extraction into a
    1-partition pre-shuffle scan, serializing the job — and (b)
    re-evaluating it once per downstream filter branch.
    """
    return F.pandas_udf(_extract_batch, "string").asNondeterministic()(html_col)


def is_tombstone(html_col: Column) -> Column:
    """JVM-side unpublish detection: html carries the status meta tag.

    Reference analog: action inference from the payload
    (``src/genegraph/annotate/action.clj:6-31``) driving named-graph
    removal (``src/genegraph/sink/event.clj:41-46``).
    """
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    return F.contains(
        col, F.lit(bytearray(b'<meta name="status" content="unpublished"'))
    )
