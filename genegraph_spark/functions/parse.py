"""Complex struct-returning parsers: genomic-coordinate-style template
parse/unparse as a vectorized pandas UDF.

Reference analogs: the CNV template parser/unparser round-trip
(``src/genegraph/annotate/cnv.clj:15-96`` — spec'd regex template →
typed map, with unparse as the inverse) and the HGVS expression parser
(``src/genegraph/transform/clinvar/hgvs.clj:21-74``). These are the
reference's "parser returning a structured record" family; in Spark the
idiomatic shape is an Arrow-batched pandas UDF returning a struct
column (simple extractions stay JVM-side via regexp_extract — the UDF
exists for parsers with branching/validation that SQL regex can't
express cleanly).

Template (cnv.clj:20 analog):  ``{assembly} chr{chr}:{start}-{end} {svtype}``
e.g. ``GRCh38 chr7:117480025-117668665 DEL``.
Malformed inputs yield a null struct (callers quarantine, matching the
unparsable-CNV fixture corpus ``test-events-cnv-unparsable.edn``).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

CNV_STRUCT = StructType(
    [
        StructField("assembly", StringType()),
        StructField("chrom", StringType()),
        StructField("start", LongType()),
        StructField("end", LongType()),
        StructField("svtype", StringType()),
    ]
)

_CNV_RE = re.compile(
    r"^(?P<assembly>GRCh3[78]|NCBI36) chr(?P<chrom>[0-9]{1,2}|[XYM]):"
    r"(?P<start>[0-9]+)-(?P<end>[0-9]+) (?P<svtype>DEL|DUP|INS|INV)$"
)


def parse_cnv_py(s: str | None):
    """Pure-Python single-value parser (unit-testable; the UDF vectorizes
    it). Returns dict or None; rejects end < start (validation beyond
    what one regex pass expresses)."""
    if s is None:
        return None
    m = _CNV_RE.match(s)
    if not m:
        return None
    start, end = int(m["start"]), int(m["end"])
    if end < start:
        return None
    return {
        "assembly": m["assembly"],
        "chrom": m["chrom"],
        "start": start,
        "end": end,
        "svtype": m["svtype"],
    }


def unparse_cnv_py(d) -> str | None:
    """Inverse template (cnv.clj unparse): parse(unparse(x)) == x."""
    if d is None or d.get("assembly") is None:
        return None
    return f"{d['assembly']} chr{d['chrom']}:{d['start']}-{d['end']} {d['svtype']}"


@pandas_udf(CNV_STRUCT)
def parse_cnv(s: pd.Series) -> pd.DataFrame:
    parsed = s.map(parse_cnv_py)
    cols = ["assembly", "chrom", "start", "end", "svtype"]
    return pd.DataFrame(
        {c: parsed.map(lambda d, c=c: None if d is None else d[c]) for c in cols}
    )


HGVS_STRUCT = StructType(
    [
        StructField("accession", StringType()),
        StructField("sequence_type", StringType()),
        StructField("start_lo", LongType()),
        StructField("start_hi", LongType()),
        StructField("end_lo", LongType()),
        StructField("end_hi", LongType()),
        StructField("op", StringType()),
        StructField("form", StringType()),
        StructField("span", LongType()),
    ]
)

# head split: accession ':' sequence-type '.' remainder
# (hgvs.clj:3 sequence-info-re — the accession itself may contain a dot,
# e.g. NC_000007.14, so the split anchors on ':' then a single-letter type)
_HGVS_HEAD_RE = re.compile(r"^(?P<acc>[^:\s]+):(?P<st>[a-z])\.(?P<rem>.+)$")
_NQ = r"(?:\d+|\?)"
# uncertain: (a_b)_(c_d)op  — components int or '?' (hgvs.clj:6 coord-ranges-re)
_HGVS_UNCERTAIN_RE = re.compile(
    rf"^\((?P<a>{_NQ})_(?P<b>{_NQ})\)_\((?P<c>{_NQ})_(?P<d>{_NQ})\)(?P<op>.*)$"
)
# definite range: s_e op (hgvs.clj:36-48 add-start/add-end digit path)
_HGVS_RANGE_RE = re.compile(r"^(?P<s>\d+)_(?P<e>\d+)(?P<op>.*)$")
# single position: pos op (e.g. c.123A>T)
_HGVS_POINT_RE = re.compile(r"^(?P<s>\d+)(?P<op>.*)$")


def _maybe_int(s: str | None):
    # hgvs.clj:9-12 maybe-parse-int: '?' stays unparsed → we model it as null
    return int(s) if s is not None and s != "?" else None


def parse_hgvs_py(s: str | None):
    """HGVS sequence+location parser
    (``transform/clinvar/hgvs.clj:21-74`` analog). Returns a dict with
    the accession, sequence type, positional start/end bounds (nullable
    where the expression carries '?'), the trailing operation, the form
    tag needed for the exact unparse inverse, and the definitive span
    (hgvs.clj:63-74 ``parsed-expression-span``: 1 + max(end ints) −
    min(start ints), or 0 when either side has no definite bound).

    Beyond the reference (which parses permissively) this validates like
    the CNV parser: a fully-definite negative span is rejected → None."""
    if s is None:
        return None
    head = _HGVS_HEAD_RE.match(s)
    if not head:
        return None
    rem = head["rem"]
    if m := _HGVS_UNCERTAIN_RE.match(rem):
        lo, hi = _maybe_int(m["a"]), _maybe_int(m["b"])
        elo, ehi = _maybe_int(m["c"]), _maybe_int(m["d"])
        form, op = "uncertain", m["op"]
    elif m := _HGVS_RANGE_RE.match(rem):
        lo = hi = int(m["s"])
        elo = ehi = int(m["e"])
        form, op = "range", m["op"]
    elif m := _HGVS_POINT_RE.match(rem):
        lo = hi = elo = ehi = int(m["s"])
        form, op = "point", m["op"]
    else:
        return None
    starts = [v for v in (lo, hi) if v is not None]
    ends = [v for v in (elo, ehi) if v is not None]
    span = (max(ends) - min(starts) + 1) if starts and ends else 0
    if span < 0:
        return None
    return {
        "accession": head["acc"],
        "sequence_type": head["st"],
        "start_lo": lo,
        "start_hi": hi,
        "end_lo": elo,
        "end_hi": ehi,
        "op": op,
        "form": form,
        "span": span,
    }


def unparse_hgvs_py(d) -> str | None:
    """Inverse template: parse(unparse(x)) == x (property-tested, same
    treatment as the CNV pair, cnv.clj unparse)."""
    if d is None:
        return None

    def q(v):
        return "?" if v is None else str(v)

    head = f"{d['accession']}:{d['sequence_type']}."
    if d["form"] == "point":
        return f"{head}{d['start_lo']}{d['op']}"
    if d["form"] == "range":
        return f"{head}{d['start_lo']}_{d['end_lo']}{d['op']}"
    return (
        f"{head}({q(d['start_lo'])}_{q(d['start_hi'])})"
        f"_({q(d['end_lo'])}_{q(d['end_hi'])}){d['op']}"
    )


@pandas_udf(HGVS_STRUCT)
def parse_hgvs(s: pd.Series) -> pd.DataFrame:
    parsed = s.map(parse_hgvs_py)
    cols = [f.name for f in HGVS_STRUCT.fields]
    return pd.DataFrame(
        {c: parsed.map(lambda d, c=c: None if d is None else d[c]) for c in cols}
    )
