"""Graph serialization: one JSON document per named graph, and the
inverse parse — the transformer's produce step.

Reference analogs: models serialize to JSON-LD/Turtle
(``src/genegraph/database/query.clj:87-100``) and the transformer
publishes the JSON-LD of each processed event's model to an output
topic (``src/genegraph/sink/event.clj:78-98``).

Spark-first: ``collect_list(struct(...))`` per graph (one hash
aggregation, map-side partials), triples sorted inside the doc so the
serialization is byte-deterministic under any partitioning, then one
``to_json``. The inverse is ``from_json`` + ``explode`` — a lossless
round-trip (tests assert triple-set equality).

Scale notes: doc size is bounded by a graph's triple count (a page's
assertions — tens of rows), so collected lists stay small; the shuffle
key is the graph, the same partitioning the store sink uses, so
serialize-then-produce reuses one exchange.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

TRIPLE_STRUCT = StructType(
    [
        StructField("subject", StringType()),
        StructField("predicate", StringType()),
        StructField("object", StringType()),
        StructField("object_is_iri", BooleanType()),
        StructField("object_datatype", StringType()),
    ]
)
DOC_SCHEMA = StructType(
    [
        StructField("graph", StringType()),
        StructField("triples", ArrayType(TRIPLE_STRUCT)),
    ]
)


def graph_documents(triples: DataFrame) -> DataFrame:
    """(graph, doc): one deterministic JSON document per named graph.

    ``object_datatype`` is coalesced to '' inside the doc — Spark's
    ``to_json`` omits null fields, which would make the inverse schema
    ragged; '' round-trips back to null in :func:`parse_documents`."""
    t = F.struct(
        F.col("subject"),
        F.col("predicate"),
        F.col("object"),
        F.col("object_is_iri"),
        F.coalesce(F.col("object_datatype"), F.lit("")).alias("object_datatype"),
    )
    per_graph = triples.groupBy("graph").agg(
        F.sort_array(F.collect_list(t)).alias("triples")
    )
    return per_graph.select(
        "graph",
        F.to_json(F.struct(F.col("graph"), F.col("triples"))).alias("doc"),
    )


# -- Turtle (the reference's public output format) -----------------------------

# @context document (JSON-LD @context analog,
# transform/clinvar/variation.clj:814-923): prefix → namespace map shared
# by serializers and the CURIE machinery
def jsonld_context() -> dict[str, str]:
    from . import iri as I

    return dict(I._PREFIX_MAP)


def _ttl_escape(col):
    # Turtle string-literal escapes; backslash FIRST so later passes
    # cannot double-escape it
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    return F.replace(out, F.lit("\t"), F.lit("\\t"))


def _ttl_term(col, is_iri):
    bnode = F.col(col).startswith("_:")
    return F.when(is_iri & bnode, F.col(col)).when(
        is_iri, F.concat(F.lit("<"), F.col(col), F.lit(">"))
    )


def turtle_docs(triples: DataFrame) -> DataFrame:
    """(graph, turtle): one deterministic Turtle document per named graph
    (``database/query.clj:87-100`` serializes models to Turtle; the
    repo's JSON doc is the transport format, this is the reference's
    public one). Full-IRI statements — `<s> <p> <o> .` with escaped,
    datatype-tagged literals — sorted line-wise so the bytes are
    independent of partitioning. Same shuffle key (graph) as the store
    sink and the JSON serializer."""
    lit_obj = F.concat(
        F.lit('"'),
        _ttl_escape(F.col("object")),
        F.lit('"'),
        F.when(
            F.col("object_datatype").isNotNull(),
            F.concat(F.lit("^^<"), F.col("object_datatype"), F.lit(">")),
        ).otherwise(F.lit("")),
    )
    line = F.concat(
        _ttl_term("subject", F.lit(True)),
        F.lit(" "),
        F.concat(F.lit("<"), F.col("predicate"), F.lit(">")),
        F.lit(" "),
        F.coalesce(_ttl_term("object", F.col("object_is_iri")), lit_obj),
        F.lit(" ."),
    )
    return triples.groupBy("graph").agg(
        F.array_join(F.sort_array(F.collect_list(line)), "\n").alias("turtle")
    )


_TTL_LINE_RE = r"^(\S+) <([^>]+)> (.+) \.$"
_TTL_LIT_RE = r'^"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]+)>)?$'


@pandas_udf(StringType())
def _ttl_unescape(s: pd.Series) -> pd.Series:
    # single left-to-right pass over escape pairs — a replace() CHAIN
    # cannot unescape correctly ('\\n' two-char sequences would turn into
    # a newline); regex callback is the right tool, vectorized via Arrow
    sub = {"\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r", "\\t": "\t"}
    pat = re.compile(r"\\.")
    return s.map(
        lambda v: None
        if v is None
        else pat.sub(lambda m: sub.get(m.group(0), m.group(0)), v)
    )


def parse_turtle(docs: DataFrame, turtle_col: str = "turtle") -> DataFrame:
    """Inverse of :func:`turtle_docs`: Turtle docs → triple rows
    (round-trip tested). Literal unescaping is the one non-JVM step — a
    single vectorized pandas UDF on literal objects only (parse is not a
    hot path; the reference parses RDF via Jena, transform/core.clj:37-58)."""
    lines = docs.select(
        "graph", F.explode(F.split(F.col(turtle_col), "\n")).alias("line")
    ).where(F.col("line") != "")
    parsed = lines.select(
        "graph",
        F.regexp_extract("line", _TTL_LINE_RE, 1).alias("s_tok"),
        F.regexp_extract("line", _TTL_LINE_RE, 2).alias("predicate"),
        F.regexp_extract("line", _TTL_LINE_RE, 3).alias("o_tok"),
    )
    strip_angle = lambda c: F.regexp_replace(c, r"^<|>$", "")  # noqa: E731
    is_lit = F.col("o_tok").startswith('"')
    return parsed.select(
        "graph",
        F.when(F.col("s_tok").startswith("_:"), F.col("s_tok"))
        .otherwise(strip_angle(F.col("s_tok")))
        .alias("subject"),
        "predicate",
        F.when(is_lit, _ttl_unescape(F.regexp_extract("o_tok", _TTL_LIT_RE, 1)))
        .when(F.col("o_tok").startswith("_:"), F.col("o_tok"))
        .otherwise(strip_angle(F.col("o_tok")))
        .alias("object"),
        (~is_lit).alias("object_is_iri"),
        F.when(
            is_lit & (F.regexp_extract("o_tok", _TTL_LIT_RE, 2) != ""),
            F.regexp_extract("o_tok", _TTL_LIT_RE, 2),
        ).alias("object_datatype"),
    )


def parse_documents(docs: DataFrame, doc_col: str = "doc") -> DataFrame:
    """Inverse of :func:`graph_documents`: JSON docs → triple rows."""
    parsed = docs.select(F.from_json(F.col(doc_col), DOC_SCHEMA).alias("d"))
    return parsed.select(
        F.col("d.graph").alias("graph"), F.explode("d.triples").alias("t")
    ).select(
        "graph",
        "t.subject",
        "t.predicate",
        "t.object",
        "t.object_is_iri",
        F.when(F.col("t.object_datatype") == "", None)
        .otherwise(F.col("t.object_datatype"))
        .alias("object_datatype"),
    )


def jsonld_compact_docs(triples: DataFrame) -> DataFrame:
    """(graph, doc): context-COMPACTED JSON-LD per named graph — terms
    CURIE'd by the shared prefix table and the ``@context`` embedded, the
    reference's public JSON-LD shape (``database/query.clj:87-100`` +
    the @context docs of ``transform/clinvar/variation.clj:814-923``).

    Same plan shape as :func:`graph_documents` (one groupBy(graph),
    sorted collect for byte determinism); compaction is the chained
    longest-prefix CASE of :func:`genegraph_spark.functions.iri.compact_iri`
    — pure column expressions, applied before the collect so the shuffle
    carries the SHORTER strings."""
    import json as _json

    from . import iri as I

    ctx = _json.dumps(jsonld_context(), sort_keys=True, separators=(",", ":"))
    # JSON-escape the spliced graph IRI (quotes/backslashes are legal in
    # IRIs; control characters are not, so these two suffice)
    graph_esc = F.replace(
        F.replace(F.col("graph"), F.lit("\\"), F.lit("\\\\")),
        F.lit('"'),
        F.lit('\\"'),
    )
    t = F.struct(
        I.compact_iri(F.col("subject")).alias("subject"),
        I.compact_iri(F.col("predicate")).alias("predicate"),
        F.when(F.col("object_is_iri"), I.compact_iri(F.col("object")))
        .otherwise(F.col("object"))
        .alias("object"),
        F.col("object_is_iri"),
        F.coalesce(
            I.compact_iri(F.col("object_datatype")), F.lit("")
        ).alias("object_datatype"),
    )
    per_graph = triples.groupBy("graph").agg(
        F.sort_array(F.collect_list(t)).alias("triples")
    )
    return per_graph.select(
        "graph",
        F.concat(
            F.lit('{"@context":' + ctx + ',"@id":"'),
            graph_esc,
            F.lit('","triples":'),
            F.to_json(F.col("triples")),
            F.lit("}"),
        ).alias("doc"),
    )


# -- RDF/XML ------------------------------------------------------------------

def _xml_escape(col):
    """XML escape for both element text and attribute values: the three
    mandatory entities plus quote (harmless in text, required in
    attributes — one function keeps the serializer and its SQL oracle
    mirror identical). CR/LF become character references so every
    property element stays on one physical line (the document is
    line-sorted for byte determinism and line-parsed by
    :func:`parse_rdfxml`)."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    out = F.replace(out, F.lit('"'), F.lit("&quot;"))
    out = F.replace(out, F.lit("\r"), F.lit("&#13;"))
    return F.replace(out, F.lit("\n"), F.lit("&#10;"))


def rdfxml_docs(triples: DataFrame) -> DataFrame:
    """(graph, rdfxml): one deterministic RDF/XML document per named
    graph — the reference's third serialization beside Turtle and
    JSON-LD (``database/query.clj:87-100`` writes Turtle, JSON-LD,
    RDF-XML and binary Thrift from the same model; RDF-XML is the Jena
    interop format).

    Jena-style shape: one ``rdf:Description`` per subject (bnodes via
    ``rdf:nodeID``), one property element per triple with the predicate
    split into (namespace, local-name) at the last ``#``/``/`` and the
    namespace declared inline (``xmlns:p=...`` — per-element
    declarations are valid XML and keep the document independent of any
    namespace table). Property elements sorted within a Description,
    Descriptions sorted by subject — byte-deterministic regardless of
    partitioning.

    Plan: two grouped aggregations — (graph, subject) then (graph) — the
    second reuses the first's hash partitioning modulo key prefix (AQE
    coalesces); everything is column expressions, no UDFs."""
    local = F.regexp_extract(F.col("predicate"), r"([^/#]+)$", 1)
    ns = F.expr("substring(predicate, 1, length(predicate) - length(regexp_extract(predicate, '([^/#]+)$', 1)))")
    is_bnode_obj = F.col("object_is_iri") & F.col("object").startswith("_:")
    obj_attr = F.when(
        is_bnode_obj,
        F.concat(F.lit(' rdf:nodeID="'), _xml_escape(F.expr("substring(object, 3)")), F.lit('"')),
    ).otherwise(
        F.concat(F.lit(' rdf:resource="'), _xml_escape(F.col("object")), F.lit('"'))
    )
    open_tag = F.concat(
        F.lit("    <p:"), local, F.lit(' xmlns:p="'), _xml_escape(ns), F.lit('"')
    )
    prop = F.when(
        F.col("object_is_iri"), F.concat(open_tag, obj_attr, F.lit("/>"))
    ).otherwise(
        F.concat(
            open_tag,
            F.when(
                F.col("object_datatype").isNotNull(),
                F.concat(F.lit(' rdf:datatype="'), _xml_escape(F.col("object_datatype")), F.lit('"')),
            ).otherwise(F.lit("")),
            F.lit(">"),
            _xml_escape(F.col("object")),
            F.lit("</p:"),
            local,
            F.lit(">"),
        )
    )
    subj_attr = F.when(
        F.col("subject").startswith("_:"),
        F.concat(F.lit('rdf:nodeID="'), _xml_escape(F.expr("substring(subject, 3)")), F.lit('"')),
    ).otherwise(
        F.concat(F.lit('rdf:about="'), _xml_escape(F.col("subject")), F.lit('"'))
    )
    per_subject = triples.groupBy("graph", "subject").agg(
        F.concat(
            F.lit("  <rdf:Description "),
            F.first(subj_attr),
            F.lit(">\n"),
            F.array_join(F.sort_array(F.collect_list(prop)), "\n"),
            F.lit("\n  </rdf:Description>"),
        ).alias("block")
    )
    header = (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">\n'
    )
    return per_subject.groupBy("graph").agg(
        F.concat(
            F.lit(header),
            F.array_join(F.sort_array(F.collect_list("block")), "\n"),
            F.lit("\n</rdf:RDF>"),
        ).alias("rdfxml")
    )


_XML_DESC_RE = r'^  <rdf:Description (rdf:about|rdf:nodeID)="([^"]*)">$'
_XML_PROP_RE = (
    r'^    <p:([^ ]+) xmlns:p="([^"]*)"'
    r'(?: rdf:(resource|nodeID|datatype)="([^"]*)")?(/>|>)(?:(.*)</p:[^>]+>)?$'
)


def _xml_unescape(col):
    out = F.replace(col, F.lit("&#10;"), F.lit("\n"))
    out = F.replace(out, F.lit("&#13;"), F.lit("\r"))
    out = F.replace(out, F.lit("&quot;"), F.lit('"'))
    out = F.replace(out, F.lit("&gt;"), F.lit(">"))
    out = F.replace(out, F.lit("&lt;"), F.lit("<"))
    return F.replace(out, F.lit("&amp;"), F.lit("&"))


def parse_rdfxml(docs: DataFrame, xml_col: str = "rdfxml") -> DataFrame:
    """Inverse of :func:`rdfxml_docs` for the documents it emits
    (round-trip tested) — line-oriented like :func:`parse_turtle`; the
    reference parses RDF-XML via Jena (transform/core.clj:37-58), this
    covers the repo's own deterministic emission."""
    from pyspark.sql import Window

    lines = docs.select(
        "graph",
        F.posexplode(F.split(F.col(xml_col), "\n")).alias("pos", "line"),
    )
    desc = F.regexp_extract("line", _XML_DESC_RE, 2)
    desc_kind = F.regexp_extract("line", _XML_DESC_RE, 1)
    w = Window.partitionBy("graph").orderBy("pos")
    tagged = lines.withColumn(
        "subject",
        F.last(
            F.when(
                desc != "",
                F.when(desc_kind == "rdf:nodeID", F.concat(F.lit("_:"), desc)).otherwise(
                    _xml_unescape(desc)
                ),
            ),
            ignorenulls=True,
        ).over(w),
    )
    props = tagged.where(F.col("line").startswith("    <p:"))
    local = F.regexp_extract("line", _XML_PROP_RE, 1)
    ns = _xml_unescape(F.regexp_extract("line", _XML_PROP_RE, 2))
    attr_kind = F.regexp_extract("line", _XML_PROP_RE, 3)
    attr_val = F.regexp_extract("line", _XML_PROP_RE, 4)
    text = F.regexp_extract("line", _XML_PROP_RE, 6)
    is_res = attr_kind == "resource"
    is_node = attr_kind == "nodeID"
    return props.select(
        "graph",
        "subject",
        F.concat(ns, local).alias("predicate"),
        F.when(is_res, _xml_unescape(attr_val))
        .when(is_node, F.concat(F.lit("_:"), attr_val))
        .otherwise(_xml_unescape(text))
        .alias("object"),
        (is_res | is_node).alias("object_is_iri"),
        F.when(attr_kind == "datatype", _xml_unescape(attr_val)).alias(
            "object_datatype"
        ),
    )


# ---------------------------------------------------------------------------
# Turtle FILE reader (dictionary-scale, driver-side)
# ---------------------------------------------------------------------------

_TTL_TOKENS = re.compile(
    r"""(?x)
      (?P<ws>\s+)
    | (?P<comment>\#[^\n]*)
    | (?P<directive>@(?:prefix|base)\b)
    | (?P<iri><[^<>"{}|^`\\\s]*>)
    | (?P<literal>"(?:[^"\\]|\\.)*")
    | (?P<dtmark>\^\^)
    | (?P<lang>@[A-Za-z][A-Za-z0-9-]*)
    | (?P<num>[+-]?\d+(?:\.\d+)?)
    | (?P<pname>[A-Za-z_][\w.-]*(?<!\.))?:(?P<local>[\w./#:-]*(?<!\.))
    | (?P<kw>[A-Za-z_][\w-]*)
    | (?P<punct>[;,.])
    """
)

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def parse_turtle_text(text: str, graph: str | None = None) -> list[tuple]:
    """A real (subset) Turtle reader for DICTIONARY files: ``@prefix`` /
    ``@base`` directives, prefixed names, ``a``, ``;`` predicate lists,
    ``,`` object lists, comments, string/number/boolean literals with
    optional ``^^datatype`` / ``@lang``. The reference merges
    ``gdm_sepio_relationships.ttl`` into every GDM model before the
    transform chain (``transform/gene_validity_refactor.clj:414-424``);
    this reader makes that merge possible here (``parse_turtle`` above
    is the line-oriented round-trip inverse for OUR writer and cannot
    read hand-authored Turtle).

    Scale: dictionary files are KBs parsed ONCE on the driver and
    broadcast as part of the model union — never a per-row path. Returns
    ``(graph, subject, predicate, object, object_is_iri,
    object_datatype)`` rows. Blank-node syntax is rejected loudly (the
    reference dictionary uses none)."""
    prefixes: dict[str, str] = {}
    toks: list[tuple[str, str]] = []
    for m in _TTL_TOKENS.finditer(text):
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        if kind == "local":  # pname match produces two groups
            toks.append(("pname", (m.group("pname") or "", m.group("local"))))
        elif kind == "pname":
            continue
        else:
            toks.append((kind, m.group(0)))
    consumed = sum(m.end() - m.start() for m in _TTL_TOKENS.finditer(text))
    if consumed != len(text):
        bad = _TTL_TOKENS.sub("", text).strip()[:40]
        raise ValueError(f"unsupported Turtle syntax near {bad!r}")

    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else (None, None)

    def take(expected_kind=None):
        nonlocal pos
        if pos >= len(toks):
            raise ValueError("unexpected end of Turtle input")
        k, v = toks[pos]
        if expected_kind and k != expected_kind:
            raise ValueError(f"expected {expected_kind}, got {k} {v!r}")
        pos += 1
        return k, v

    def expand(tok) -> str:
        k, v = tok
        if k == "iri":
            return v[1:-1]
        if k == "pname":
            p, local = v
            if p not in prefixes:
                raise ValueError(f"undeclared Turtle prefix {p!r}:")
            return prefixes[p] + local
        raise ValueError(f"expected an IRI term, got {k} {v!r}")

    rows: list[tuple] = []

    def read_object():
        k, v = peek()
        if k == "literal":
            take()
            val = re.sub(
                r"\\(.)",
                lambda m: {"n": "\n", "r": "\r", "t": "\t"}.get(m.group(1), m.group(1)),
                v[1:-1],
            )
            dt = None
            nk, _ = peek()
            if nk == "dtmark":
                take()
                dt = expand(take())
            elif nk == "lang":
                take()  # language tags carried as plain strings
            return (val, False, dt)
        if k == "num":
            take()
            return (v, False, "xsd:decimal" if "." in v else "xsd:integer")
        if k == "kw" and v in ("true", "false"):
            take()
            return (v, False, "xsd:boolean")
        return (expand(take()), True, None)

    while pos < len(toks):
        k, v = peek()
        if k == "directive":
            take()
            if v == "@prefix":
                pk, pv = take("pname")
                if pv[1] != "":
                    raise ValueError(f"malformed @prefix name {pv!r}")
                prefixes[pv[0]] = expand(take("iri"))
            else:  # @base — accepted, unused (no relative IRIs supported)
                take("iri")
            take("punct")  # '.'
            continue
        subj = expand(take())
        while True:
            pk, pv = peek()
            if pk == "kw" and pv == "a":
                take()
                pred = _RDF_TYPE
            else:
                pred = expand(take())
            while True:
                obj, is_iri, dt = read_object()
                rows.append((graph, subj, pred, obj, is_iri, dt))
                if peek() == ("punct", ","):
                    take()
                    continue
                break
            nk, nv = peek()
            if (nk, nv) == ("punct", ";"):
                take()
                # tolerate a dangling ';' before '.'
                if peek() == ("punct", "."):
                    take()
                    break
                continue
            take("punct")  # '.'
            break
    return rows


def read_turtle(spark, path: str, graph: str | None = None) -> DataFrame:
    """Parse a Turtle file into a triples DataFrame (driver-side parse +
    one ``createDataFrame`` — dictionary files only, see
    :func:`parse_turtle_text`)."""
    with open(path) as f:
        rows = parse_turtle_text(f.read(), graph=graph)
    return spark.createDataFrame(
        rows,
        "graph string, subject string, predicate string, object string, "
        "object_is_iri boolean, object_datatype string",
    )
