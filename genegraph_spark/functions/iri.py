"""IRI / CURIE machinery and deterministic blank nodes.

Reference analogs:
- keyword↔IRI dictionary + CURIE prefix table
  (``src/genegraph/database/names.clj:13-37``, ``resources/namespaces.edn``)
- blank-node generation (``src/genegraph/database/load.clj:19-20``) — the
  reference mints *random* anonymous ids; under Spark task retries and
  resume that breaks idempotence, so blank nodes here are a deterministic
  hash of (graph, discriminator).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Curated prefix table (namespaces.edn analog); longest-prefix-first order.
PREFIXES: list[tuple[str, str]] = [
    ("kge", "https://example.org/kg/entity/"),
    ("kgx", "https://example.org/kg/xref/"),
    ("kgp", "https://example.org/kg/predicate/"),
    ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
    ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
    ("skos", "http://www.w3.org/2004/02/skos/core#"),
    ("owl", "http://www.w3.org/2002/07/owl#"),
    ("dc", "http://purl.org/dc/terms/"),
    ("xsd", "http://www.w3.org/2001/XMLSchema#"),
]
_PREFIX_MAP = dict(PREFIXES)

# predicate vocabulary used by the pipeline (property-names.edn analog)
RDF_TYPE = _PREFIX_MAP["rdf"] + "type"
PREF_LABEL = _PREFIX_MAP["skos"] + "prefLabel"
ALT_LABEL = _PREFIX_MAP["skos"] + "altLabel"
HIDDEN_LABEL = _PREFIX_MAP["skos"] + "hiddenLabel"
SAME_AS = _PREFIX_MAP["owl"] + "sameAs"
BROADER = _PREFIX_MAP["skos"] + "broader"
REPLACES = _PREFIX_MAP["dc"] + "replaces"
IS_REPLACED_BY = _PREFIX_MAP["dc"] + "isReplacedBy"
P_MENTIONS = _PREFIX_MAP["kgp"] + "mentions"
P_HAS_MENTION = _PREFIX_MAP["kgp"] + "hasMention"
P_POSITION = _PREFIX_MAP["kgp"] + "position"
P_CANONICAL = _PREFIX_MAP["kgp"] + "canonicalEntity"
P_LANG = _PREFIX_MAP["kgp"] + "language"
C_WEBPAGE = _PREFIX_MAP["kgp"] + "WebPage"
C_MENTION = _PREFIX_MAP["kgp"] + "Mention"
XSD_INTEGER = _PREFIX_MAP["xsd"] + "integer"
XSD_STRING = _PREFIX_MAP["xsd"] + "string"
DICTIONARY_GRAPH = "https://example.org/kg/graph/dictionary"

TYPE_IRIS = {
    "gene": _PREFIX_MAP["kgp"] + "Gene",
    "disease": _PREFIX_MAP["kgp"] + "Disease",
    "variant": _PREFIX_MAP["kgp"] + "Variant",
}


def expand_curie(curie_col: Column) -> Column:
    """CURIE → full IRI using the curated prefix table (JVM-side chain of
    conditionals — the table is tiny and fixed; names.clj:34-37 analog)."""
    prefix = F.substring_index(curie_col, ":", 1)
    local = F.substring(curie_col, F.length(prefix) + F.lit(2), F.lit(1 << 20))
    out = curie_col  # fall through: already an IRI or unknown prefix
    for p, ns in PREFIXES:
        out = F.when(prefix == p, F.concat(F.lit(ns), local)).otherwise(out)
    return out


def compact_iri(iri_col: Column) -> Column:
    """IRI → CURIE by longest-prefix match (common.clj:332-411 analog)."""
    out = iri_col
    for p, ns in sorted(PREFIXES, key=lambda kv: -len(kv[1])):
        out = F.when(
            iri_col.startswith(ns),
            F.concat(F.lit(p + ":"), F.substring(iri_col, len(ns) + 1, 1 << 20)),
        ).otherwise(out)
    return out


def bnode(*discriminators: Column | str) -> Column:
    """Deterministic blank node: ``_:sha256(graph|...)[:32]``.

    Stable across retries, resume, and partitionings — required for the
    idempotent named-graph MERGE (unlike load.clj:19-20's random AnonId).
    """
    cols = [F.col(d) if isinstance(d, str) else d for d in discriminators]
    joined = F.concat_ws("|", *[c.cast("string") for c in cols])
    return F.concat(F.lit("_:"), F.substring(F.sha2(joined, 256), 1, 32))
