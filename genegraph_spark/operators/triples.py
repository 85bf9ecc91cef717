"""Triple materialization: explode per-document entity/assertion rows into
``(graph, subject, predicate, object, object_is_iri, object_datatype)``.

Reference analog: the CONSTRUCT stage — genegraph's transforms emit
triples via ``construct-statement`` / ``statements-to-model``
(``src/genegraph/database/load.clj:38-70``) into a per-event model whose
name is the root entity IRI (``annotate.clj:38-52``). Object IRIs vs
literals are distinguished by ``^{:object :Resource}`` metadata
(``load.clj:55``); here by the ``object_is_iri`` column, with
``object_datatype`` carrying the xsd type of literals (typed literals,
``load.clj:56-58``).

Spark-first: each source frame emits ALL of its triple families in one
``explode(array(struct...))`` pass — one narrow stage per source, three
branches total. (A union-of-selects formulation is semantically equal
but serializes the whole multi-branch plan into every task and multiplies
task counts by the family count — measured ~50% of the job's CPU at high
parallelism, pure per-task overhead.)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import iri as I


def tstruct(subject: Column, predicate, obj: Column, is_iri, datatype: str | None = None) -> Column:
    """One (s,p,o) as a struct; predicate/is_iri may be literals or Columns."""
    pred = F.lit(predicate) if isinstance(predicate, str) else predicate
    iri_flag = F.lit(is_iri) if isinstance(is_iri, bool) else is_iri
    return F.struct(
        subject.cast("string").alias("subject"),
        pred.alias("predicate"),
        obj.cast("string").alias("object"),
        iri_flag.alias("object_is_iri"),
        F.lit(datatype).cast("string").alias("object_datatype"),
    )


def explode_triples(df: DataFrame, graph: Column, structs: list[Column]) -> DataFrame:
    """Emit every struct per row in one explode — single narrow stage."""
    return df.select(
        graph.alias("graph"), F.explode(F.array(*structs)).alias("_t")
    ).select("graph", "_t.*")


def explode_triples_arr(df: DataFrame, graph: Column, arr: Column) -> DataFrame:
    """Same, for a pre-built (possibly variable-length) array column."""
    return df.select(graph.alias("graph"), F.explode(arr).alias("_t")).select("graph", "_t.*")


def union_all(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)


# kept for callers that build one family at a time (query layer/tests)
def triple(
    graph: Column, subject: Column, predicate: str, obj: Column, is_iri: bool, datatype: str | None = None
):
    """One triple family as a select-list."""
    return [
        graph.alias("graph"),
        subject.alias("subject"),
        F.lit(predicate).alias("predicate"),
        obj.cast("string").alias("object"),
        F.lit(is_iri).alias("object_is_iri"),
        F.lit(datatype).cast("string").alias("object_datatype"),
    ]


def page_and_mention_triples(live_slim: DataFrame, canon_lookup: Column) -> DataFrame:
    """Page skeleton + mention triples in ONE explode over the slim
    mapInPandas output (url, lang, m_cidx[], m_cnt[], m_pos[]).

    Per graph = url: (url, rdf:type, kgp:WebPage), (url, kgp:lang, lang),
    and per linked canonical entity ``c`` with blank node ``_:b``:
    (url, kgp:mentions, c), (url, kgp:hasMention, _:b),
    (_:b, rdf:type, kgp:Mention), (_:b, kgp:canonicalEntity, c),
    (_:b, kgp:position, first_pos).

    One explode keeps ONE consumer of the expensive upstream (extraction
    mapInPandas → version-head window): a union of per-family branches
    re-executes the whole Python stage per branch (exchange reuse is not
    reliable across AQE query stages with Python nodes — measured 2×
    extraction cost in round 1's shape). ``canon_lookup`` is the
    literal array of canonical IRIs indexed by ``m_cidx``; the curated
    gazetteer keeps it small."""
    g = F.col("url")

    def mention_structs(m):
        ciri = F.element_at(canon_lookup, m["m_cidx"] + 1)
        b = I.bnode(g, ciri)
        return F.array(
            tstruct(g, I.P_MENTIONS, ciri, True),
            tstruct(g, I.P_HAS_MENTION, b, True),
            tstruct(b, I.RDF_TYPE, F.lit(I.C_MENTION), True),
            tstruct(b, I.P_CANONICAL, ciri, True),
            tstruct(b, I.P_POSITION, m["m_pos"], False, I.XSD_INTEGER),
        )

    arr = F.concat(
        F.array(
            tstruct(g, I.RDF_TYPE, F.lit(I.C_WEBPAGE), True),
            tstruct(g, I.P_LANG, F.col("lang"), False, I.XSD_STRING),
        ),
        F.flatten(F.transform(F.arrays_zip("m_cidx", "m_cnt", "m_pos"), mention_structs)),
    )
    return explode_triples_arr(live_slim, g, arr)


def dictionary_triples(dictionary: DataFrame, canonical_map: DataFrame) -> DataFrame:
    """Base-data graph for the curated dictionary (the reference loads its
    HGNC/ontology base files into their own named graphs,
    ``sink/base.clj:55-59``). graph = kg dictionary graph.

    Variable-length label/xref arrays concat into the struct array before
    the single explode."""
    g = F.lit(I.DICTIONARY_GRAPH)
    s = F.col("iri")
    type_iri = F.element_at(
        F.create_map(
            *[x for t, tiri in I.TYPE_IRIS.items() for x in (F.lit(t), F.lit(tiri))]
        ),
        F.col("entity_type"),
    )
    # curated dictionary ⋈ canonical map: both dictionary-scale — broadcast
    # (without the hint, unknown-stats local relations fall to SortMergeJoin)
    d = dictionary.join(F.broadcast(canonical_map), "iri")
    fixed = F.array(
        tstruct(s, I.RDF_TYPE, type_iri, True),
        tstruct(s, I.PREF_LABEL, F.col("preferred_label"), False, I.XSD_STRING),
        tstruct(s, I.P_CANONICAL, F.col("canonical_iri"), True),
    )
    arr = F.concat(
        fixed,
        F.transform(F.col("alt_labels"), lambda l: tstruct(s, I.ALT_LABEL, l, False, I.XSD_STRING)),
        F.transform(
            F.col("hidden_labels"), lambda l: tstruct(s, I.HIDDEN_LABEL, l, False, I.XSD_STRING)
        ),
        F.transform(F.col("same_as"), lambda x: tstruct(s, I.SAME_AS, x, True)),
    )
    return explode_triples_arr(d, g, arr)
