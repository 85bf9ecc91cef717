"""The small GCI ingest variants + the ClinVar submitter agent transform.

Two of the smaller ingestion namespaces, each a handful of map-only
column expressions:

- ``transform/gci_neo4j.clj`` — the Neo4j-era gene-validity export:
  report + score-string content node + the full evidence-level assertion
  tree (old-score and SOP concept maps, proposition, approver
  contribution with the kb-agents → affiliation IRI rewrite).
- ``transform/clinvar/submitter.clj:23-41`` — submitter snapshot →
  GA4GH ``Agent`` rows (versioned ``clinvar_submitter_<id>.<date>`` id,
  ``fields-to-extension-maps`` over the selected fields — including the
  reference's ``:org_categority`` typo, which selects a key that never
  exists and therefore contributes no extension; preserved verbatim).

Spark-first / 100 TB: every transform here is a pure projection + one
``explode`` — zero shuffles, zero Python; deterministic sha-based blank
nodes replace ``l/blank-node`` so the named-graph MERGE stays
idempotent (same trade as every other loader in ``sources/``).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genegraph_spark.functions.iri import bnode
from genegraph_spark.sources.dosage_jira import _t

GCI_ROOT = "http://dataexchange.clinicalgenome.org/gci/"
AFFILIATION_ROOT = "http://dataexchange.clinicalgenome.org/agent/"
KB_AGENTS = "https://search.clinicalgenome.org/kb/agents/"
CGTERMS = "http://dataexchange.clinicalgenome.org/terms/"

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# gci_neo4j.clj:34-41 — CG_0000xx datamodel score IRIs → SEPIO concepts
OLD_SCORE_TO_NEW: dict[str, str] = {
    "http://datamodel.clinicalgenome.org/terms/CG_000084": ":sepio/DisputingEvidence",
    "http://datamodel.clinicalgenome.org/terms/CG_000064": ":sepio/StrongEvidence",
    "http://datamodel.clinicalgenome.org/terms/CG_000066": ":sepio/LimitedEvidence",
    "http://datamodel.clinicalgenome.org/terms/CG_000067": ":sepio/NoEvidence",
    "http://datamodel.clinicalgenome.org/terms/CG_000063": ":sepio/DefinitiveEvidence",
    "http://datamodel.clinicalgenome.org/terms/CG_000085": ":sepio/RefutingEvidence",
    "http://datamodel.clinicalgenome.org/terms/CG_000065": ":sepio/ModerateEvidence",
}

# gci_neo4j.clj:43-46
GCI_SOP_VERSION: dict[str, str] = {
    str(v): f":sepio/ClinGenGeneValidityEvaluationCriteriaSOP{v}"
    for v in (5, 6, 7)
}


def _map_expr(mapping: dict[str, str], col) -> F.Column:
    out = F.lit(None).cast("string")
    for k, v in mapping.items():
        out = F.when(col == k, F.lit(v)).otherwise(out)
    return out


def gci_neo4j_triples(reports: DataFrame) -> DataFrame:
    """Neo4j-export rows → gene-validity report triples
    (``gci_neo4j.clj:73-85`` full tree).

    ``reports`` columns: id, date, title, gene, disease, moi, gcep,
    score (CG_0000xx IRI), sop_version, score_string."""
    id2 = F.concat(F.col("id"), F.lit("-"), F.regexp_replace(F.col("date"), ":", ""))
    iri = F.concat(F.lit(GCI_ROOT), F.lit("report_"), id2)
    assertion = F.concat(F.lit(GCI_ROOT), F.lit("assertion_"), id2)
    content = bnode(iri, F.lit("content"))
    prop = F.concat(F.lit(GCI_ROOT), F.lit("proposition_"), F.col("id"))
    contrib = bnode(assertion, F.lit("contribution"))
    agent = F.regexp_replace(F.col("gcep"), KB_AGENTS.replace(".", r"\."), AFFILIATION_ROOT)
    base = [
        _t(iri, RDF_TYPE, ":sepio/GeneValidityReport", True),
        _t(iri, ":bfo/has-part", content, True),
        _t(iri, ":bfo/has-part", assertion, True),
        _t(content, RDF_TYPE, ":cnt/ContentAsText", True),
        _t(content, ":cnt/chars", F.col("score_string"), False),
        _t(iri, ":rdfs/label", F.col("title"), False),
        # evidence-level-assertion (gci_neo4j.clj:55-67)
        _t(assertion, RDF_TYPE, ":sepio/GeneValidityEvidenceLevelAssertion", True),
        _t(assertion, ":sepio/has-subject", prop, True),
        _t(assertion, ":sepio/has-predicate", ":sepio/HasEvidenceLevel", True),
        _t(assertion, ":sepio/has-object",
           _map_expr(OLD_SCORE_TO_NEW, F.col("score")), True),
        _t(assertion, ":sepio/qualified-contribution", contrib, True),
        _t(assertion, ":sepio/is-specified-by",
           _map_expr(GCI_SOP_VERSION, F.col("sop_version")), True),
        _t(assertion, ":dc/has-format",
           _map_expr(GCI_SOP_VERSION, F.col("sop_version")), True),
        # validity-proposition (gci_neo4j.clj:10-15)
        _t(prop, RDF_TYPE, ":sepio/GeneValidityProposition", True),
        _t(prop, ":sepio/has-subject", F.col("gene"), True),
        _t(prop, ":sepio/has-predicate", ":ro/IsCausalGermlineMutationIn", True),
        _t(prop, ":sepio/has-object", F.col("disease"), True),
        _t(prop, ":sepio/has-qualifier", F.col("moi"), True),
        # approver contribution (gci_neo4j.clj:48-52)
        _t(contrib, ":bfo/realizes", ":sepio/ApproverRole", True),
        _t(contrib, ":sepio/has-agent", agent, True),
        _t(contrib, ":sepio/activity-date", F.col("date"), False),
    ]
    return (
        reports.select(iri.alias("graph"), F.explode(F.array(*base)).alias("t"))
        .select("graph", "t.subject", "t.predicate", "t.object",
                "t.object_is_iri", "t.object_datatype")
    )


def submitter_agents(messages: DataFrame) -> DataFrame:
    """ClinVar submitter snapshots → GA4GH ``Agent`` rows
    (``clinvar/submitter.clj:23-41``): versioned id
    ``cgterms:clinvar_submitter_<id>.<release_date>``, label from the
    current name, and ``fields-to-extension-maps``
    (``clinvar/common.clj:291-305``) over the selected fields. Of the
    three selected keys, ``:alternate_names`` and ``:org_categority``
    (sic) never exist in the submitter payload (it carries ``all_names``
    / ``org_category``), and Clojure's ``select-keys`` silently drops
    missing keys — so the ONLY extensions a real message yields are
    ``current_abbrev`` (when present) and the injected
    ``clinvar_submitter_id``. Preserved verbatim rather than "fixed".

    ``messages`` columns: id, release_date, current_name,
    current_abbrev (nullable). Output one row per snapshot:
    (id, is_version_of, type, label, extensions array<struct>)."""
    vof = F.concat(F.lit(CGTERMS), F.lit("clinvar_submitter_"), F.col("id"))
    agent_id = F.concat(vof, F.lit("."), F.col("release_date"))

    def ext(name, value):
        return F.struct(
            F.lit("Extension").alias("type"),
            F.lit(name).alias("name"),
            value.cast("string").alias("value"),
        )

    exts = F.filter(
        F.array(
            ext("current_abbrev", F.col("current_abbrev")),
            ext("clinvar_submitter_id", F.col("id")),
        ),
        lambda e: e["value"].isNotNull(),
    )
    return messages.select(
        agent_id.alias("id"),
        vof.alias("is_version_of"),
        F.lit("Agent").alias("type"),
        F.col("current_name").alias("label"),
        exts.alias("extensions"),
    )
