"""ClinVar clinical-assertion → GA4GH VA statement assembly.

Re-expresses the core of ``transform/clinvar/clinical_assertion.clj``
(the reference's largest ClinVar namespace, 928 lines): streamed
clinical-assertion messages become flat GA4GH Variant-Annotation
statement rows — statement/proposition typing from the normalized
clinical significance, the clinsig→predicate and clinsig→direction
maps, the classification Coding, interpretation-comment description
assembly, approver/submitter contributions, and the proposition
object resolved to the LATEST trait-set version as of the assertion's
release date.

Reference crosswalk (``transform/clinvar/clinical_assertion.clj``):

- clinsig→direction map (:60-76)                      → ``_DIRECTION``
- normalize term/code via the CSVs (:78-98)           → ``sources.clinsig``
- classification Coding (:100-110)                    → classification cols
- trait-set normalization + members (:194-222)        → ``parse_trait_set_messages``
- single-member condition compaction (:183-189)       → ``n_members``/``compact``
- statement-type group map (:350-360)                 → ``_STMT_TYPE``
- proposition type map (:362-365)                     → ``_PROP_TYPE``
- clinsig+type→predicate (:367-395)                   → ``_predicate``
- proposition object w/ ConditionNotFound (:539-575)  → as-of join + sentinel
- description from interpretation_comments (:447-457) → ``description``
- approver/submitter contributions (:459-500)         → date columns
- get-trait-set-by-version-of point query (:275-300)  → **asof_join**

Spark-first / 100 TB: the reference resolves every statement's
trait-set with a PER-ROW "order by desc(release_date) limit 1" SPARQL
point query (and its own comments call out the cost); here the whole
backlog resolves in ONE union-merge as-of join
(:func:`~genegraph_spark.operators.versioned.asof_join` — linear, one
shuffle, no multiplicative blow-up on hot trait sets). Everything else
is ``from_json`` + column expressions + the two broadcast clinsig
dictionary joins. Zero Python row functions.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genegraph_spark.operators.versioned import asof_join
from genegraph_spark.sources.dosage_jira import _lit_map
from genegraph_spark.sources.clinsig import normalize_clinsig

CGTERMS = "http://dataexchange.clinicalgenome.org/terms/"
CONDITION_NOT_FOUND = CGTERMS + "ConditionNotFound"

_STMT_TYPE = {
    "path": "VariationGermlinePathogenicityStatement",
    "dr": "ClinVarDrugResponseStatement",
    "oth": "ClinVarOtherStatement",
}
_PROP_TYPE = {
    "VariationGermlinePathogenicityStatement":
        "VariationGermlinePathogenicityProposition",
    "ClinVarDrugResponseStatement": "ClinVarDrugResponseProposition",
    "ClinVarOtherStatement": "ClinVarOtherProposition",
}
# normalized label → direction (clinical_assertion.clj:60-76); default
# "uncertain"
_DIRECTION = {
    "Benign": "opposes",
    "Benign/Likely benign": "opposes",
    "Likely benign": "opposes",
    "Likely pathogenic": "supports",
    "Likely pathogenic, low penetrance": "supports",
    "Pathogenic": "supports",
    "Pathogenic, low penetrance": "supports",
    "Pathogenic/Likely pathogenic": "supports",
    "Uncertain significance": "uncertain",
}
_PATH_CAUSAL = [
    "Benign", "Benign/Likely benign", "Likely benign", "Likely pathogenic",
    "Likely pathogenic, low penetrance", "Pathogenic",
    "Pathogenic, low penetrance", "Pathogenic/Likely pathogenic",
    "Uncertain significance",
]
_PATH_RISK = [
    "Established risk allele", "Likely risk allele", "Uncertain risk allele",
]

TRAIT_SET_SCHEMA = """
    release_date string, event_type string,
    content struct<id: string, type: string, trait_ids: array<string>>
"""
ASSERTION_SCHEMA = """
    release_date string, event_type string,
    content struct<id: string, variation_id: string, trait_set_id: string,
                   submitter_id: string, interpretation_description: string,
                   interpretation_date_last_evaluated: string,
                   date_last_updated: string,
                   interpretation_comments: array<string>>
"""


def parse_trait_set_messages(df: DataFrame, col: str = "value") -> DataFrame:
    """Trait-set messages → versioned condition rows
    (``add-data-for-trait-set``, clinical_assertion.clj:214-243):
    members are the UNVERSIONED trait IRIs; ``n_members`` feeds the
    single-member compaction rule (:183-189)."""
    d = F.from_json(F.col(col), TRAIT_SET_SCHEMA)
    c = d["content"]
    vof = F.concat(F.lit(CGTERMS + "trait_set_"), c["id"])
    members = F.transform(
        F.coalesce(c["trait_ids"], F.array()),
        lambda t: F.concat(F.lit(CGTERMS + "trait"), F.lit("_"), t),
    )
    return df.select(
        F.concat(vof, F.lit("."), d["release_date"]).alias("id"),
        vof.alias("is_version_of"),
        d["release_date"].alias("version"),
        F.lit("Condition").alias("type"),
        members.alias("members"),
        F.size(members).alias("n_members"),
        (d["event_type"] == "delete").alias("deleted"),
    )




def clinvar_statements(
    assertions: DataFrame,
    trait_sets: DataFrame,
    normalized: DataFrame,
    classes: DataFrame,
    col: str = "value",
) -> DataFrame:
    """Assertion messages → flat GA4GH statement rows.

    ``trait_sets`` is :func:`parse_trait_set_messages` output (or any
    frame with ``is_version_of`` / ``version`` / ``id`` / ``n_members``);
    ``normalized`` / ``classes`` are the clinsig dictionary CSVs
    (:func:`~genegraph_spark.sources.clinsig.clinsig_tables`)."""
    d = F.from_json(F.col(col), ASSERTION_SCHEMA)
    c = d["content"]
    base = assertions.select(
        # vof = cgterms SCV_Statement_<id>; id = vof.<release_date>
        # (clinical_assertion.clj:707-709 — NOT the identifiers.org
        # submission scheme, which only the legacy jsonld variant uses)
        F.concat(
            F.lit(CGTERMS + "SCV_Statement_"), c["id"],
            F.lit("."), d["release_date"],
        ).alias("id"),
        d["release_date"].alias("release_date"),
        c["variation_id"].alias("subject"),
        c["trait_set_id"].alias("trait_set_id"),
        F.when(
            c["trait_set_id"].isNotNull(),
            F.concat(F.lit(CGTERMS + "trait_set_"), c["trait_set_id"]),
        ).alias("object_vof"),
        c["interpretation_description"].alias("raw_clinsig"),
        c["interpretation_date_last_evaluated"].alias("approver_date"),
        c["date_last_updated"].alias("submitter_date"),
        # interpretation comments: each a JSON string with a text field,
        # joined with line breaks (:447-457)
        F.when(
            F.size(F.coalesce(c["interpretation_comments"], F.array())) > 0,
            F.array_join(
                F.transform(
                    c["interpretation_comments"],
                    lambda x: F.from_json(x, "text string")["text"],
                ),
                "\n",
            ),
        ).alias("description"),
    )
    n = normalize_clinsig(base, "raw_clinsig", normalized, classes)
    stmt_type = F.coalesce(
        F.element_at(_lit_map(_STMT_TYPE), F.col("prop_type")),
        F.lit(_STMT_TYPE["oth"]),
    )
    germline = stmt_type == _STMT_TYPE["path"]
    predicate = (
        F.when(
            germline & F.col("clinsig_label").isin(_PATH_CAUSAL),
            "causes_mendelian_condition",
        )
        .when(
            germline & F.col("clinsig_label").isin(_PATH_RISK),
            "increases_risk_for_condition",
        )
        .when(stmt_type == _STMT_TYPE["dr"], "has_clinvar_drug_response")
        .when(stmt_type == _STMT_TYPE["oth"], "has_clinvar_other")
    )
    typed = n.select(
        "id", "release_date", "subject", "object_vof", "description",
        "approver_date", "submitter_date",
        stmt_type.alias("stmt_type"),
        F.element_at(_lit_map(_PROP_TYPE), stmt_type).alias("prop_type_out"),
        predicate.alias("predicate"),
        F.coalesce(
            F.element_at(_lit_map(_DIRECTION), F.col("clinsig_label")),
            F.lit("uncertain"),
        ).alias("direction"),
        F.concat(F.lit(CGTERMS), F.col("clinsig_code")).alias(
            "classification_id"
        ),
        F.regexp_replace(
            F.regexp_replace(F.col("clinsig_label"), " ", "_"), "/", "_"
        ).alias("classification_label"),
    )
    # the reference's per-statement "latest trait-set ≤ release_date"
    # point query (:275-300, :560-567) as ONE distributed as-of join.
    # Delete tombstones are NOT filtered: get-latest-versioned-record-as-of
    # (:610-620) picks the max version regardless of deletion, so a
    # tombstoned trait-set that is the latest ≤ release_date WINS (its
    # stored fields flow through; it does not fall back to the prior
    # surviving version)
    ts = trait_sets.select(
        "is_version_of", "version",
        F.col("id").alias("ts_id"), F.col("n_members").alias("ts_n_members"),
    )
    resolved = asof_join(
        typed.withColumnRenamed("object_vof", "is_version_of"),
        ts,
        key="is_version_of",
        left_on="release_date",
        right_on="version",
        right_cols=["ts_id", "ts_n_members"],
    )
    return resolved.select(
        F.col("is_version_of").alias("object_vof"),
        *[c for c in typed.columns if c != "object_vof"],
        # no trait-set id, or id never seen ≤ release_date →
        # ConditionNotFound placeholder (:560-575)
        F.coalesce(F.col("ts_id"), F.lit(CONDITION_NOT_FOUND)).alias(
            "object_id"
        ),
        F.coalesce(F.col("ts_n_members"), F.lit(0)).alias("object_n_members"),
        # single-member condition compaction (:183-189)
        F.coalesce(F.col("ts_n_members") == 1, F.lit(False)).alias(
            "object_compact"
        ),
    )


# ── VCV variation-archive statements ─────────────────────────────────
# (transform/clinvar/variation_archive.clj)

VA_PREFIX = CGTERMS + "clinvar.variation_archive/"
CLINVAR_VARIATION = "https://identifiers.org/clinvar:"

# every VCV content field the parser reads; extend THIS list to parse
# more of the clinvar-raw payload — the extension emission below derives
# from it, mirroring the reference's "Extension per remaining field"
_VA_CONTENT_FIELDS = (
    "id", "version", "variation_id", "review_status", "interp_description",
    "date_created", "date_last_updated", "num_submitters", "num_submissions",
    "species",
)

VARIATION_ARCHIVE_SCHEMA = (
    "release_date string, event_type string, content struct<"
    + ", ".join(f"{f}: string" for f in _VA_CONTENT_FIELDS)
    + ">"
)

# the dissoc list (variation_archive.clj:76-78): event_type/release_date
# merge into the msg first (:30-32), release_date is then dissoc'd while
# event_type stays — so extensions = (content - dissoc) + event_type
_VA_DISSOC = ("id", "version", "review_status", "interp_description")
_VA_EXT_FIELDS = tuple(
    f for f in _VA_CONTENT_FIELDS if f not in _VA_DISSOC
) + ("event_type",)


def variation_archive_triples(df: DataFrame, col: str = "value") -> DataFrame:
    """VCV messages → ClinVarVCVStatement models
    (variation_archive.clj:29-78): statement + proposition +
    variation-rule-descriptor skeleton, then one VRS Extension node per
    remaining content field (``fields-to-extensions``,
    common.clj:274-289). The reference's ``mark-prior-replaced``
    supersession is the store tier's job here (the ``kg_replaces_*``
    path), not the transform's.

    Spark-first: one ``from_json``, one explode; extension bnodes are
    deterministic per (statement, field)."""
    from genegraph_spark.functions import iri as I
    from genegraph_spark.sources.dosage_jira import _arr, _lit_map, _t

    d = F.from_json(F.col(col), VARIATION_ARCHIVE_SCHEMA)
    c = d["content"]
    rd = d["release_date"]
    vcv = F.concat(F.lit(VA_PREFIX), c["id"])
    unv = F.concat(vcv, F.lit("_statement"))
    stmt = F.concat(unv, F.lit("."), rd)
    prop = F.concat(unv, F.lit("_proposition."), rd)
    vrd = F.concat(unv, F.lit("_variation_rule_descriptor."), rd)
    cv_var = F.concat(F.lit(CLINVAR_VARIATION), c["variation_id"])

    cg = lambda t: CGTERMS + t
    blocks = [
        F.array(
            _t(stmt, I.RDF_TYPE, ":sepio/Statement", True),
            _t(stmt, I.RDF_TYPE, cg("ClinVarVCVStatement"), True),
            _t(stmt, I.RDF_TYPE, cg("ClinVarObject"), True),
            _t(stmt, ":dc/has-version", c["version"], False, I.XSD_STRING),
            _t(stmt, ":dc/is-version-of", vcv, True),
            _t(stmt, ":cg/release-date", rd, False, I.XSD_STRING),
            _t(stmt, ":sepio/has-predicate", cg("has_evidence_level"), True),
            _t(stmt, ":cg/negated", "FALSE", False, I.XSD_STRING),
            _t(stmt, ":sepio/has-object", c["review_status"], False,
               I.XSD_STRING),
            _t(stmt, ":sepio/has-subject", prop, True),
            _t(prop, I.RDF_TYPE, ":sepio/Proposition", True),
            _t(prop, I.RDF_TYPE, cg("ClinVarVCVProposition"), True),
            _t(prop, ":sepio/has-subject", vrd, True),
            _t(prop, ":sepio/has-predicate",
               cg("has_clinvar_variant_aggregate_classification"), True),
            _t(prop, ":sepio/has-object", c["interp_description"], False,
               I.XSD_STRING),
            _t(vrd, I.RDF_TYPE, cg("VariationRuleDescriptor"), True),
            _t(vrd, ":vrs/xref", cv_var, True),
        )
    ]
    for field in _VA_EXT_FIELDS:
        v = d["event_type"] if field == "event_type" else c[field]
        ext_b = I.bnode(stmt, F.lit("ext"), F.lit(field))
        blocks.append(
            _arr(
                v.isNotNull(),
                _t(stmt, ":vrs/extensions", ext_b, True),
                _t(ext_b, I.RDF_TYPE, ":vrs/Extension", True),
                _t(ext_b, ":vrs/name", field, False, I.XSD_STRING),
                _t(ext_b, ":rdf/value", v, False, I.XSD_STRING),
            )
        )
    return df.select(
        vcv.alias("graph"), F.explode(F.concat(*blocks)).alias("t")
    ).select("graph", "t.*")
