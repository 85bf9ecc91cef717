"""ClinVar clinvar-streams JSON-LD model → triples.

The reference's second-generation ClinVar tier
(``transform/clinvar/jsonld/{variation,gene,variation_archive,
clinical_assertion}.clj``) renders each stream message as a JSON-LD
document over ``@vocab`` = cgterms with property-names.edn resolving the
namespaced keywords, then loads it into Jena. The vocabulary it creates
is what the ``source/graphql/clinvar/`` resolver tier queries: versioned
``cg:Variant`` records with ``cg:gene_associations`` nodes, ``so:Gene``
+ ``cg:ClinVarObject`` gene versions, VCV
``cg:AggregateVariantClinicalSignificanceAssertion`` statements, and SCV
evidence lines reverse-linked from the unversioned VCV id
(``sepio:0000006`` / ``sepio:0000084``).

Spark-first shape: each transform is ONE ``from_json`` + one explode of
a per-row triple array — zero shuffles, zero Python. The JSON-LD
intermediate document is skipped on purpose: the reference builds it
only to hand Jena a parseable unit; the triple SET is the semantic
contract (same policy as the GCI/dosage transforms). Blank nodes
(contributions, gene associations) are the deterministic house kind so
the named-graph MERGE stays idempotent.

Classification-context binning (jsonld/clinical_assertion.clj:83-125)
is the one relational step: the reference runs a PER-ASSERTION SPARQL
query (``genes-for-variation-byversion-query``) to fetch the genes
as-of the assertion's release date, then intersects with the
consensus-cancer-genes CSV. Here both as-of levels are windowed joins
over the (small multiplicity) version chains and the CSV is a broadcast
— one pass for the whole corpus instead of a query per row.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import iri as I
from ..sources.dosage_jira import _arr, _t
from ..sources.clinsig import REF_RESOURCES
from ..sources.clinvar_statements import CGTERMS, CLINVAR_VARIATION, VA_PREFIX

# IRI vocabulary (property-names.edn / class-names.edn resolutions;
# keywords the edn does not map fall through to bare names under
# @vocab = cgterms, per genegraph-kw-to-iri, common.clj:175-196)
DC = "http://purl.org/dc/terms/"
SEPIO = "http://purl.obolibrary.org/obo/SEPIO_"
SKOS_PREF = "http://www.w3.org/2004/02/skos/core#prefLabel"
SO_GENE = "http://purl.obolibrary.org/obo/SO_0000704"
CG_OBJECT = CGTERMS + "ClinVarObject"

IS_VERSION_OF = DC + "isVersionOf"
HAS_VERSION = DC + "hasVersion"
TITLE = DC + "title"
HAS_SUBJECT = SEPIO + "0000388"
HAS_PREDICATE = SEPIO + "0000389"
HAS_OBJECT = SEPIO + "0000390"
DATE_CREATED = SEPIO + "0000021"
DATE_MODIFIED = SEPIO + "0000036"
DATE_UPDATED = SEPIO + "0000164"
QUALIFIED_CONTRIBUTION = SEPIO + "0000159"
ACTIVITY_DATE = SEPIO + "0000160"
HAS_ROLE = SEPIO + "0000046"
HAS_AGENT = SEPIO + "0000017"
HAS_EVIDENCE_LINE = SEPIO + "0000006"
HAS_EVIDENCE_ITEM = SEPIO + "0000084"
EVIDENCE_STRENGTH = SEPIO + "0000132"
# :sepio/has-evidence-direction is NOT in property-names.edn → bare name
HAS_EVIDENCE_DIRECTION = CGTERMS + "has-evidence-direction"

CLINVAR_SUBMISSION = "https://identifiers.org/clinvar.submission:"
CLINVAR_GENE = CGTERMS + "clinvar.gene/"
SUBMITTER = CGTERMS + "clinvar.submitter/"
TRAIT_SET = CGTERMS + "clinvar.trait_set/"
CA_TRAIT_SET = CGTERMS + "clinvar.clinical_assertion_trait_set/"

# scv-review-status-to-evidence-strength-map (common.clj:164-173);
# unlisted statuses default to 0
SCV_STRENGTH: dict[str, int] = {
    "practice guideline": 4,
    "reviewed by expert panel": 3,
    "criteria provided, single submitter": 1,
    "no assertion criteria provided": 0,
    "no assertion for the individual variant": 0,
    "no assertion provided": 0,
}

GENE_SCHEMA = (
    "release_date string, content struct<id: string, symbol: string,"
    " full_name: string, hgnc_id: string>"
)
VARIATION_SCHEMA = (
    "release_date string, content struct<id: string, name: string,"
    " subclass_type: string, variation_type: string,"
    " protein_change: string,"
    " gene_associations: array<struct<gene_id: string>>>"
)
ARCHIVE_SCHEMA = (
    "release_date string, content struct<id: string, version: string,"
    " variation_id: string, interp_description: string,"
    " review_status: string, date_created: string,"
    " date_last_updated: string, num_submitters: string,"
    " num_submissions: string, species: string, record_status: string,"
    " interp_type: string>"
)
SCV_SCHEMA = (
    "release_date string, content struct<id: string, version: string,"
    " variation_id: string, variation_archive_id: string,"
    " trait_set_id: string, submitter_id: string, title: string,"
    " interpretation_description: string, review_status: string,"
    " allele_origins: array<string>, collection_methods: array<string>,"
    " clinical_assertion_trait_set_id: string,"
    " interpretation_date_last_evaluated: string, date_created: string,"
    " date_last_updated: string, record_status: string,"
    " assertion_type: string>"
)


def _contribution(parent: Column, activity_date: Column, role: str,
                  agent: Column) -> list[Column]:
    """The ``:sepio/qualified-contribution`` nested node every jsonld
    transform emits (activity date + role literal + agent IRI)."""
    cb = I.bnode(parent, F.lit("contrib"))
    return [
        _t(parent, QUALIFIED_CONTRIBUTION, cb, True),
        _t(cb, ACTIVITY_DATE, activity_date, False, I.XSD_STRING),
        _t(cb, HAS_ROLE, F.lit(role), False, I.XSD_STRING),
        _t(cb, HAS_AGENT, agent, True),
    ]


def gene_jsonld_triples(df: DataFrame, col: str = "value") -> DataFrame:
    """Gene messages → versioned ``so:Gene`` records
    (jsonld/gene.clj:16-37): types so/Gene + cg/ClinVarObject,
    ``skos:prefLabel`` from full_name, the archiver contribution, and
    the merged leftover fields (release_date / id / symbol / hgnc_id)
    under @vocab."""
    d = F.from_json(F.col(col), GENE_SCHEMA)
    c, rd = d["content"], d["release_date"]
    unv = F.concat(F.lit(CLINVAR_GENE), c["id"])
    ver = F.concat(unv, F.lit("."), rd)
    structs = [
        _t(ver, I.RDF_TYPE, CG_OBJECT, True),
        _t(ver, I.RDF_TYPE, SO_GENE, True),
        _t(ver, IS_VERSION_OF, unv, True),
        _t(ver, SKOS_PREF, c["full_name"], False, I.XSD_STRING),
        *_contribution(ver, rd, "ArchiverRole",
                       F.lit(SUBMITTER + "clinvar")),
        _t(ver, CGTERMS + "release_date", rd, False, I.XSD_STRING),
        _t(ver, CGTERMS + "id", c["id"], False, I.XSD_STRING),
        _t(ver, CGTERMS + "symbol", c["symbol"], False, I.XSD_STRING),
        _t(ver, CGTERMS + "hgnc_id", c["hgnc_id"], False, I.XSD_STRING),
    ]
    return df.select(
        ver.alias("graph"), F.explode(F.array(*structs)).alias("t")
    ).select("graph", "t.*")


def variation_jsonld_triples(df: DataFrame, col: str = "value") -> DataFrame:
    """Variation messages → versioned ``cg:Variant`` records
    (jsonld/variation.clj:23-44). ``:name`` reaches the model twice by
    design: as ``skos:prefLabel`` (explicit key) AND as ``cg:name``
    (only ``:id`` is dissoc'd before the merge — the resolver
    ``variant-name`` reads ``:cg/name``). ``gene_associations`` nested
    objects become deterministic per-(version, gene) nodes carrying
    ``cg:gene_id`` — the field the resolver joins on."""
    d = F.from_json(F.col(col), VARIATION_SCHEMA)
    c, rd = d["content"], d["release_date"]
    unv = F.concat(F.lit(CLINVAR_VARIATION), c["id"])
    ver = F.concat(unv, F.lit("."), rd)
    base = [
        _t(ver, I.RDF_TYPE, CG_OBJECT, True),
        _t(ver, I.RDF_TYPE, CGTERMS + "Variant", True),
        _t(ver, IS_VERSION_OF, unv, True),
        _t(ver, SKOS_PREF, c["name"], False, I.XSD_STRING),
        *_contribution(ver, rd, "ArchiverRole",
                       F.lit(SUBMITTER + "clinvar")),
        _t(ver, CGTERMS + "release_date", rd, False, I.XSD_STRING),
        _t(ver, CGTERMS + "name", c["name"], False, I.XSD_STRING),
        _t(ver, CGTERMS + "subclass_type", c["subclass_type"], False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "variation_type", c["variation_type"], False,
           I.XSD_STRING),
    ]
    blocks = [
        F.array(*base),
        _arr(
            c["protein_change"].isNotNull(),
            _t(ver, CGTERMS + "protein_change", c["protein_change"], False,
               I.XSD_STRING),
        ),
    ]
    # one block per gene association; transform can't know the array
    # length statically, so emit via a flattened per-element transform
    ga = F.coalesce(
        c["gene_associations"],
        F.array().cast("array<struct<gene_id: string>>"),
    )
    ga_block = F.flatten(
        F.transform(
            ga,
            lambda g: F.array(
                _t(ver, CGTERMS + "gene_associations",
                   I.bnode(ver, F.lit("ga"), g["gene_id"]), True),
                _t(I.bnode(ver, F.lit("ga"), g["gene_id"]),
                   CGTERMS + "gene_id", g["gene_id"], False, I.XSD_STRING),
            ),
        )
    )
    blocks.append(ga_block)
    return df.select(
        ver.alias("graph"), F.explode(F.concat(*blocks)).alias("t")
    ).select("graph", "t.*")


def archive_jsonld_triples(df: DataFrame, col: str = "value") -> DataFrame:
    """Variation-archive messages → versioned VCV
    ``cg:AggregateVariantClinicalSignificanceAssertion`` statements
    (jsonld/variation_archive.clj:28-70). Faithful quirks: the subject
    is the UNVERSIONED clinvar variation IRI; ``has-predicate`` carries
    the interp description as a LITERAL; ``has-object`` is the
    MONDO_0000001 IRI **as a plain string literal** (the reference emits
    it untyped in JSON-LD, so Jena stores a literal)."""
    d = F.from_json(F.col(col), ARCHIVE_SCHEMA)
    c, rd = d["content"], d["release_date"]
    unv = F.concat(F.lit(VA_PREFIX), c["id"])
    ver = F.concat(unv, F.lit("."), rd)
    structs = [
        _t(ver, I.RDF_TYPE, CG_OBJECT, True),
        _t(ver, I.RDF_TYPE,
           CGTERMS + "AggregateVariantClinicalSignificanceAssertion", True),
        _t(ver, IS_VERSION_OF, unv, True),
        _t(ver, HAS_VERSION, c["version"], False, I.XSD_STRING),
        _t(ver, HAS_SUBJECT,
           F.concat(F.lit(CLINVAR_VARIATION), c["variation_id"]), True),
        _t(ver, HAS_PREDICATE, c["interp_description"], False, I.XSD_STRING),
        _t(ver, HAS_OBJECT,
           F.lit("http://purl.obolibrary.org/obo/MONDO_0000001"), False,
           I.XSD_STRING),
        _t(ver, DATE_CREATED, c["date_created"], False, I.XSD_STRING),
        _t(ver, DATE_MODIFIED, c["date_last_updated"], False, I.XSD_STRING),
        *_contribution(ver, rd, "ArchiverRole",
                       F.lit(SUBMITTER + "clinvar")),
        _t(ver, CGTERMS + "release_date", rd, False, I.XSD_STRING),
        _t(ver, CGTERMS + "review_status", c["review_status"], False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "record_status", c["record_status"], False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "num_submitters", c["num_submitters"], False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "num_submissions", c["num_submissions"], False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "species", c["species"], False, I.XSD_STRING),
        _t(ver, CGTERMS + "interp_type", c["interp_type"], False,
           I.XSD_STRING),
    ]
    return df.select(
        ver.alias("graph"), F.explode(F.array(*structs)).alias("t")
    ).select("graph", "t.*")


SUBMISSION_SCHEMA = (
    "release_date string, content struct<id: string,"
    " submission_date: string, submitter_id: string>"
)
# iri.clj:16 — the submission record namespace is assertion_set/, NOT a
# clinvar.submission/ path (review-caught fidelity drift)
SUBMISSION = CGTERMS + "assertion_set/"


def submission_jsonld_triples(df: DataFrame, col: str = "value") -> DataFrame:
    """Submission messages → ``cg:AssertionSet`` records
    (jsonld/submission.clj:14-28): the versioned id, the type, and the
    whole message merged under @vocab (no dissoc list — even ``id`` and
    ``release_date`` re-emit as properties, faithfully)."""
    d = F.from_json(F.col(col), SUBMISSION_SCHEMA)
    c, rd = d["content"], d["release_date"]
    ver = F.concat(F.lit(SUBMISSION), c["id"], F.lit("."), rd)
    structs = [
        _t(ver, I.RDF_TYPE, CGTERMS + "AssertionSet", True),
        _t(ver, CGTERMS + "id", c["id"], False, I.XSD_STRING),
        _t(ver, CGTERMS + "release_date", rd, False, I.XSD_STRING),
        _t(ver, CGTERMS + "submission_date", c["submission_date"], False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "submitter_id", c["submitter_id"], False,
           I.XSD_STRING),
    ]
    return df.select(
        ver.alias("graph"), F.explode(F.array(*structs)).alias("t")
    ).select("graph", "t.*")


def parse_scv_messages(df: DataFrame, col: str = "value") -> DataFrame:
    """Clinical-assertion messages → one row per SCV version with the
    parsed fields exposed as columns (the classification-context join
    needs them relationally before triple emission)."""
    d = F.from_json(F.col(col), SCV_SCHEMA)
    return df.select(d["release_date"].alias("release_date"),
                     d["content"].alias("c")).select("release_date", "c.*")


def parse_variation_versions(df: DataFrame, col: str = "value") -> DataFrame:
    """(variation_id, release_date, gene_id) exploded from variation
    messages — the edge list the gene as-of joins traverse."""
    d = F.from_json(F.col(col), VARIATION_SCHEMA)
    return (
        df.select(
            d["content"]["id"].alias("variation_id"),
            d["release_date"].alias("variant_release_date"),
            F.explode(
                F.coalesce(
                    d["content"]["gene_associations"],
                    F.array().cast("array<struct<gene_id: string>>"),
                )
            ).alias("ga"),
        )
        .select("variation_id", "variant_release_date",
                F.col("ga")["gene_id"].alias("gene_id"))
    )


def parse_gene_versions(df: DataFrame, col: str = "value") -> DataFrame:
    """(gene_id, gene_release_date, hgnc_id) from gene messages."""
    d = F.from_json(F.col(col), GENE_SCHEMA)
    return df.select(
        d["content"]["id"].alias("gene_id"),
        d["release_date"].alias("gene_release_date"),
        d["content"]["hgnc_id"].alias("hgnc_id"),
    )


def cancer_gene_ids(spark, resources_dir: str = REF_RESOURCES) -> DataFrame:
    """consensus_cancer_genes.csv ids with num >= 2
    (``filtered-cancer-gene-ids``, jsonld/clinical_assertion.clj:96-98;
    CSV loader common.clj:65-79). Dictionary-scale → broadcast side."""
    path = os.path.join(resources_dir, "consensus_cancer_genes.csv")
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    df = spark.read.csv(path, header=True)
    cols = df.columns  # third column name is free-text ("# of Res ...")
    return (
        df.select(
            F.col(cols[0]).alias("cancer_hgnc_id"),
            F.col(cols[2]).cast("int").alias("num"),
        )
        .where(F.col("num") >= 2)
        .select("cancer_hgnc_id")
        .distinct()
    )


def clinsig_group_map(spark, resources_dir: str = REF_RESOURCES) -> DataFrame:
    """clinvar_clinsig-map.csv → (clinsig, grp) dictionary
    (``clinvar-clinsig-map-by-clinsig``, common.clj:112-122)."""
    path = os.path.join(resources_dir, "clinvar_clinsig-map.csv")
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    return spark.read.csv(path, header=True).select(
        F.col("clinsig").alias("_cs"), F.col("group").alias("grp")
    )


def classification_context(
    scvs: DataFrame,
    variations: DataFrame,
    genes: DataFrame,
    cancer_ids: DataFrame,
    clinsig_map: DataFrame,
) -> DataFrame:
    """Per SCV version: the ClinGen classification-context bin
    (``compute-clingen-classification-context``,
    jsonld/clinical_assertion.clj:83-125), evaluated in rule order:

    1. SOMATIC_CANCER — allele origins exclusively {"somatic"}, an
       as-of-resolved gene on the consensus-cancer list (num >= 2), and
       clinsig != "risk factor".
    2. PHARMACOGENOMIC — lower(clinsig) = "drug response".
    3. GERMLINE_DISEASE — review status practice-guideline/expert-panel,
       OR the clinsig-map group of lower(clinsig) = "path".
    4. OTHER.

    The gene set per SCV follows ``genes-for-variation-byversion-query``
    (jsonld/clinical_assertion.clj:20-62): latest variation version at
    or before the SCV's release date, then per associated gene the
    latest gene version at or before THAT variation version's date.
    The reference runs that SPARQL per assertion; here each as-of level
    is one join + one window over version chains whose multiplicity is
    bounded by versions-per-entity, and the cancer list and clinsig map
    are broadcast — corpus cost is two bounded shuffles total.

    Input frames: ``parse_scv_messages`` / ``parse_variation_versions``
    / ``parse_gene_versions`` outputs.
    """
    scv_keys = scvs.select("id", "release_date", "variation_id",
                           "allele_origins", "interpretation_description",
                           "review_status")
    # as-of level 1: latest variation version <= scv release_date
    w1 = Window.partitionBy("id", "release_date").orderBy(
        F.col("variant_release_date").desc()
    )
    var_versions = variations.select(
        "variation_id", "variant_release_date"
    ).distinct()
    latest_var = (
        scv_keys.join(var_versions, "variation_id")
        .where(F.col("variant_release_date") <= F.col("release_date"))
        .withColumn("_rn", F.dense_rank().over(w1))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    # the chosen variation version's gene associations
    assoc = latest_var.join(
        variations, ["variation_id", "variant_release_date"]
    )
    # as-of level 2: latest gene version <= variant release date
    w2 = Window.partitionBy(
        "id", "release_date", "gene_id"
    ).orderBy(F.col("gene_release_date").desc())
    with_genes = (
        assoc.join(genes, "gene_id")
        .where(F.col("gene_release_date") <= F.col("variant_release_date"))
        .withColumn("_rn", F.dense_rank().over(w2))
        .where(F.col("_rn") == 1)
    )
    cancer_flag = (
        with_genes.join(
            F.broadcast(cancer_ids),
            with_genes["hgnc_id"] == cancer_ids["cancer_hgnc_id"],
            "left_semi",
        )
        .select("id", "release_date")
        .distinct()
        .withColumn("has_cancer_gene", F.lit(True))
    )
    lower_cs = F.lower(F.col("interpretation_description"))
    flagged = (
        scv_keys.join(cancer_flag, ["id", "release_date"], "left")
        .join(F.broadcast(clinsig_map), lower_cs == F.col("_cs"), "left")
    )
    somatic_only = (
        F.array_distinct(F.col("allele_origins")) == F.array(F.lit("somatic"))
    )
    ctx = (
        F.when(
            somatic_only
            & F.coalesce(F.col("has_cancer_gene"), F.lit(False))
            & (lower_cs != "risk factor"),
            F.lit("SOMATIC_CANCER"),
        )
        .when(lower_cs == "drug response", F.lit("PHARMACOGENOMIC"))
        .when(
            F.col("review_status").isin(
                "practice guideline", "reviewed by expert panel"
            )
            | (F.col("grp") == "path"),
            F.lit("GERMLINE_DISEASE"),
        )
        .otherwise(F.lit("OTHER"))
    )
    return flagged.select(
        "id", "release_date", ctx.alias("classification_context")
    )


def scv_jsonld_triples(parsed: DataFrame) -> DataFrame:
    """Parsed SCV rows (+ ``classification_context`` column) → evidence
    line + assertion triples (jsonld/clinical_assertion.clj:127-204).

    Faithful quirks: the evidence-line IRI is UNVERSIONED
    (``cgterms:evidence_line/<id>``) while the assertion it carries is
    versioned; the ``@reverse`` block hangs the line off the UNVERSIONED
    VCV iri (``sepio:0000006``) — exactly the shape the
    aggregate-members queries walk; ``has-object`` (trait set) and
    ``submitted_condition`` are plain string literals; the evidence
    strength comes from the SCV review-status map with unlisted
    statuses → 0."""
    c = parsed
    rd = F.col("release_date")
    el = F.concat(F.lit(CGTERMS + "evidence_line/"), c["id"])
    unv = F.concat(F.lit(CLINVAR_SUBMISSION), c["id"])
    ver = F.concat(unv, F.lit("."), rd)
    vcv_unv = F.concat(F.lit(VA_PREFIX), c["variation_archive_id"])
    strength = F.lit(0)
    for status, n in SCV_STRENGTH.items():
        strength = F.when(
            F.col("review_status") == status, F.lit(n)
        ).otherwise(strength)
    base = [
        _t(el, I.RDF_TYPE, CG_OBJECT, True),
        _t(el, I.RDF_TYPE, CGTERMS + "EvidenceLine", True),
        _t(el, HAS_EVIDENCE_DIRECTION, F.lit("supports"), False,
           I.XSD_STRING),
        _t(el, EVIDENCE_STRENGTH, strength.cast("string"), False,
           I.XSD_INTEGER),
        _t(el, HAS_EVIDENCE_ITEM, ver, True),
        _t(vcv_unv, HAS_EVIDENCE_LINE, el, True),
        _t(ver, I.RDF_TYPE, CG_OBJECT, True),
        _t(ver, I.RDF_TYPE,
           CGTERMS + "VariantClinicalSignificanceAssertion", True),
        _t(ver, IS_VERSION_OF, unv, True),
        _t(ver, HAS_VERSION, c["version"], False, I.XSD_STRING),
        _t(ver, TITLE, c["title"], False, I.XSD_STRING),
        _t(ver, HAS_SUBJECT,
           F.concat(F.lit(CLINVAR_VARIATION), c["variation_id"]), True),
        _t(ver, HAS_PREDICATE, c["interpretation_description"], False,
           I.XSD_STRING),
        _t(ver, HAS_OBJECT,
           F.concat(F.lit(TRAIT_SET), c["trait_set_id"]), False,
           I.XSD_STRING),
        _t(ver, DATE_CREATED, c["date_created"], False, I.XSD_STRING),
        _t(ver, DATE_UPDATED, c["date_last_updated"], False, I.XSD_STRING),
        *_contribution(
            ver, c["interpretation_date_last_evaluated"], "SubmitterRole",
            F.concat(F.lit(SUBMITTER), c["submitter_id"]),
        ),
        _t(ver, CGTERMS + "submitted_condition",
           F.concat(F.lit(CA_TRAIT_SET),
                    c["clinical_assertion_trait_set_id"]), False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "release_date", rd, False, I.XSD_STRING),
        _t(ver, CGTERMS + "review_status", c["review_status"], False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "record_status", c["record_status"], False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "assertion_type", c["assertion_type"], False,
           I.XSD_STRING),
        _t(ver, CGTERMS + "variation_archive_id",
           c["variation_archive_id"], False, I.XSD_STRING),
        _t(ver, CGTERMS + "classification_context",
           c["classification_context"], False, I.XSD_STRING),
    ]
    blocks = [
        F.array(*base),
        F.transform(
            F.coalesce(c["allele_origins"],
                       F.array().cast("array<string>")),
            lambda o: _t(ver, CGTERMS + "allele_origin", o, False,
                         I.XSD_STRING),
        ),
        F.transform(
            F.coalesce(c["collection_methods"],
                       F.array().cast("array<string>")),
            lambda m: _t(ver, CGTERMS + "collection_method", m, False,
                         I.XSD_STRING),
        ),
    ]
    return parsed.select(
        ver.alias("graph"), F.explode(F.concat(*blocks)).alias("t")
    ).select("graph", "t.*")


def clinvar_jsonld_model(spark, gene_msgs: DataFrame,
                         variation_msgs: DataFrame,
                         archive_msgs: DataFrame,
                         scv_msgs: DataFrame,
                         resources_dir: str = REF_RESOURCES) -> DataFrame:
    """The full JSON-LD-tier model: all four streams transformed and
    unioned — the triples frame the ``source/graphql/clinvar/``
    resolver queries run over."""
    scvs = parse_scv_messages(scv_msgs)
    ctx = classification_context(
        scvs,
        parse_variation_versions(variation_msgs),
        parse_gene_versions(gene_msgs),
        cancer_gene_ids(spark, resources_dir),
        clinsig_group_map(spark, resources_dir),
    )
    scv_full = scvs.join(ctx, ["id", "release_date"])
    union = (
        gene_jsonld_triples(gene_msgs)
        .unionByName(variation_jsonld_triples(variation_msgs))
        .unionByName(archive_jsonld_triples(archive_msgs))
        .unionByName(scv_jsonld_triples(scv_full))
    )
    # Jena's union default model has SET semantics across the named
    # graphs: the @reverse evidence-line link (and the evidence-line
    # constants) re-assert with EVERY SCV version message, but the
    # reference's queries see one statement. One distinct on (s,p,o) is
    # that contract; map-side partial aggregation collapses the (few
    # per-version) duplicates before the exchange, so the shuffle
    # carries ~the unique triple set.
    return union.select(
        F.lit("urn:clinvar-jsonld:union").alias("graph"),
        "subject", "predicate", "object", "object_is_iri",
        "object_datatype",
    ).distinct()
