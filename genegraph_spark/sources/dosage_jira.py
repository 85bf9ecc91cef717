"""The JIRA → gene-dosage curation transform.

Re-expresses ``transform/dosage_jira.clj`` (the reference's largest
single-namespace domain transform, 321 lines): a JIRA issue JSON payload
becomes a SEPIO gene-dosage report model — report + contribution +
per-dosage (haploinsufficiency=1 / triplosensitivity=3) evidence-level
or proposition-scope assertions, study-finding evidence, dosage
propositions with functional-copy-number-complement variant subjects,
and (for region curations) dual-build sequence locations.

Reference crosswalk (``transform/dosage_jira.clj``):

- spec gate (Closed/Complete/resolutiondate, :12-34)      → ``parse_dosage_jira``
- JIRA offset-colon fixup + Instant print (:95-115)       → ``_instant``
- evidence-level value map (:16-24)                       → ``EVIDENCE_LEVELS``
- chr→RefSeq accession maps, both builds (:39-89)         → ``CHR_TO_REF``
- sequence-location regex parse (:133-148)                → location block
- study findings from the 3-pair field map (:178-203)     → findings block
- OMIM→MONDO + legacy-MONDO + default object (:205-221)   → object COALESCE
- scope vs evidence-strength assertion switch (:262-292)  → per-dosage branch
- report/contribution/topic skeleton (:294-315)           → report block

Spark-first / 100 TB: ONE ``from_json`` parse, every derivation a pure
column expression, ONE array-concat + explode to triples — zero Python,
zero joins, zero shuffles (the dictionary maps are literal
``create_map``s: the evidence-level value set is 6 entries and the
chromosome→accession map 48 by construction). The reference processes
one issue per Kafka event through per-issue Clojure walks; here the
whole backlog is a single codegen'd map stage.

Blank nodes are deterministic (``iri.bnode``: sha256 of the curation
key + role), unlike the reference's random ``l/blank-node`` — required
for idempotent named-graph MERGE and cross-engine oracles.
"""
from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from genegraph_spark.functions import iri as I

CG_PREFIX = "http://dx.clinicalgenome.org/entities/"
PUBMED = "https://pubmed.ncbi.nlm.nih.gov/"
DEFAULT_MONDO = "http://purl.obolibrary.org/obo/MONDO_0000001"

# evidence-levels (dosage_jira.clj:16-24); "40: Dosage sensitivity
# unlikely" deliberately maps to SufficientEvidence per the reference's
# in-line comment ("assume moderate [sic] evidence for dosage
# sensitivity unlikely")
EVIDENCE_LEVELS: dict[str, str] = {
    "3": ":sepio/DosageSufficientEvidence",
    "2": ":sepio/DosageModerateEvidence",
    "1": ":sepio/DosageMinimalEvidence",
    "0": ":sepio/DosageNoEvidence",
    "30: Gene associated with autosomal recessive phenotype":
        ":sepio/GeneAssociatedWithAutosomalRecessivePhenotype",
    "40: Dosage sensitivity unlikely": ":sepio/DosageSufficientEvidence",
}

AR_PHENOTYPE = "30: Gene associated with autosomal recessive phenotype"
UNLIKELY = "40: Dosage sensitivity unlikely"

# chromosome → RefSeq assembly accession, public NCBI accessions
# (dosage_jira.clj:39-89)
_CHRS = [str(n) for n in range(1, 23)] + ["X", "Y"]
CHR_TO_REF: dict[str, dict[str, str]] = {
    "grch37": {
        c: f"https://www.ncbi.nlm.nih.gov/nuccore/NC_0000{i + 1:02d}.{v}"
        for i, (c, v) in enumerate(
            zip(_CHRS,
                ["10", "11", "11", "11", "9", "11", "13", "10", "11", "10",
                 "9", "11", "10", "8", "9", "9", "10", "9", "9", "10",
                 "8", "10", "10", "9"])
        )
    },
    "grch38": {
        c: f"https://www.ncbi.nlm.nih.gov/nuccore/NC_0000{i + 1:02d}.{v}"
        for i, (c, v) in enumerate(
            zip(_CHRS,
                ["11", "12", "12", "12", "10", "12", "14", "11", "12", "11",
                 "10", "12", "11", "9", "10", "10", "11", "10", "10", "11",
                 "9", "11", "11", "10"])
        )
    },
}

# build → JIRA location custom field (dosage_jira.clj:91-92)
BUILD_FIELD = {"grch37": "customfield_10160", "grch38": "customfield_10532"}

# dosage → 3 (pmid, description) JIRA field pairs (dosage_jira.clj:178-184)
EVIDENCE_FIELD_MAP = {
    1: [("customfield_10183", "customfield_10184"),
        ("customfield_10185", "customfield_10186"),
        ("customfield_10187", "customfield_10188")],
    3: [("customfield_10189", "customfield_10190"),
        ("customfield_10191", "customfield_10192"),
        ("customfield_10193", "customfield_10194")],
}

# the JIRA issue payload shape (public JIRA REST export field layout;
# custom field numbers are the reference's, dosage_jira.clj passim)
DOSAGE_JIRA_SCHEMA = """
    key string,
    fields struct<
        status: struct<name: string>,
        resolution: struct<name: string>,
        resolutiondate: string,
        updated: string,
        customfield_10157: string,
        customfield_10202: string,
        customfield_10160: string,
        customfield_10532: string,
        customfield_10165: struct<value: string>,
        customfield_10166: struct<value: string>,
        customfield_10198: struct<value: string>,
        customfield_10199: struct<value: string>,
        customfield_10200: string,
        customfield_10201: string,
        customfield_11631: string,
        customfield_11633: string,
        customfield_10183: string, customfield_10184: string,
        customfield_10185: string, customfield_10186: string,
        customfield_10187: string, customfield_10188: string,
        customfield_10189: string, customfield_10190: string,
        customfield_10191: string, customfield_10192: string,
        customfield_10193: string, customfield_10194: string
    >
"""


def parse_dosage_jira(df: DataFrame, col: str = "value") -> DataFrame:
    """Parse the JIRA payload column and apply the spec gate
    (dosage_jira.clj:26-34 + :318-321): status Closed, resolution
    Complete, resolutiondate present — anything else is
    ``jira_valid = false`` (the reference marks ``::spec/invalid``;
    callers route those rows to quarantine)."""
    parsed = df.withColumn("issue", F.from_json(F.col(col), DOSAGE_JIRA_SCHEMA))
    f = F.col("issue.fields")
    valid = (
        (f["status"]["name"] == "Closed")
        & (f["resolution"]["name"] == "Complete")
        & f["resolutiondate"].isNotNull()
    )
    return parsed.withColumn("jira_valid", F.coalesce(valid, F.lit(False)))


def _instant(s: Column) -> Column:
    """JIRA datetime → ISO instant string: insert the missing offset
    colon (dosage_jira.clj:95-101), parse, print as UTC the way
    ``java.time.Instant/toString`` does — seconds precision when millis
    are zero, millisecond precision otherwise (:103-110). Session
    timezone is UTC by :mod:`genegraph_spark.session` contract."""
    fixed = F.regexp_replace(s, r"(\d\d)(\d\d)$", r"$1:$2")
    ts = F.to_timestamp(fixed, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    return F.when(
        F.date_format(ts, "SSS") == "000",
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
    ).otherwise(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))


def _lit_map(d: dict[str, str]) -> Column:
    return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])


def _t(s, p, o, is_iri, dt=None):
    """Triple struct in house column order — a thin plain-string-
    accepting wrapper over :func:`operators.triples.tstruct` (one
    struct builder to keep field-compatible, not two)."""
    from genegraph_spark.operators.triples import tstruct

    return tstruct(
        s if isinstance(s, Column) else F.lit(s),
        p,
        o if isinstance(o, Column) else F.lit(o),
        is_iri,
        dt,
    )


def _arr(cond: Column, *structs: Column) -> Column:
    """Conditionally-present triple block (empty array when absent)."""
    empty = F.array().cast(
        "array<struct<subject:string,predicate:string,object:string,"
        "object_is_iri:boolean,object_datatype:string>>"
    )
    return F.when(cond, F.array(*structs)).otherwise(empty)


# Expression templates, built once per PROCESS. A Column is an immutable
# expression tree bound to the JVM gateway, which outlives every
# SparkSession and SparkContext, so the ~90-column scalar projection and
# the ~35-struct pack array below are cached builder results with no
# session key: every query construction after the first skips thousands
# of py4j calls (measured ~1.1s of driver time per call). No data or
# results are cached — only the equivalent of writing the expressions
# out at module import time.


@functools.cache
def _scalar_columns(omim_items: tuple[tuple[str, str], ...]) -> tuple[Column, ...]:
    """The scalar projection for the OMIM→MONDO map given as its sorted
    items (hashable, so the cache key)."""
    f = F.col("issue.fields")
    key = F.col("issue.key")

    ev_map = _lit_map(EVIDENCE_LEVELS)
    omim_map = _lit_map(dict(omim_items))

    updated_i = _instant(f["updated"])
    base_iri = F.concat(F.lit(CG_PREFIX), key)
    gene = f["customfield_10157"]
    region_iri = F.concat(F.lit(CG_PREFIX + "region-"), key)

    cols: dict[str, Column] = {
        "valid": F.col("jira_valid"),
        "base": base_iri,
        "report": F.concat(base_iri, F.lit("-"), updated_i),
        "contrib": F.concat(
            F.lit(CG_PREFIX + "contribution-"), key, F.lit("-"), updated_i
        ),
        "resol_i": _instant(f["resolutiondate"]),
        "gene": gene,
        "region": region_iri,
        "subj": F.coalesce(gene, region_iri),
        "region_label": f["customfield_10202"],
    }

    # dual-build sequence locations (:133-158), region curations only
    for build, field in BUILD_FIELD.items():
        loc_str = f[field]
        cols[f"loc_on_{build}"] = gene.isNull() & loc_str.isNotNull()
        cols[f"loc_b_{build}"] = I.bnode(key, F.lit(build), F.lit("loc"))
        cols[f"int_b_{build}"] = I.bnode(key, F.lit(build), F.lit("interval"))
        chrom = F.substring(
            F.regexp_extract(loc_str, r"(\w+):(.+)-(.+)$", 1), 4, 10
        )
        cols[f"ref_{build}"] = F.element_at(_lit_map(CHR_TO_REF[build]), chrom)
        cols[f"start_{build}"] = F.regexp_replace(
            F.regexp_extract(loc_str, r"(\w+):(.+)-(.+)$", 2), r"\D", ""
        ).cast("long").cast("string")
        cols[f"end_{build}"] = F.regexp_replace(
            F.regexp_extract(loc_str, r"(\w+):(.+)-(.+)$", 3), r"\D", ""
        ).cast("long").cast("string")

    # per-dosage scalar derivations (:205-306)
    for dosage, (value_f, desc_f, pheno_f, legacy_f) in {
        1: ("customfield_10165", "customfield_10198",
            "customfield_10200", "customfield_11631"),
        3: ("customfield_10166", "customfield_10199",
            "customfield_10201", "customfield_11633"),
    }.items():
        raw = f[value_f]["value"]
        level = F.element_at(ev_map, raw)  # null → no assertion (:297-306)
        pheno = f[pheno_f]
        cols[f"level_{dosage}"] = level
        cols[f"present_{dosage}"] = level.isNotNull()
        cols[f"a_{dosage}"] = F.concat(
            base_iri, F.lit(f"x{dosage}-"), updated_i
        )
        cols[f"p_{dosage}"] = F.concat(base_iri, F.lit(f"x{dosage}"))
        cols[f"variant_b_{dosage}"] = I.bnode(
            key, F.lit("variant"), F.lit(str(dosage))
        )
        # proposition object (:205-230): MONDO-bearing phenotype wins,
        # else the OMIM→MONDO equivalence, else legacy MONDO, else root
        cols[f"obj_{dosage}"] = F.coalesce(
            F.when(pheno.contains("MONDO:"), pheno),
            F.when(
                pheno.rlike(r"^[0-9]+$"),
                F.element_at(omim_map, F.concat(F.lit("OMIM:"), pheno)),
            ),
            F.nullif(
                F.regexp_extract(f[legacy_f], r"MONDO:[0-9]*", 0), F.lit("")
            ),
            F.lit(DEFAULT_MONDO),
        )
        cols[f"pred_{dosage}"] = F.when(
            raw == UNLIKELY, F.lit(":geno/BenignForCondition")
        ).otherwise(F.lit(":geno/PathogenicForCondition"))
        cols[f"scope_{dosage}"] = F.coalesce(
            F.lit(dosage == 1) & (raw == AR_PHENOTYPE), F.lit(False)
        )
        cols[f"desc_{dosage}"] = F.coalesce(f[desc_f]["value"], F.lit(""))
        for i, (pmid_f, fdesc_f) in enumerate(EVIDENCE_FIELD_MAP[dosage]):
            pmid = f[pmid_f]
            cols[f"fp_{dosage}_{i}"] = pmid.isNotNull()
            cols[f"fb_{dosage}_{i}"] = I.bnode(
                key, F.lit("finding"), F.lit(str(dosage)), F.lit(str(i))
            )
            cols[f"fsrc_{dosage}_{i}"] = F.concat(
                F.lit(PUBMED), F.regexp_extract(pmid, r"\d+", 0)
            )
            cols[f"fdesc_{dosage}_{i}"] = F.coalesce(f[fdesc_f], F.lit(""))

    return tuple(c.alias(n) for n, c in cols.items())


def dosage_scalars(
    parsed: DataFrame, omim_mondo: dict[str, str] | None = None
) -> DataFrame:
    """Stage 1 of the transform: parsed issues → ONE narrow projection
    holding every scalar derivation (instants, IRIs, bnodes, regex
    parses, map lookups) plus the ``valid`` spec-gate flag the packing
    stage folds in. Split out as its own function so each stage can be
    profiled and plan-audited independently (see
    :func:`dosage_jira_triples`).

    NO pre-filter on jira_valid here: a ``.where`` above this projection
    gets pushed below it by Catalyst, which re-expands the predicate to
    the full ``from_json`` chain — every row then pays the (interpreted,
    CodegenFallback) JSON parse TWICE, once in the Filter and once in
    the Project (measured 2.8s vs 0.9s at sf0.1). The validity gate is
    instead carried as the ``valid`` column and folded into every packed
    triple block by :func:`dosage_jira_triples`, so invalid rows emit an
    empty array and vanish at the explode — same rows out, ONE parse."""
    return parsed.select(*_scalar_columns(tuple(sorted((omim_mondo or {}).items()))))


def dosage_jira_triples(
    parsed: DataFrame, omim_mondo: dict[str, str] | None = None
) -> DataFrame:
    """Valid parsed issues → the gene-dosage report model as triples
    (house schema; graph = the curation's base IRI, mirroring the
    reference's one-named-graph-per-curation storage).

    ``omim_mondo`` is the OMIM-CURIE → MONDO equivalence the reference
    resolves with a per-row ``skos:has-exact-match`` inverse graph
    lookup (dosage_jira.clj:205-211); here it is a literal map —
    dimension-scale by nature (one entry per curated OMIM phenotype).

    Two-stage plan on purpose: every scalar derivation lands in ONE
    narrow projection first (:func:`dosage_scalars`), and the triple
    array is then packed from plain column references. Packing ~35
    triple structs from full expression trees in a single Generate node
    blows the JVM's 64 KB method limit and drops the whole stage to
    interpreted mode (measured); the split keeps both stages inside
    whole-stage codegen."""
    return dosage_scalars(parsed, omim_mondo).select(
        F.col("base").alias("graph"), _pack_column()
    ).select("graph", "t.*")


@functools.cache
def _pack_column() -> Column:
    """Every triple block of a :func:`dosage_scalars` row, packed into one
    array and exploded to ``t``."""
    C = F.col
    # spec gate: every block is conditioned on the row's validity (see
    # dosage_scalars — this replaces the former pre-filter without
    # duplicating the JSON parse into a pushed-down Filter)
    valid = F.coalesce(C("valid"), F.lit(False))
    # report + contribution skeleton (dosage_jira.clj:294-315, :166-171)
    blocks = [
        _arr(
            valid,
            _t(C("report"), I.RDF_TYPE, ":sepio/GeneDosageReport", True),
            _t(C("report"), ":dc/is-version-of", C("base"), True),
            _t(C("report"), ":sepio/qualified-contribution", C("contrib"), True),
            _t(C("base"), I.RDF_TYPE, ":sepio/GeneDosageRecord", True),
            _t(C("contrib"), ":sepio/activity-date", C("resol_i"), False,
               I.XSD_STRING),
            _t(C("contrib"), ":bfo/realizes", ":sepio/InterpreterRole", True),
        ),
        # topic (:160-164): gene curation → is-about gene; region
        # curation → is-about region + the region feature + locations
        _arr(valid & C("gene").isNotNull(),
             _t(C("report"), ":iao/is-about", C("gene"), True)),
        _arr(
            valid & C("gene").isNull(),
            _t(C("report"), ":iao/is-about", C("region"), True),
            _t(C("region"), ":rdfs/label", C("region_label"), False,
               I.XSD_STRING),
            _t(C("region"), I.RDF_TYPE, ":so/SequenceFeature", True),
        ),
    ]
    for build in BUILD_FIELD:
        blocks.append(
            _arr(
                valid & C(f"loc_on_{build}"),
                _t(C("region"), ":geno/has-location", C(f"loc_b_{build}"), True),
                _t(C(f"loc_b_{build}"), I.RDF_TYPE,
                   ":geno/SequenceFeatureLocation", True),
                _t(C(f"loc_b_{build}"), ":geno/has-reference-sequence",
                   C(f"ref_{build}"), True),
                _t(C(f"loc_b_{build}"), ":geno/has-interval",
                   C(f"int_b_{build}"), True),
                _t(C(f"int_b_{build}"), I.RDF_TYPE, ":geno/SequenceInterval",
                   True),
                _t(C(f"int_b_{build}"), ":geno/start-position",
                   C(f"start_{build}"), False, I.XSD_INTEGER),
                _t(C(f"int_b_{build}"), ":geno/end-position",
                   C(f"end_{build}"), False, I.XSD_INTEGER),
            )
        )

    # per-dosage assertion trees (:236-292)
    for dosage in (1, 3):
        present = valid & C(f"present_{dosage}")
        a_iri, p_iri = C(f"a_{dosage}"), C(f"p_{dosage}")
        variant_b = C(f"variant_b_{dosage}")
        obj, pred = C(f"obj_{dosage}"), C(f"pred_{dosage}")
        level, scope = C(f"level_{dosage}"), C(f"scope_{dosage}")

        blocks.append(
            _arr(
                present,
                # common assertion fields (:269-277)
                _t(a_iri, ":sepio/is-specified-by",
                   ":sepio/DosageSensitivityEvaluationGuideline", True),
                _t(a_iri, ":sepio/qualified-contribution", C("contrib"), True),
                _t(a_iri, ":sepio/has-subject", p_iri, True),
                _t(a_iri, ":dc/description", C(f"desc_{dosage}"), False,
                   I.XSD_STRING),
                # proposition + variant subject (:233-260)
                _t(p_iri, I.RDF_TYPE, ":sepio/DosageSensitivityProposition",
                   True),
                _t(p_iri, ":sepio/has-predicate", pred, True),
                _t(p_iri, ":sepio/has-subject", variant_b, True),
                _t(p_iri, ":sepio/has-object", obj, True),
                _t(variant_b, I.RDF_TYPE,
                   ":geno/FunctionalCopyNumberComplement", True),
                _t(variant_b, ":geno/has-member-count", F.lit(str(dosage)),
                   False, I.XSD_INTEGER),
                _t(variant_b, ":geno/has-location", C("subj"), True),
                _t(C("report"), ":bfo/has-part", a_iri, True),
            )
        )
        # scope vs evidence-strength branch (:279-292)
        blocks.append(
            _arr(
                present & scope,
                _t(a_iri, ":sepio/has-predicate",
                   ":sepio/DosageScopeAssertion", True),
                _t(a_iri, ":sepio/has-object",
                   ":sepio/GeneAssociatedWithAutosomalRecessivePhenotype",
                   True),
                _t(a_iri, I.RDF_TYPE, ":sepio/PropositionScopeAssertion",
                   True),
            )
        )
        blocks.append(
            _arr(
                present & ~scope,
                _t(a_iri, I.RDF_TYPE, ":sepio/EvidenceLevelAssertion", True),
                _t(a_iri, ":sepio/has-predicate", ":sepio/HasEvidenceLevel",
                   True),
                _t(a_iri, ":sepio/has-object", level, True),
            )
        )
        # study findings (:186-203): keep a pair when its pmid is bound
        for i in range(len(EVIDENCE_FIELD_MAP[dosage])):
            blocks.append(
                _arr(
                    present & C(f"fp_{dosage}_{i}"),
                    _t(a_iri, ":sepio/has-evidence", C(f"fb_{dosage}_{i}"),
                       True),
                    _t(C(f"fb_{dosage}_{i}"), I.RDF_TYPE,
                       ":sepio/StudyFinding", True),
                    _t(C(f"fb_{dosage}_{i}"), ":dc/source",
                       C(f"fsrc_{dosage}_{i}"), True),
                    _t(C(f"fb_{dosage}_{i}"), ":dc/description",
                       C(f"fdesc_{dosage}_{i}"), False, I.XSD_STRING),
                )
            )

    return F.explode(F.concat(*blocks)).alias("t")
