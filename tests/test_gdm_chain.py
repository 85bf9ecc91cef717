"""Round-5: execution-verified evidence constructors + the FULL
gene-validity transform chain.

Every test in this file runs a REAL reference ``.sparql`` file
(``/root/reference/src/genegraph/transform/gene_validity_refactor/``)
unmodified over a hand-built GCI fixture and asserts hand-derived
output triples. ``TestFullGdmChain`` composes the reference's complete
``transform-gdm`` sequence (gene_validity_refactor.clj:414-463) —
22 constructs + both unlink rewrites + evidence connections + legacy id
+ the proband-score cap — over one fixture and checks the final model.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from genegraph_spark.operators import sparql as S

REF_DIR = "/root/reference/src/genegraph/transform/gene_validity_refactor"
RES_DIR = "/root/reference/resources"

GCI = "http://dataexchange.clinicalgenome.org/gci/"
GCX = "http://dataexchange.clinicalgenome.org/gcixform/"
SEPIO = "http://purl.obolibrary.org/obo/SEPIO_"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
# CONSTRUCT templates emit the engine's short form for `a`
A_TYPE = "rdf:type"
PM = "https://pubmed.ncbi.nlm.nih.gov/"

TRIPLE_SCHEMA = (
    "graph string, subject string, predicate string, object string, "
    "object_is_iri boolean, object_datatype string"
)

pytestmark = [
    pytest.mark.skipif(
        not os.path.isdir(REF_DIR), reason="reference tree not present"
    ),
    # every test compiles+runs real reference .sparql files (the full
    # chain test alone is ~5 min); inner loop: -m "not slow"
    pytest.mark.slow,
]


def T(spark, rows):
    return spark.createDataFrame(
        [("g", s, p, o, i, dt) for s, p, o, i, dt in rows], TRIPLE_SCHEMA
    )


def iri(s, p, o):
    return (s, p, o, True, None)


def lit(s, p, o, dt=None):
    return (s, p, o, False, dt)


def q(name):
    return S.PreparedQuery(open(os.path.join(REF_DIR, name)).read())


def by_subject(rows):
    out = {}
    for r in rows:
        out.setdefault(r.subject, {}).setdefault(r.predicate, set()).add(
            (r.object, r.object_is_iri)
        )
    return out


@pytest.fixture(scope="module")
def names():
    from genegraph_spark.functions.names import load_names_edn

    if not os.path.isdir(RES_DIR):
        pytest.skip("reference resources not present")
    return load_names_edn(
        os.path.join(RES_DIR, "property-names.edn"),
        os.path.join(RES_DIR, "class-names.edn"),
    )


@pytest.fixture(scope="module")
def dictionary(spark):
    from genegraph_spark.functions.serialize import read_turtle

    return read_turtle(
        spark, os.path.join(REF_DIR, "gdm_sepio_relationships.ttl"), graph="g"
    )


class TestExperimentalEvidenceAssertions:
    """construct_experimental_evidence_assertions.sparql: the four-level
    points tree → one overall line + three typed sub-lines."""

    def test_points_tree_rollup(self, spark):
        cls = GCI + "cls1"
        rows = [
            iri(cls, RDF + "type", GCI + "provisionalClassification"),
            lit(cls, GCI + "approvedClassification", "true", "xsd:boolean"),
            iri(cls, GCI + "classificationPoints", "_:pts"),
            lit("_:pts", GCI + "experimentalEvidenceTotal", "4.5", "xsd:decimal"),
            iri("_:pts", GCI + "function", "_:f"),
            lit("_:f", GCI + "pointsCounted", "2", "xsd:integer"),
            iri("_:pts", GCI + "functionalAlteration", "_:fa"),
            lit("_:fa", GCI + "pointsCounted", "1.5", "xsd:decimal"),
            iri("_:pts", GCI + "modelsRescue", "_:mr"),
            lit("_:mr", GCI + "pointsCounted", "1", "xsd:integer"),
            iri("_:pts", GCI + "segregation", "_:seg"),
            lit("_:seg", GCI + "pointsCounted", "0", "xsd:integer"),
        ]
        out = by_subject(
            q("construct_experimental_evidence_assertions.sparql")
            .run(T(spark, rows))
            .collect()
        )
        line = cls + "_experimental_evidence_line"
        assert (line, True) in out[cls][":sepio/has-evidence"]
        exp = out[line]
        assert (":sepio/OverallExperimentalEvidenceLine", True) in exp[A_TYPE]
        assert ("4.5", False) in exp[":sepio/evidence-line-strength-score"]
        assert exp[":sepio/has-evidence"] == {
            (cls + "_functional_evidence_line", True),
            (cls + "_functional_alteration_evidence_line", True),
            (cls + "_model_rescue_evidence_line", True),
        }
        assert out[cls + "_functional_evidence_line"][
            ":sepio/evidence-line-strength-score"
        ] == {("2", False)}
        assert out[cls + "_functional_alteration_evidence_line"][
            ":sepio/evidence-line-strength-score"
        ] == {("1.5", False)}
        assert out[cls + "_model_rescue_evidence_line"][
            ":sepio/evidence-line-strength-score"
        ] == {("1", False)}

    def test_unapproved_classification_no_rows(self, spark):
        rows = [
            iri(GCI + "c2", RDF + "type", GCI + "provisionalClassification"),
            lit(GCI + "c2", GCI + "approvedClassification", "false", "xsd:boolean"),
            iri(GCI + "c2", GCI + "classificationPoints", "_:p"),
            lit("_:p", GCI + "experimentalEvidenceTotal", "4", "xsd:integer"),
        ]
        assert (
            q("construct_experimental_evidence_assertions.sparql")
            .run(T(spark, rows))
            .count()
            == 0
        )


class TestAdVariantAssertions:
    """construct_ad_variant_assertions.sparql: the AD/X-linked points
    subtree → three typed evidence lines under the overall genetic
    line IRI (no explicit classification edge in the template)."""

    def test_ad_subtree(self, spark):
        cls = GCI + "cls1"
        rows = [
            iri(cls, RDF + "type", GCI + "provisionalClassification"),
            lit(cls, GCI + "approvedClassification", "true", "xsd:boolean"),
            iri(cls, GCI + "classificationPoints", "_:pts"),
            iri("_:pts", GCI + "autosomalDominantOrXlinkedDisorder", "_:ad"),
            iri("_:ad", GCI + "probandWithOtherVariantTypeWithGeneImpact", "_:t1"),
            lit("_:t1", GCI + "pointsCounted", "1", "xsd:integer"),
            iri("_:ad", GCI + "probandWithPredictedOrProvenNullVariant", "_:t2"),
            lit("_:t2", GCI + "pointsCounted", "2.5", "xsd:decimal"),
            iri("_:ad", GCI + "variantIsDeNovo", "_:t3"),
            lit("_:t3", GCI + "pointsCounted", "3", "xsd:integer"),
        ]
        out = by_subject(
            q("construct_ad_variant_assertions.sparql").run(T(spark, rows)).collect()
        )
        ogel = cls + "_overall_genetic_evidence_line"
        assert out[ogel][":sepio/has-evidence"] == {
            (cls + "_ad_other_el", True),
            (cls + "_ad_null_el", True),
            (cls + "_ad_dn_el", True),
        }
        assert out[cls + "_ad_other_el"][
            ":sepio/evidence-line-strength-score"
        ] == {("1", False)}
        assert (":sepio/OverallAutosomalDominantNullVariantEvidenceLine", True) in out[cls + "_ad_null_el"][A_TYPE]
        assert out[cls + "_ad_dn_el"][
            ":sepio/evidence-line-strength-score"
        ] == {("3", False)}


class TestArVariantScore:
    """construct_ar_variant_score.sparql: SOPv8 AR proband-cap lines —
    the MOI regex UNION (0000007 | 0032113) gates emission."""

    @staticmethod
    def _rows(moi):
        return [
            iri(GCI + "gdm1", RDF + "type", GCI + "gdm"),
            lit(GCI + "gdm1", GCI + "modeInheritance", moi),
            iri(GCI + "ind1", GCI + "variantScores", GCI + "vs1"),
            lit(GCI + "vs1", GCI + "scoreStatus", "Score"),
            iri(GCI + "ind1", GCI + "variantScores", GCI + "vs2"),
            lit(GCI + "vs2", GCI + "scoreStatus", "Score"),
        ]

    def test_ar_moi_emits_cap_line(self, spark):
        out = by_subject(
            q("construct_ar_variant_score.sparql")
            .run(T(spark, self._rows("Autosomal recessive inheritance (HP:0000007)")))
            .collect()
        )
        cap = GCI + "ind1_proband_score_evidence_line"
        assert (":sepio/ProbandScoreCapEvidenceLine", True) in out[cap][A_TYPE]
        assert out[cap][":sepio/has-evidence"] == {
            (GCI + "ind1", True),
            (GCI + "vs1", True),
            (GCI + "vs2", True),
        }
        assert out[cap][":sepio/score-status"] == {("Score", False)}

    def test_semidominant_union_arm(self, spark):
        out = (
            q("construct_ar_variant_score.sparql")
            .run(T(spark, self._rows("Semidominant inheritance (HP:0032113)")))
            .count()
        )
        assert out > 0

    def test_dominant_moi_no_rows(self, spark):
        assert (
            q("construct_ar_variant_score.sparql")
            .run(T(spark, self._rows("Autosomal dominant inheritance (HP:0000006)")))
            .count()
            == 0
        )


class TestFamilySegregationEvidence:
    """construct_family_segregation_evidence.sparql: annotation path
    alternation, six OPTIONALs, and the scored-proband NOT-EXISTS guard
    (with its inner corpus-level variantScores NOT-EXISTS switch)."""

    @staticmethod
    def _family(n, aff=GCI + "aff1"):
        fam = GCI + f"fam{n}"
        seg = f"_:seg{n}"
        return fam, [
            iri(fam, RDF + "type", GCI + "family"),
            iri(fam, GCI + "segregation", seg),
            lit(fam, GCI + "label", f"Family {n}"),
            iri(fam, GCI + "affiliation", aff),
            lit(seg, GCI + "estimatedLodScore", "3.2", "xsd:decimal"),
            lit(seg, GCI + "includeLodScoreInAggregateCalculation", "true",
                "xsd:boolean"),
            lit(seg, GCI + "numberOfAffectedWithGenotype", "4", "xsd:integer"),
            iri(GCI + "ann1", GCI + "families", fam),
        ]

    @staticmethod
    def _pub():
        return [
            iri(GCI + "ann1", GCI + "article", GCI + "pub1"),
            lit(GCI + "pub1", GCI + "pmid", "31001"),
        ]

    def test_segregation_emitted(self, spark):
        fam, rows = self._family(1)
        out = by_subject(
            q("construct_family_segregation_evidence.sparql")
            .run(T(spark, rows + self._pub()), pmbase=PM)
            .collect()
        )
        seg_id = fam + "_family_segregation"
        sg = out[seg_id]
        assert (":sepio/FamilyCosegregation", True) in sg[A_TYPE]
        assert sg[":sepio/is-about-family"] == {(fam, True)}
        assert sg[":dc/source"] == {(PM + "31001", True)}
        assert sg[":sepio/estimated-lod-score"] == {("3.2", False)}
        assert sg[":sepio/phenotype-positive-allele-positive"] == {("4", False)}
        assert (":pco/Family", True) in out[fam][A_TYPE]

    def test_family_with_scored_proband_excluded(self, spark):
        fam1, rows1 = self._family(1)
        fam2, rows2 = self._family(2)
        # fam2 includes a proband scored by the SAME affiliation via the
        # legacy gci:scores path (no variantScores in the corpus → the
        # inner NOT-EXISTS switch selects the gci:scores arm)
        proband = GCI + "prob2"
        rows2 += [
            iri(fam2, GCI + "individualIncluded", proband),
            lit(proband, GCI + "proband", "true", "xsd:boolean"),
            iri(proband, GCI + "scores", GCI + "sc2"),
            iri(GCI + "sc2", GCI + "affiliation", GCI + "aff1"),
            lit(GCI + "sc2", GCI + "scoreStatus", "Score"),
        ]
        out = (
            q("construct_family_segregation_evidence.sparql")
            .run(T(spark, rows1 + rows2 + self._pub()), pmbase=PM)
            .collect()
        )
        subjects = {r.subject for r in out}
        assert fam1 + "_family_segregation" in subjects
        assert fam2 + "_family_segregation" not in subjects


class TestCaseControlEvidence:
    """construct_case_control_evidence.sparql: study-type resolution
    through the gdm_sepio_relationships.ttl dictionary + the two-cohort
    shape."""

    def test_single_variant_analysis(self, spark, dictionary):
        cc = GCI + "cc1"
        rows = [
            iri(cc, RDF + "type", GCI + "caseControl"),
            lit(cc, GCI + "label", "CC Study 1"),
            iri(cc, GCI + "studyType", GCX + "SingleVariantAnalysis"),
            lit(cc, GCI + "date_created", "2020-02-02"),
            iri(cc, GCI + "statisticalValues", "_:sv"),
            iri(cc, GCI + "scores", GCI + "sc1"),
            lit(cc, GCI + "pValue", "0.003", "xsd:decimal"),
            iri(cc, GCI + "caseCohort", "_:case"),
            iri("_:case", GCI + "numberAllGenotypedSequenced", "100"),
            lit("_:case", GCI + "numberWithVariant", "10", "xsd:integer"),
            iri("_:case", GCI + "method", "_:cm"),
            iri(cc, GCI + "controlCohort", "_:ctrl"),
            lit("_:ctrl", GCI + "numberAllGenotypedSequenced", "200", "xsd:integer"),
            lit("_:ctrl", GCI + "numberWithVariant", "5", "xsd:integer"),
            iri("_:ctrl", GCI + "method", "_:ctm"),
            lit("_:sv", GCI + "otherType", "Odds Ratio"),
            lit("_:sv", GCI + "value", "2.5", "xsd:decimal"),
            iri(GCI + "sc1", RDF + "type", GCI + "evidenceScore"),
            lit(GCI + "sc1", GCI + "score", "1.5", "xsd:decimal"),
            lit(GCI + "sc1", GCI + "scoreStatus", "Score"),
            iri(GCI + "ann1", GCI + "caseControlStudies", cc),
            iri(GCI + "ann1", GCI + "article", "_:ag"),
            lit("_:ag", GCI + "pmid", "31002"),
        ]
        src = T(spark, rows).unionByName(dictionary)
        out = by_subject(
            q("construct_case_control_evidence.sparql").run(src, pmbase=PM).collect()
        )
        line = out[cc]
        # study type resolved through the dictionary: SingleVariantAnalysis
        # → evidence line SEPIO_0004020, item SEPIO_0004039
        assert (SEPIO + "0004020", True) in line[A_TYPE]
        assert line[":sepio/evidence-line-strength-score"] == {("1.5", False)}
        item = out[cc + "_cc_evidence_item"]
        assert (SEPIO + "0004039", True) in item[A_TYPE]
        assert item[":obi/p-value"] == {("0.003", False)}
        assert item[":sepio/statistical-significance-type"] == {
            ("Odds Ratio", False)
        }
        assert item[":sepio/has-case-cohort"] == {("_:case", True)}
        case = out["_:case"]
        assert (":stato/Cohort", True) in case[A_TYPE]
        assert case[":sepio/num-with-variant"] == {("10", False)}
        assert out["_:ctrl"][":sepio/num-with-variant"] == {("5", False)}
        assert item[":dc/source"] == {(PM + "31002", True)}


class TestUnlinkVariantScores:
    """unlink_variant_scores_when_proband_scores_exist.sparql: the MINUS
    over (OverallGeneticEvidenceLine, cap-covered variant line) pairs —
    run with the local-names table so :sepio/ keywords match the full
    SEPIO IRIs the dictionary types evidence lines with."""

    def test_cap_covered_lines_unlinked(self, spark, names):
        ogel_t = names[":sepio/OverallGeneticEvidenceLine"]
        cap_t = names[":sepio/ProbandScoreCapEvidenceLine"]
        null_t = names[":sepio/NullVariantEvidenceLine"]
        nonnull_t = names[":sepio/NonNullVariantEvidenceLine"]
        has_ev = names[":sepio/has-evidence"]
        ogel, cap = GCI + "ogel", GCI + "cap"
        vl1, vl2, vl3 = GCI + "vl1", GCI + "vl2", GCI + "vl3"
        rows = [
            iri(ogel, RDF + "type", ogel_t),
            iri(ogel, has_ev, vl1),  # cap-covered null → unlinked
            iri(ogel, has_ev, vl2),  # cap-covered nonnull → unlinked
            iri(ogel, has_ev, vl3),  # NOT cap-covered → kept
            iri(ogel, has_ev, cap),  # the cap line itself → kept
            iri(cap, RDF + "type", cap_t),
            iri(cap, has_ev, vl1),
            iri(cap, has_ev, vl2),
            iri(vl1, RDF + "type", null_t),
            iri(vl2, RDF + "type", nonnull_t),
            iri(vl3, RDF + "type", null_t),
            lit(GCI + "other", GCI + "label", "untouched"),
        ]
        qy = S.PreparedQuery(
            open(
                os.path.join(
                    REF_DIR, "unlink_variant_scores_when_proband_scores_exist.sparql"
                )
            ).read(),
            names=names,
        )
        out = {(r.subject, r.predicate, r.object) for r in qy.run(T(spark, rows)).collect()}
        assert (ogel, has_ev, vl1) not in out
        assert (ogel, has_ev, vl2) not in out
        assert (ogel, has_ev, vl3) in out
        assert (ogel, has_ev, cap) in out
        # non-matching triples all pass through
        assert (GCI + "other", GCI + "label", "untouched") in out
        assert (cap, has_ev, vl1) in out


def gdm_fixture_rows(sfx=""):
    """Single-sourced in genegraph_spark.fixtures (the kg_gdm_chain
    flagship query clones the same curation)."""
    from genegraph_spark.fixtures import gdm_curation_rows

    return gdm_curation_rows(sfx)


class TestFullGdmChain:
    """transform_gdm end-to-end (gene_validity_refactor.clj:414-463):
    one AR (SOPv8) curation fixture driven through all 22 reference
    constructs + segregation unlink + evidence connections + legacy id
    + proband-score cap + variant-score unlink, with the REAL
    gdm_sepio_relationships.ttl dictionary and the REAL
    property/class-names EDN tables. Thirteen construct files produce
    rows from this fixture; every step file runs unmodified."""

    CLS = GCI + "cls1"
    GDM = GCI + "gdm1"
    IND = GCI + "ind1"
    VS1, VS2 = GCI + "vs1", GCI + "vs2"
    VAR = GCI + "var1"
    FAM = GCI + "fam1"
    AFF = "http://dataexchange.clinicalgenome.org/agent/10015"
    ENTREZ = "https://www.ncbi.nlm.nih.gov/gene/672"

    def _fixture(self, spark):
        return T(spark, gdm_fixture_rows())



    def test_chain(self, spark, names, dictionary):
        from genegraph_spark.operators.gdm_chain import transform_gdm

        def N(k):
            return names.get(k, k)

        final = transform_gdm(
            self._fixture(spark),
            REF_DIR,
            dictionary,
            entrez_gene=self.ENTREZ,
            names=names,
        )
        triples = {(r.subject, r.predicate, r.object) for r in final.collect()}
        has_ev = N(":sepio/has-evidence")
        score = N(":sepio/evidence-line-strength-score")
        ogel = self.CLS + "_overall_genetic_evidence_line"
        cap = self.IND + "_proband_score_evidence_line"

        # construct_proposition: subject/object/qualifier
        assert (self.GDM, N(":sepio/has-subject"), self.ENTREZ) in triples
        assert (self.GDM, N(":sepio/has-object"), GCI + "mondo1") in triples
        assert (
            self.GDM, N(":sepio/has-qualifier"),
            "http://purl.obolibrary.org/obo/HP_0000007",
        ) in triples
        # construct_evidence_level_assertion: typed assertion + total +
        # SOP version inferred from the exome-count structure (v7)
        assert (
            self.CLS, A_TYPE, N(":sepio/GeneValidityEvidenceLevelAssertion")
        ) in triples
        assert (self.CLS, score, "12.5") in triples
        assert (
            self.CLS, N(":sepio/is-specified-by"),
            "http://purl.obolibrary.org/obo/SEPIO_0004094",
        ) in triples
        # approval contribution (legacy-id inputs)
        contrib = self.CLS + "_contrib"
        assert (contrib, N(":bfo/realizes"), N(":sepio/ApproverRole")) in triples
        assert (
            contrib, N(":sepio/activity-date"), "2020-05-01T12:30:00"
        ) in triples
        # construct_genetic_evidence_assertion
        assert (self.CLS, has_ev, ogel) in triples
        assert (ogel, score, "8.5") in triples
        # construct_experimental_evidence_assertions
        assert (
            self.CLS + "_experimental_evidence_line", score, "4"
        ) in triples
        # construct_ar_variant_assertions
        assert (self.CLS + "_ar_el", score, "6") in triples
        assert (ogel, has_ev, self.CLS + "_ar_el") in triples
        # construct_cc_and_seg_assertions
        assert (self.CLS + "_cc_el", score, "0") in triples
        # construct_variant_score: typed through the dictionary
        assert (
            self.VS1, A_TYPE, "http://purl.obolibrary.org/obo/SEPIO_0004120"
        ) in triples
        assert (self.VS1, score, "1.0") in triples  # adjusted score wins
        assert (self.VS2, score, "2.0") in triples
        # construct_ar_variant_score + add_proband_scores: cap = min(3, 1+2)
        assert (cap, A_TYPE, N(":sepio/ProbandScoreCapEvidenceLine")) in triples
        assert (cap, score, "3") in triples
        assert (cap, has_ev, self.VS1) in triples
        # construct_evidence_connections: OGEL (SEPIO_0004005) connects to
        # cap (0004174) and variant lines (0004120/0004121) through the ttl
        assert (ogel, has_ev, cap) in triples
        # unlink_variant_scores_when_proband_scores_exist: the cap-covered
        # variant-line edges are REMOVED from the overall genetic line
        assert (ogel, has_ev, self.VS1) not in triples
        assert (ogel, has_ev, self.VS2) not in triples
        # ...but the cap line's own evidence edges survive
        assert (cap, has_ev, self.VS2) in triples
        # construct_alleles
        assert (
            self.VAR, N(":ga4gh/CanonicalReference"),
            "http://reg.genome.network/allele/CA123",
        ) in triples
        assert (self.VAR, N(":skos/preferred-label"), "NM_7:c.1A>T") in triples
        # construct_articles + earliest articles
        assert (PM + "31001", N(":dc/title"), "A study") in triples
        assert (PM + "31001", N(":dc/creator"), "Kim J") in triples
        assert (self.CLS, N(":sepio/earliest-article"), PM + "31001") in triples
        # construct_secondary_contributions: two distinct fresh bnodes
        sec = {
            s for (s, p, o) in triples
            if p == N(":bfo/realizes") and o == N(":sepio/SecondaryContributorRole")
        }
        assert len(sec) == 2
        # family segregation survives the unlink (it has a LOD score)
        fseg = self.FAM + "_family_segregation"
        assert (fseg, N(":sepio/estimated-lod-score"), "3.2") in triples
        assert (fseg, A_TYPE, N(":sepio/FamilyCosegregation")) in triples
        # add_legacy_website_id: assertion id + colon-stripped approval date
        assert (
            self.CLS, N(":cg/website-legacy-id"),
            GCI + "assertion_cls1-2020-05-01T123000",
        ) in triples


class TestGeneValidityVariantDir:
    """The pre-refactor ``gene_validity/`` query directory (11 .sparql
    files + its own dictionary ttl): different GCI base conventions
    (uuid-composed IRIs, literal diseaseId) from the refactor dir. Every
    file parses AND executes; the proposition and segregation variants
    are execution-verified against hand-derived triples."""

    VDIR = "/root/reference/src/genegraph/transform/gene_validity"
    VGCI = GCI  # data prefix is shared; proposition IRIs build on ?gcibase

    @pytest.fixture(scope="class")
    def vdict(self, spark):
        from genegraph_spark.functions.serialize import read_turtle

        return read_turtle(
            spark, os.path.join(self.VDIR, "gdm_sepio_relationships.ttl"), graph="g"
        )

    def test_all_files_parse(self):
        from genegraph_spark.operators.sparql import PreparedQuery

        files = [f for f in sorted(os.listdir(self.VDIR)) if f.endswith(".sparql")]
        assert len(files) == 11
        for fn in files:
            PreparedQuery(open(os.path.join(self.VDIR, fn)).read())

    def test_all_constructs_execute(self, spark, vdict):
        """Smoke bar: every variant file compiles AND runs over a small
        model + the variant dictionary without error."""
        from genegraph_spark.operators.sparql import load_query_dir

        rows = [
            iri(GCI + "gdm1", RDF + "type", GCI + "gdm"),
            iri(GCI + "gdm1", GCI + "gene", GCI + "gene1"),
            lit(GCI + "gene1", GCI + "hgncId", "HGNC:1100"),
            lit(GCI + "gdm1", GCI + "uuid", "abc-123"),
        ]
        src = T(spark, rows).unionByName(vdict)
        qs = load_query_dir(self.VDIR)
        assert len(qs) == 11
        for name, q in qs.items():
            n = q.run(
                src,
                gcibase="http://gci.example/",
                pmbase=PM,
                arbase="http://reg.genome.network/allele/",
                cvbase="https://www.ncbi.nlm.nih.gov/clinvar/variation/",
                affiliation=("iri", GCI + "aff1"),
                hgnc_gene=("iri", GCI + "gene1"),
                entrez_gene=("iri", "urn:entrez:1"),
                legacy_id="x",
            ).count()
            assert n >= 0, name

    def test_variant_proposition_uuid_iri(self, spark):
        """construct_proposition (variant): the proposition IRI is
        composed from ?gcibase + the GDM uuid; the disease is the
        LITERAL diseaseId (no COALESCE with the resource). This file
        declares the OLD gci data namespace
        (``http://gci.clinicalgenome.org/`` — the prefix-convention
        split across this directory: 5 files old, 5 new)."""
        from genegraph_spark.operators.sparql import PreparedQuery

        OGCI = "http://gci.clinicalgenome.org/"
        rows = [
            iri(OGCI + "gdm1", RDF + "type", OGCI + "gdm"),
            iri(OGCI + "gdm1", OGCI + "gene", OGCI + "gene1"),
            lit(OGCI + "gene1", OGCI + "hgncId", "HGNC:1100"),
            lit(OGCI + "gdm1", OGCI + "uuid", "abc-123"),
            iri(OGCI + "gdm1", OGCI + "disease", OGCI + "d1"),
            lit(OGCI + "d1", OGCI + "diseaseId", "MONDO:0007739"),
        ]
        q = PreparedQuery(
            open(os.path.join(self.VDIR, "construct_proposition.sparql")).read()
        )
        out = by_subject(
            q.run(T(spark, rows), gcibase="http://gci.example/").collect()
        )
        prop = out["http://gci.example/proposition/abc-123"]
        assert (":sepio/GeneValidityProposition", True) in prop[A_TYPE]
        assert prop[":sepio/has-subject"] == {("HGNC:1100", False)}
        assert prop[":sepio/has-object"] == {("MONDO:0007739", False)}
        assert prop[":sepio/has-predicate"] == {
            (":ro/IsCausalGermlineMutationIn", True)
        }

    def test_variant_segregation_dictionary_typing(self, spark, vdict):
        """construct_segregation_evidence: sequencing method resolves
        through the VARIANT dictionary (CandidateGeneSequencing →
        SEPIO_0004090/0004085) and estimated LOD wins the COALESCE."""
        from genegraph_spark.operators.sparql import PreparedQuery

        fam = GCI + "fam1"
        rows = [
            iri(fam, RDF + "type", GCI + "family"),
            iri(fam, GCI + "segregation", "_:seg"),
            lit(fam, GCI + "label", "Family 1"),
            lit(fam, GCI + "uuid", "fam-uuid-1"),
            lit("_:seg", GCI + "includeLodScoreInAggregateCalculation", "true",
                "xsd:boolean"),
            iri("_:seg", GCI + "sequencingMethod", GCX + "CandidateGeneSequencing"),
            lit("_:seg", GCI + "publishedLodScore", "2.1", "xsd:decimal"),
            lit("_:seg", GCI + "estimatedLodScore", "3.3", "xsd:decimal"),
            iri(GCI + "ann1", GCI + "families", fam),
            iri(GCI + "ann1", GCI + "article", GCI + "pub1"),
            lit(GCI + "pub1", GCI + "pmid", "31001"),
        ]
        q = PreparedQuery(
            open(
                os.path.join(self.VDIR, "construct_segregation_evidence.sparql")
            ).read()
        )
        out = by_subject(
            q.run(
                T(spark, rows).unionByName(vdict),
                gcibase="http://gci.example/", pmbase=PM,
            ).collect()
        )
        line = out["http://gci.example/evidence_line_fam-uuid-1"]
        assert (SEPIO + "0004090", True) in line[A_TYPE]
        assert line[":sepio/evidence-line-strength-score"] == {("3.3", False)}
        item = out["http://gci.example/evidence_item_fam-uuid-1"]
        assert (SEPIO + "0004085", True) in item[A_TYPE]
        assert item[":dc/source"] == {(PM + "31001", True)}
        assert item[":rdfs/label"] == {("Family 1", False)}


class TestVariantProbandScore:
    """The variant-dir ``construct_proband_score.sparql`` (OLD
    ``http://gci.clinicalgenome.org/`` data namespace): dictionary
    line/item typing, the ClinGen-AR vs ClinVar allele-source switch,
    and the adjusted-vs-calculated score COALESCE — verified output."""

    VDIR = "/root/reference/src/genegraph/transform/gene_validity"
    OGCI = "http://gci.clinicalgenome.org/"
    ARB = "http://reg.genome.network/allele/"
    CVB = "https://www.ncbi.nlm.nih.gov/clinvar/variation/"

    def test_verified_output(self, spark):
        from genegraph_spark.functions.serialize import read_turtle

        O = self.OGCI
        vdict = read_turtle(
            spark, os.path.join(self.VDIR, "gdm_sepio_relationships.ttl"), graph="g"
        )
        case_type = GCI + "VARIANT_IS_DE_NOVO"  # dictionary subject (NEW ns)

        def score_block(n, source, adjusted):
            rows = [
                iri(O + f"s{n}", RDF + "type", O + "evidenceScore"),
                iri(O + f"s{n}", O + "caseInfoType", case_type),
                lit(O + f"s{n}", O + "uuid", f"case-{n}"),
                lit(O + f"s{n}", O + "calculatedScore", "0.5", "xsd:decimal"),
                lit(O + f"s{n}", O + "scoreExplanation", f"expl {n}"),
                iri(O + f"i{n}", O + "scores", O + f"s{n}"),
                lit(O + f"i{n}", O + "uuid", f"ind-{n}"),
                iri(O + f"i{n}", O + "variants", O + f"v{n}"),
                lit(O + f"i{n}", O + "label", f"Proband {n}"),
                iri(O + f"a{n}", O + "individuals", O + f"i{n}"),
                iri(O + f"a{n}", O + "article", O + f"p{n}"),
                lit(O + f"p{n}", O + "pmid", f"3100{n}"),
                lit(O + f"v{n}", O + "carId", f"CA{n}"),
                lit(O + f"v{n}", O + "clinvarVariantId", f"CV{n}"),
                lit(O + f"v{n}", O + "source", source),
            ]
            if adjusted:
                rows.append(lit(O + f"s{n}", O + "score", adjusted, "xsd:decimal"))
            return rows

        rows = score_block(1, "ClinGen AR", "2") + score_block(2, "ClinVar", None)
        pq = S.PreparedQuery(
            open(os.path.join(self.VDIR, "construct_proband_score.sparql")).read()
        )
        out = by_subject(
            pq.run(
                T(spark, rows).unionByName(vdict),
                gcibase="http://gci.example/", pmbase=PM,
                arbase=self.ARB, cvbase=self.CVB,
            ).collect()
        )
        l1 = out["http://gci.example/evidence_line/case-1"]
        assert (SEPIO + "0004078", True) in l1[A_TYPE]  # dictionary line type
        assert l1[":sepio/evidence-line-strength-score"] == {("2", False)}  # adjusted
        assert l1[":dc/description"] == {("expl 1", False)}
        assert l1[":sepio/has-evidence-item"] == {
            ("http://gci.example/evidence_item/ind-1", True)
        }
        i1 = out["http://gci.example/evidence_item/ind-1"]
        assert (SEPIO + "0004033", True) in i1[A_TYPE]  # dictionary item type
        # ClinGen AR source → arbase + carId
        assert i1[":sepio/is-about-allele"] == {(self.ARB + "CA1", True)}
        assert i1[":dc/source"] == {(PM + "31001", True)}
        assert i1[":rdfs/label"] == {("Proband 1", False)}
        l2 = out["http://gci.example/evidence_line/case-2"]
        assert l2[":sepio/evidence-line-strength-score"] == {("0.5", False)}  # calc
        i2 = out["http://gci.example/evidence_item/ind-2"]
        # non-AR source → cvbase + clinvarVariantId
        assert i2[":sepio/is-about-allele"] == {(self.CVB + "CV2", True)}


class TestVariantCaseControl:
    """The variant-dir ``construct_case_control_evidence.sparql``: the
    INVERSE dictionary lookup (?evidenceLineType gcixform:hasGCIType
    ?gciType) resolves the study type, score comes straight from
    gci:score, and the score description comes from the evidence
    item's gci:comments — verified output for both study types."""

    VDIR = "/root/reference/src/genegraph/transform/gene_validity"
    OGCI = "http://gci.clinicalgenome.org/"

    def test_verified_output(self, spark):
        from genegraph_spark.functions.serialize import read_turtle

        O = self.OGCI
        vdict = read_turtle(
            spark, os.path.join(self.VDIR, "gdm_sepio_relationships.ttl"), graph="g"
        )

        def cc_block(n, study_type):
            return [
                iri(O + f"s{n}", RDF + "type", O + "evidenceScore"),
                lit(O + f"s{n}", O + "score", f"{n}.5", "xsd:decimal"),
                lit(O + f"s{n}", O + "uuid", f"score-{n}"),
                iri(O + f"s{n}", O + "caseControl_scored", O + f"cc{n}"),
                lit(O + f"cc{n}", O + "label", f"Study {n}"),
                lit(O + f"cc{n}", O + "comments", f"comment {n}"),
                iri(O + f"cc{n}", O + "studyType", GCX + study_type),
                lit(O + f"cc{n}", O + "uuid", f"ev-{n}"),
                iri(O + f"a{n}", O + "caseControlStudies", O + f"cc{n}"),
                iri(O + f"a{n}", O + "article", O + f"p{n}"),
                lit(O + f"p{n}", O + "pmid", f"4100{n}"),
            ]

        rows = cc_block(1, "SingleVariantAnalysis") + cc_block(
            2, "AggregateVariantAnalysis"
        )
        pq = S.PreparedQuery(
            open(
                os.path.join(self.VDIR, "construct_case_control_evidence.sparql")
            ).read()
        )
        out = by_subject(
            pq.run(
                T(spark, rows).unionByName(vdict),
                gcibase="http://gci.example/", pmbase=PM,
            ).collect()
        )
        l1 = out["http://gci.example/evidence_line/score-1"]
        # SingleVariantAnalysis resolves INVERSELY to line sepio:0004020
        assert (SEPIO + "0004020", True) in l1[A_TYPE]
        assert l1[":sepio/evidence-line-strength-score"] == {("1.5", False)}
        assert l1[":dc/description"] == {("comment 1", False)}
        i1 = out["http://gci.example/evidence_item/ev-1"]
        assert (SEPIO + "0004039", True) in i1[A_TYPE]
        assert i1[":rdfs/label"] == {("Study 1", False)}
        assert i1[":dc/source"] == {(PM + "41001", True)}
        l2 = out["http://gci.example/evidence_line/score-2"]
        assert (SEPIO + "0004021", True) in l2[A_TYPE]
        i2 = out["http://gci.example/evidence_item/ev-2"]
        assert (SEPIO + "0004040", True) in i2[A_TYPE]


class TestVariantModelSystems:
    """The variant-dir ``construct_model_systems_evidence.sparql``:
    inverse dictionary lookup gated by ``gcixform:usedIn
    gcixform:ModelSystems`` (the same GCI type names are reused by the
    Rescue tier), adjusted-over-calculated score COALESCE, and the
    model-system node carrying the item description."""

    VDIR = "/root/reference/src/genegraph/transform/gene_validity"
    OGCI = "http://gci.clinicalgenome.org/"

    def test_verified_output(self, spark):
        from genegraph_spark.functions.serialize import read_turtle

        O = self.OGCI
        vdict = read_turtle(
            spark, os.path.join(self.VDIR, "gdm_sepio_relationships.ttl"), graph="g"
        )
        rows = [
            iri(O + "s1", RDF + "type", O + "evidenceScore"),
            lit(O + "s1", O + "calculatedScore", "1", "xsd:decimal"),
            lit(O + "s1", O + "scoreExplanation", "why"),
            lit(O + "s1", O + "uuid", "score-1"),
            iri(O + "s1", O + "experimental_scored", O + "ex1"),
            iri(O + "ex1", O + "modelSystems", O + "ms1"),
            lit(O + "ex1", O + "label", "Mouse model"),
            lit(O + "ex1", O + "uuid", "ev-1"),
            lit(O + "ms1", O + "descriptionOfGeneAlteration", "knockout"),
            iri(O + "ms1", O + "modelSystemsType", GCX + "NonHumanModel"),
            iri(O + "a1", O + "experimentalData", O + "ex1"),
            iri(O + "a1", O + "article", O + "p1"),
            lit(O + "p1", O + "pmid", "51001"),
            # no adjusted score → calculated wins the COALESCE
        ]
        pq = S.PreparedQuery(
            open(
                os.path.join(self.VDIR, "construct_model_systems_evidence.sparql")
            ).read()
        )
        out = by_subject(
            pq.run(
                T(spark, rows).unionByName(vdict),
                gcibase="http://gci.example/", pmbase=PM,
            ).collect()
        )
        line = out["http://gci.example/evidence_line/score-1"]
        # NonHumanModel + usedIn ModelSystems → line sepio:0004027
        assert (SEPIO + "0004027", True) in line[A_TYPE]
        assert line[":sepio/evidence-line-strength-score"] == {("1", False)}
        assert line[":dc/description"] == {("why", False)}
        item = out["http://gci.example/evidence_item/ev-1"]
        assert (SEPIO + "0004046", True) in item[A_TYPE]
        assert item[":dc/description"] == {("knockout", False)}
        assert item[":rdfs/label"] == {("Mouse model", False)}
        assert item[":dc/source"] == {(PM + "51001", True)}


class TestChainConstructsStandalone:
    """Standalone output verification for the five refactor-dir files
    previously asserted only inside ``TestFullGdmChain`` — with these,
    all 26 refactor ``.sparql`` files carry per-file verified-execution
    tests."""

    def test_ar_variant_assertions(self, spark):
        """construct_ar_variant_assertions: approved classifications
        only; the AR subtree total becomes an
        OverallAutosomalRecessiveVariantEvidenceLine under the overall
        genetic evidence line."""
        cls, cls2 = GCI + "c1", GCI + "c2"
        rows = [
            iri(cls, RDF + "type", GCI + "provisionalClassification"),
            lit(cls, GCI + "approvedClassification", "true", "xsd:boolean"),
            iri(cls, GCI + "classificationPoints", "_:pt"),
            iri("_:pt", GCI + "autosomalRecessiveDisorder", "_:ar"),
            lit("_:ar", GCI + "pointsCounted", "1.5", "xsd:decimal"),
            # unapproved classification: excluded by the boolean gate
            iri(cls2, RDF + "type", GCI + "provisionalClassification"),
            lit(cls2, GCI + "approvedClassification", "false", "xsd:boolean"),
            iri(cls2, GCI + "classificationPoints", "_:p2"),
            iri("_:p2", GCI + "autosomalRecessiveDisorder", "_:a2"),
            lit("_:a2", GCI + "pointsCounted", "9", "xsd:decimal"),
        ]
        out = by_subject(
            q("construct_ar_variant_assertions.sparql").run(T(spark, rows)).collect()
        )
        gel = out[cls + "_overall_genetic_evidence_line"]
        assert gel[":sepio/has-evidence"] == {(cls + "_ar_el", True)}
        line = out[cls + "_ar_el"]
        assert (":sepio/OverallAutosomalRecessiveVariantEvidenceLine", True) in line[
            A_TYPE
        ]
        assert line[":sepio/evidence-line-strength-score"] == {("1.5", False)}
        assert cls2 + "_ar_el" not in out

    def test_cc_and_seg_assertions(self, spark):
        """construct_cc_and_seg_assertions: case-control + segregation
        subtree totals become two sibling lines under the overall
        genetic evidence line."""
        cls = GCI + "c1"
        rows = [
            iri(cls, RDF + "type", GCI + "provisionalClassification"),
            lit(cls, GCI + "approvedClassification", "true", "xsd:boolean"),
            iri(cls, GCI + "classificationPoints", "_:pt"),
            iri("_:pt", GCI + "segregation", "_:sg"),
            lit("_:sg", GCI + "pointsCounted", "2.5", "xsd:decimal"),
            iri("_:pt", GCI + "caseControl", "_:cc"),
            lit("_:cc", GCI + "pointsCounted", "0.5", "xsd:decimal"),
        ]
        out = by_subject(
            q("construct_cc_and_seg_assertions.sparql").run(T(spark, rows)).collect()
        )
        gel = out[cls + "_overall_genetic_evidence_line"]
        assert gel[":sepio/has-evidence"] == {
            (cls + "_cc_el", True),
            (cls + "_seg_el", True),
        }
        cc = out[cls + "_cc_el"]
        assert (":sepio/OverallCaseControlEvidenceLine", True) in cc[A_TYPE]
        assert cc[":sepio/evidence-line-strength-score"] == {("0.5", False)}
        sg = out[cls + "_seg_el"]
        assert (":sepio/SegregationEvidenceLine", True) in sg[A_TYPE]
        assert sg[":sepio/evidence-line-strength-score"] == {("2.5", False)}

    def test_evidence_connections(self, spark, dictionary):
        """construct_evidence_connections: the dictionary's
        hasEvidenceLineType edges connect every criterion-assessment
        node to every evidence-line node of the matching type."""
        rows = [
            iri("urn:ca1", RDF + "type", GCI + "VARIANT_IS_DE_NOVO"),
            iri("urn:el1", RDF + "type", SEPIO + "0004078"),
            iri("urn:el2", RDF + "type", SEPIO + "0004078"),
            # a line of an unrelated type: not connected
            iri("urn:el3", RDF + "type", SEPIO + "0004079"),
        ]
        out = by_subject(
            q("construct_evidence_connections.sparql")
            .run(T(spark, rows).unionByName(dictionary))
            .collect()
        )
        assert out["urn:ca1"][":sepio/has-evidence"] == {
            ("urn:el1", True),
            ("urn:el2", True),
        }

    def test_evidence_level_assertion_refactor(self, spark):
        """construct_evidence_level_assertion (refactor dir): the
        NoModification / altered evidence-level switch, SOP-version
        inference from the exome segregation count vs a declared
        version, the description+reasons concat, and the
        approvalReviewDate-first date COALESCE."""
        gdm = GCI + "gdm1"
        base = [
            iri(gdm, RDF + "type", GCI + "gdm"),
            iri(gdm, GCI + "gene", GCI + "gene1"),
            lit(GCI + "gene1", GCI + "hgncId", "HGNC:1100"),
        ]
        c1, c2 = GCI + "c1", GCI + "c2"
        rows = base + [
            # c1: NoModification → auto level wins; exome count → SOP v6
            # IRI; reasons → concatenated description; review date wins
            iri(c1, RDF + "type", GCI + "provisionalClassification"),
            lit(c1, GCI + "approvedClassification", "true", "xsd:boolean"),
            lit(c1, GCI + "publishClassification", "true", "xsd:boolean"),
            iri(c1, GCI + "autoClassification", GCX + "Moderate"),
            iri(c1, GCI + "alteredClassification", GCX + "NoModification"),
            iri(c1, GCI + "classificationPoints", "_:p1"),
            lit("_:p1", GCI + "evidencePointsTotal", "11", "xsd:decimal"),
            iri("_:p1", GCI + "segregation", "_:s1"),
            lit("_:s1", GCI + "evidenceCountExome", "2", "xsd:integer"),
            lit(c1, GCI + "evidenceSummary", "summary one"),
            lit(c1, GCI + "reasons", "changed score"),
            lit(c1, GCI + "classificationDate", "2020-01-01"),
            lit(c1, GCI + "approvalDate", "2020-02-02"),
            lit(c1, GCI + "approvalReviewDate", "2020-03-03"),
            # c2: altered level wins; declared SOP version; no reasons;
            # only classificationDate
            iri(c2, RDF + "type", GCI + "provisionalClassification"),
            lit(c2, GCI + "approvedClassification", "true", "xsd:boolean"),
            lit(c2, GCI + "publishClassification", "true", "xsd:boolean"),
            iri(c2, GCI + "autoClassification", GCX + "Limited"),
            iri(c2, GCI + "alteredClassification", GCX + "Definitive"),
            iri(c2, GCI + "classificationPoints", "_:p2"),
            lit("_:p2", GCI + "evidencePointsTotal", "18", "xsd:decimal"),
            iri(c2, GCI + "sopVersion", SEPIO + "0004092"),
            lit(c2, GCI + "evidenceSummary", "summary two"),
            lit(c2, GCI + "classificationDate", "2021-05-05"),
        ]
        out = by_subject(
            q("construct_evidence_level_assertion.sparql").run(T(spark, rows)).collect()
        )
        a1 = out[c1]
        assert (":sepio/GeneValidityEvidenceLevelAssertion", True) in a1[A_TYPE]
        assert a1[":sepio/has-object"] == {(GCX + "Moderate", True)}
        assert a1[":sepio/is-specified-by"] == {
            ("http://purl.obolibrary.org/obo/SEPIO_0004094", True)
        }
        assert a1[":dc/description"] == {("summary one\nchanged score", False)}
        assert a1[":sepio/evidence-line-strength-score"] == {("11", False)}
        contrib1 = out[c1 + "_contrib"]
        assert contrib1[":sepio/activity-date"] == {("2020-03-03", False)}
        assert contrib1[":bfo/realizes"] == {(":sepio/ApproverRole", True)}
        auto1 = out[c1 + "_auto_classification"]
        assert (
            ":sepio/GeneValidityEvidenceLevelAutoClassification",
            True,
        ) in auto1[A_TYPE]
        assert auto1[":sepio/has-object"] == {(GCX + "Moderate", True)}
        a2 = out[c2]
        assert a2[":sepio/has-object"] == {(GCX + "Definitive", True)}
        assert a2[":sepio/is-specified-by"] == {(SEPIO + "0004092", True)}
        assert a2[":dc/description"] == {("summary two", False)}
        assert out[c2 + "_contrib"][":sepio/activity-date"] == {("2021-05-05", False)}
        # auto classification keeps the UNALTERED level as its object
        assert out[c2 + "_auto_classification"][":sepio/has-object"] == {
            (GCX + "Limited", True)
        }

    def test_variant_score(self, spark, dictionary):
        """construct_variant_score: dictionary-typed line/item, de-novo
        allele origin, adjusted-score COALESCE, the homozygous
        score-doubling fix, positional rdf:rest{n} genotyping methods,
        the inverse-optional annotation→article path, and family
        membership."""
        vs, ind, m = GCI + "vs1", GCI + "ind1", GCI + "m1"
        rows = [
            iri(vs, RDF + "type", GCI + "variantScore"),
            iri(vs, GCI + "variantScored", "urn:var1"),
            lit(vs, GCI + "deNovo", "Yes"),
            iri(vs, GCI + "scoreStatus", GCI + "Score"),
            lit(vs, GCI + "date_created", "2020-06-06"),
            iri(vs, GCI + "affiliation", GCI + "aff1"),
            iri(vs, GCI + "variantType", GCI + "VARIANT_IS_DE_NOVO"),
            lit(vs, GCI + "calculatedScore", "0.5", "xsd:decimal"),
            lit(vs, GCI + "score", "1.5", "xsd:decimal"),
            lit(vs, GCI + "scoreExplanation", "because"),
            iri(ind, GCI + "variantScores", vs),
            lit(ind, GCI + "label", "Proband 1"),
            lit(ind, GCI + "proband", "true", "xsd:boolean"),
            # homozygous → both scores double (SOPv8 Slack-derived fix)
            iri(ind, GCI + "recessiveZygosity", ":geno/Homozygous"),
            iri(ind, GCI + "method", m),
            iri(m, GCI + "genotypingMethods", "_:l0"),
            lit("_:l0", RDF + "first", "Chip"),
            iri("_:l0", RDF + "rest", "_:l1"),
            lit("_:l1", RDF + "first", "WES"),
            iri("_:l1", RDF + "rest", RDF + "nil"),
            iri(GCI + "ann1", GCI + "individuals", ind),
            iri(GCI + "ann1", GCI + "article", GCI + "pub1"),
            lit(GCI + "pub1", GCI + "pmid", "31001"),
            iri(GCI + "fam1", GCI + "individualIncluded", ind),
            lit(GCI + "fam1", GCI + "label", "Fam 1"),
            iri(GCI + "fam1", RDF + "type", GCI + "family"),
        ]
        out = by_subject(
            q("construct_variant_score.sparql")
            .run(T(spark, rows).unionByName(dictionary), pmbase=PM)
            .collect()
        )
        line = out[vs]
        assert (SEPIO + "0004078", True) in line[A_TYPE]  # dictionary line type
        [(score, _)] = line[":sepio/evidence-line-strength-score"]
        assert float(score) == 3.0  # adjusted 1.5 doubled
        [(calc, _)] = line[":sepio/calculated-score"]
        assert float(calc) == 1.0  # calculated 0.5 doubled
        assert line[":dc/description"] == {("because", False)}
        assert line[":sepio/has-evidence"] == {
            (vs + "_variant_evidence_item", True)
        }
        item = out[vs + "_variant_evidence_item"]
        assert (SEPIO + "0004033", True) in item[A_TYPE]  # dictionary item type
        assert item[":sepio/is-about-allele"] == {("urn:var1", True)}
        assert item[":geno/allele-origin"] == {(":geno/DeNovoAlleleOrigin", True)}
        assert item[":geno/has-zygosity"] == {(":geno/Homozygous", True)}
        assert item[":dc/source"] == {(PM + "31001", True)}
        proband = out[ind]
        assert (":sepio/ProbandWithVariantEvidenceItem", True) in proband[A_TYPE]
        assert proband[":sepio/first-testing-method"] == {("Chip", False)}
        assert proband[":sepio/second-testing-method"] == {("WES", False)}
        assert proband[":sepio/has-variant"] == {
            (vs + "_variant_evidence_item", True)
        }
        fam = out[GCI + "fam1"]
        assert (":pco/Family", True) in fam[A_TYPE]
        assert fam[":rdfs/label"] == {("Fam 1", False)}
        assert fam[":ro/has-member"] == {(ind, True)}


class TestVariantEvidenceLevelAssertion:
    """The variant-dir ``construct_evidence_level_assertion.sparql`` —
    the full SOP classification points-tree traversal: one
    provisional-classification node fans out into the genetic tier
    (6 criterion sublines) and the experimental tier (3 sublines),
    every line IRI composed from ?gcibase + the GDM uuid. Verified
    output for the whole constructed hierarchy."""

    VDIR = "/root/reference/src/genegraph/transform/gene_validity"
    BASE = "http://gci.example/"

    @pytest.fixture(scope="class")
    def model(self, spark):
        cls = GCI + "class1"
        rows = [
            iri(cls, RDF + "type", GCI + "provisionalClassification"),
            lit(cls, GCI + "uuid", "cls-uuid"),
            iri(cls, GCI + "autoClassification", GCX + "Moderate"),
            iri(cls, GCI + "classificationPoints", "_:pt"),
            lit("_:pt", GCI + "evidencePointsTotal", "12.5", "xsd:decimal"),
            lit("_:pt", GCI + "experimentalEvidenceTotal", "4", "xsd:decimal"),
            lit("_:pt", GCI + "geneticEvidenceTotal", "8.5", "xsd:decimal"),
            iri("_:pt", GCI + "autosomalDominantOrXlinkedDisorder", "_:ad"),
            iri("_:ad", GCI + "probandWithOtherVariantTypeWithGeneImpact", "_:adO"),
            lit("_:adO", GCI + "pointsCounted", "1", "xsd:decimal"),
            iri("_:ad", GCI + "probandWithPredictedOrProvenNullVariant", "_:adN"),
            lit("_:adN", GCI + "pointsCounted", "2", "xsd:decimal"),
            iri("_:ad", GCI + "variantIsDeNovo", "_:adD"),
            lit("_:adD", GCI + "pointsCounted", "3", "xsd:decimal"),
            iri("_:pt", GCI + "autosomalRecessiveDisorder", "_:ar"),
            lit("_:ar", GCI + "pointsCounted", "0.5", "xsd:decimal"),
            iri("_:pt", GCI + "caseControl", "_:cc"),
            lit("_:cc", GCI + "pointsCounted", "1.5", "xsd:decimal"),
            iri("_:pt", GCI + "function", "_:fn"),
            lit("_:fn", GCI + "pointsCounted", "2", "xsd:decimal"),
            iri("_:pt", GCI + "functionalAlteration", "_:fa"),
            lit("_:fa", GCI + "pointsCounted", "1", "xsd:decimal"),
            iri("_:pt", GCI + "modelsRescue", "_:mr"),
            lit("_:mr", GCI + "pointsCounted", "1", "xsd:decimal"),
            iri("_:pt", GCI + "segregation", "_:sg"),
            lit("_:sg", GCI + "pointsCounted", "2.5", "xsd:decimal"),
            iri(GCI + "gdm1", RDF + "type", GCI + "gdm"),
            lit(GCI + "gdm1", GCI + "uuid", "gdm-uuid"),
        ]
        pq = S.PreparedQuery(
            open(
                os.path.join(self.VDIR, "construct_evidence_level_assertion.sparql")
            ).read()
        )
        return by_subject(pq.run(T(spark, rows), gcibase=self.BASE).collect())

    def test_assertion_head(self, model):
        a = model[self.BASE + "assertion_cls-uuid"]
        assert (":sepio/GeneValidityEvidenceLevelAssertion", True) in a[A_TYPE]
        assert a[":sepio/has-subject"] == {(self.BASE + "proposition_gdm-uuid", True)}
        assert a[":sepio/has-predicate"] == {(":sepio/HasEvidenceLevel", True)}
        assert a[":sepio/has-object"] == {(GCX + "Moderate", True)}
        assert a[":sepio/evidence-line-strength-score"] == {("12.5", False)}
        assert a[":sepio/has-evidence-line"] == {
            (self.BASE + "experimental_evidence_linegdm-uuid", True),
            (self.BASE + "genetic_evidence_linegdm-uuid", True),
        }

    def test_genetic_tier(self, model):
        g = model[self.BASE + "genetic_evidence_linegdm-uuid"]
        assert (":sepio/GeneticEvidenceLine", True) in g[A_TYPE]
        assert g[":sepio/evidence-line-strength-score"] == {("8.5", False)}
        assert g[":sepio/has-evidence-item"] == {
            (self.BASE + "genetic_evidence_criterion_assessmentgdm-uuid", True)
        }
        ga = model[self.BASE + "genetic_evidence_criterion_assessmentgdm-uuid"]
        assert ga[":sepio/has-evidence-line"] == {
            (self.BASE + name + "gdm-uuid", True)
            for name in [
                "autosomal_dominant_other_variant_evidence_line",
                "autosomal_dominant_null_variant_evidence_line",
                "autosomal_dominant_de_novo_variant_evidence_line",
                "autosomal_recessive_variant_evidence_line",
                "case_control_evidence_line",
                "segregation_evidence_line",
            ]
        }
        scores = {
            "autosomal_dominant_other_variant_evidence_line": "1",
            "autosomal_dominant_null_variant_evidence_line": "2",
            "autosomal_dominant_de_novo_variant_evidence_line": "3",
            "autosomal_recessive_variant_evidence_line": "0.5",
            "case_control_evidence_line": "1.5",
            "segregation_evidence_line": "2.5",
        }
        for name, score in scores.items():
            line = model[self.BASE + name + "gdm-uuid"]
            assert line[":sepio/evidence-line-strength-score"] == {(score, False)}, name

    def test_experimental_tier(self, model):
        x = model[self.BASE + "experimental_evidence_linegdm-uuid"]
        assert (":sepio/ExperimentalEvidenceLine", True) in x[A_TYPE]
        assert x[":sepio/evidence-line-strength-score"] == {("4", False)}
        xa = model[self.BASE + "experimental_evidence_criterion_assessmentgdm-uuid"]
        assert (":sepio/ExperimentalEvidenceCriterionAssessment", True) in xa[A_TYPE]
        assert xa[":sepio/has-evidence-line"] == {
            (self.BASE + name + "gdm-uuid", True)
            for name in [
                "functional_evidence_line",
                "functional_alteration_evidence_line",
                "model_and_rescue_evidence_line",
            ]
        }
        for name, score, tp in [
            ("functional_evidence_line", "2", ":sepio/FunctionalEvidenceLine"),
            (
                "functional_alteration_evidence_line",
                "1",
                ":sepio/FunctionalAlterationEvidenceLine",
            ),
            ("model_and_rescue_evidence_line", "1", ":sepio/ModelAndRescueEvidenceLine"),
        ]:
            line = model[self.BASE + name + "gdm-uuid"]
            assert (tp, True) in line[A_TYPE]
            assert line[":sepio/evidence-line-strength-score"] == {(score, False)}

    def test_five_genes_select(self, spark):
        """five_genes.sparql (unique to the variant dir): a plain typed
        SELECT with LIMIT 5 — returns 5 of the typed genes and only
        typed genes."""
        rows = [
            iri(f"urn:gene:{i}", RDF + "type", ":so/ProteinCodingGene")
            for i in range(7)
        ] + [iri("urn:other:1", RDF + "type", ":so/Pseudogene")]
        pq = S.PreparedQuery(
            open(os.path.join(self.VDIR, "five_genes.sparql")).read()
        )
        out = [r.x for r in pq.run(T(spark, rows)).collect()]
        assert len(out) == 5
        assert set(out) <= {f"urn:gene:{i}" for i in range(7)}


class TestExperimentalEvidenceConstructs:
    """The four experimental-evidence constructors + proband segregation
    + unscoreable evidence — all dictionary-driven (`gcixform:usedIn`
    discriminates the same GCI type across Functional / Rescue /
    ModelSystems contexts)."""

    @staticmethod
    def _score_base(item, extra):
        """An evidenceScore + its scored experimental item + annotation."""
        sc = GCI + "sc1"
        return [
            iri(sc, RDF + "type", GCI + "evidenceScore"),
            lit(sc, GCI + "calculatedScore", "2", "xsd:decimal"),
            lit(sc, GCI + "scoreStatus", "Score"),
            iri(sc, GCI + "affiliation", GCI + "aff1"),
            lit(sc, GCI + "score", "1.5", "xsd:decimal"),
            lit(sc, GCI + "scoreExplanation", "because"),
            iri(item, GCI + "scores", sc),
            lit(item, GCI + "label", "Exp 1"),
            iri(GCI + "ann1", GCI + "experimentalData", item),
            iri(GCI + "ann1", GCI + "article", GCI + "pub1"),
            lit(GCI + "pub1", GCI + "pmid", "31001"),
        ] + extra

    def _run(self, spark, dictionary, fname, rows):
        src = T(spark, rows).unionByName(dictionary)
        return by_subject(q(fname).run(src, pmbase=PM).collect())

    def test_model_systems_used_in_discrimination(self, spark, dictionary):
        """NonHumanModel appears under BOTH ModelSystems (0004027) and
        Rescue (0004030); usedIn must pick the ModelSystems row."""
        item = GCI + "item1"
        rows = self._score_base(item, [
            iri(item, GCI + "modelSystems", "_:ms"),
            lit("_:ms", GCI + "explanation", "mouse knockout"),
            iri("_:ms", GCI + "modelSystemsType", GCX + "NonHumanModel"),
        ])
        out = self._run(
            spark, dictionary, "construct_model_systems_evidence.sparql", rows
        )
        line = out[GCI + "sc1"]
        assert (SEPIO + "0004027", True) in line[A_TYPE]
        assert line[":sepio/evidence-line-strength-score"] == {("1.5", False)}
        assert line[":sepio/calculated-score"] == {("2", False)}
        it = out[item]
        assert (SEPIO + "0004046", True) in it[A_TYPE]
        assert it[":dc/description"] == {("mouse knockout", False)}
        assert it[":dc/source"] == {(PM + "31001", True)}

    def test_rescue_same_gci_type_other_context(self, spark, dictionary):
        item = GCI + "item1"
        rows = self._score_base(item, [
            iri(item, GCI + "rescue", "_:r"),
            lit("_:r", GCI + "explanation", "rescued phenotype"),
            iri("_:r", GCI + "rescueType", GCX + "NonHumanModel"),
        ])
        out = self._run(
            spark, dictionary, "construct_rescue_evidence.sparql", rows
        )
        line = out[GCI + "sc1"]
        assert (SEPIO + "0004030", True) in line[A_TYPE]  # Rescue row wins
        assert out[item][A_TYPE] == {(SEPIO + "0004049", True)}

    def test_functional_expression_subtype_a(self, spark, dictionary):
        """Expression + normalExpression present → subtype A (0004188);
        the description flows through the expression path COALESCE."""
        item = GCI + "item1"
        rows = self._score_base(item, [
            iri(item, GCI + "evidenceType", GCX + "Expression"),
            iri(item, GCI + "expression", "_:exp"),
            iri("_:exp", GCI + "normalExpression", "_:nexp"),
            lit("_:nexp", GCI + "evidence", "expressed in cortex"),
        ])
        out = self._run(
            spark, dictionary, "construct_functional_evidence.sparql", rows
        )
        line = out[GCI + "sc1"]
        assert (SEPIO + "0004188", True) in line[A_TYPE]
        it = out[item]
        assert (SEPIO + "0004043", True) in it[A_TYPE]
        assert it[":dc/description"] == {("expressed in cortex", False)}

    def test_functional_biochemical_subtype_b(self, spark, dictionary):
        """BiochemicalFunction WITHOUT geneWithSameFunctionSameDisease →
        subtype B (0004181); description falls through the biochemical
        COALESCE chain to evidenceForFunction."""
        item = GCI + "item1"
        rows = self._score_base(item, [
            iri(item, GCI + "evidenceType", GCX + "BiochemicalFunction"),
            iri(item, GCI + "biochemicalFunction", "_:bf"),
            lit("_:bf", GCI + "evidenceForFunction", "kinase activity"),
        ])
        out = self._run(
            spark, dictionary, "construct_functional_evidence.sparql", rows
        )
        assert (SEPIO + "0004181", True) in out[GCI + "sc1"][A_TYPE]
        assert out[item][":dc/description"] == {("kinase activity", False)}

    def test_functional_alteration_patient_cells(self, spark, dictionary):
        item = GCI + "item1"
        rows = self._score_base(item, [
            iri(item, GCI + "functionalAlteration", "_:fa"),
            iri("_:fa", GCI + "functionalAlterationType", GCX + "PatientCells"),
            lit("_:fa", GCI + "evidenceForNormalFunction", "altered splicing"),
        ])
        out = self._run(
            spark, dictionary,
            "construct_functional_alteration_evidence.sparql", rows,
        )
        assert (SEPIO + "0004025", True) in out[GCI + "sc1"][A_TYPE]
        it = out[item]
        assert (SEPIO + "0004044", True) in it[A_TYPE]
        assert it[":dc/description"] == {("altered splicing", False)}

    def test_proband_segregation_requires_scored_proband(self, spark):
        """The mirror image of family segregation: ONLY families whose
        included proband is scored (status ≠ SEPIO_0004585) emit, with
        is-about-proband bound."""
        def fam_rows(n, status):
            fam, prob, sc = GCI + f"fam{n}", GCI + f"prob{n}", GCI + f"fsc{n}"
            return fam, [
                iri(fam, RDF + "type", GCI + "family"),
                iri(fam, GCI + "segregation", f"_:s{n}"),
                lit(fam, GCI + "label", f"Fam {n}"),
                lit(f"_:s{n}", GCI + "estimatedLodScore", "2.5", "xsd:decimal"),
                iri(GCI + "ann1", GCI + "families", fam),
                iri(fam, GCI + "individualIncluded", prob),
                lit(prob, GCI + "proband", "true", "xsd:boolean"),
                iri(prob, GCI + "scores", sc),
                iri(sc, GCI + "affiliation", GCI + "aff1"),
                (sc, GCI + "scoreStatus", status[0], status[1], None),
            ]
        f1, rows1 = fam_rows(1, ("Score", False))
        # contradicts status (SEPIO_0004585) → excluded by NOT EXISTS
        f2, rows2 = fam_rows(2, (SEPIO + "0004585", True))
        rows = rows1 + rows2 + [
            iri(GCI + "ann1", GCI + "article", GCI + "pub1"),
            lit(GCI + "pub1", GCI + "pmid", "31001"),
        ]
        out = by_subject(
            q("construct_proband_segregation_evidence.sparql")
            .run(T(spark, rows), pmbase=PM)
            .collect()
        )
        seg1 = out[f1 + "_proband_segregation"]
        assert seg1[":sepio/is-about-proband"] == {(GCI + "prob1", True)}
        assert seg1[":sepio/estimated-lod-score"] == {("2.5", False)}
        assert f2 + "_proband_segregation" not in out

    def test_unscoreable_evidence(self, spark):
        ann = GCI + "ann1"
        rows = [
            iri(ann, RDF + "type", GCI + "annotation"),
            iri(ann, GCI + "article", GCI + "pub1"),
            lit(GCI + "pub1", GCI + "pmid", "31001"),
            iri(ann, GCI + "articleNotes", "_:notes"),
            iri("_:notes", GCI + "nonscorable", "_:ns"),
            lit("_:ns", GCI + "checked", "true", "xsd:boolean"),
            lit("_:ns", GCI + "text", "not scorable because reasons"),
        ]
        out = by_subject(
            q("construct_unscoreable_evidence.sparql")
            .run(T(spark, rows), pmbase=PM)
            .collect()
        )
        line = out[ann]
        assert (":sepio/UnscoreableEvidenceLine", True) in line[A_TYPE]
        assert line[":dc/description"] == {
            ("not scorable because reasons", False)
        }
        item = out[ann + "_evidence_item"]
        assert (":sepio/EvidenceItem", True) in item[A_TYPE]
        assert item[":dc/source"] == {(PM + "31001", True)}


class TestVariantExperimentalConstructs:
    """The four remaining variant-dir experimental constructors —
    functional (OLD gci ns, with a template variable the WHERE never
    binds), functional-alteration + rescue (NEW gci ns,
    ``gci:experimental_scored`` score→evidence direction), and
    evidence_connections (type-to-type ``gcixform:hasEvidenceLineType``
    join) — verified output. Completes variant-dir 11/11.

    Reference: /root/reference/src/genegraph/transform/gene_validity/
    construct_{functional_evidence,functional_alteration_evidence,
    rescue_evidence,evidence_connections}.sparql
    """

    VDIR = "/root/reference/src/genegraph/transform/gene_validity"
    OGCI = "http://gci.clinicalgenome.org/"

    @pytest.fixture(scope="class")
    def vdict(self, spark):
        from genegraph_spark.functions.serialize import read_turtle

        return read_turtle(
            spark, os.path.join(self.VDIR, "gdm_sepio_relationships.ttl"), graph="g"
        )

    def _vq(self, fname):
        return S.PreparedQuery(open(os.path.join(self.VDIR, fname)).read())

    def _score_rows(self, ns, ev, adjusted=None):
        """evidenceScore → gci:experimental_scored → item + annotation."""
        sc = ns + "sc1"
        rows = [
            iri(sc, RDF + "type", ns + "evidenceScore"),
            lit(sc, ns + "calculatedScore", "2", "xsd:decimal"),
            lit(sc, ns + "scoreExplanation", "because"),
            lit(sc, ns + "uuid", "score-1"),
            iri(sc, ns + "experimental_scored", ev),
            lit(ev, ns + "label", "Exp 1"),
            lit(ev, ns + "uuid", "evid-1"),
            iri(ns + "ann1", ns + "experimentalData", ev),
            iri(ns + "ann1", ns + "article", ns + "pub1"),
            lit(ns + "pub1", ns + "pmid", "31001"),
        ]
        if adjusted:
            rows.append(lit(sc, ns + "score", adjusted, "xsd:decimal"))
        return rows

    def test_functional_unbound_template_description(self, spark, vdict):
        """OLD-namespace functional: BiochemicalFunction resolves via
        the dictionary under usedIn=Functional (line 0004022, item
        0004041); ?evidenceDescription is NEVER bound in the WHERE, so
        the item's :dc/description triple must be OMITTED (SPARQL
        unbound-template-var semantics); adjusted score wins COALESCE."""
        O = self.OGCI
        ev = O + "ev1"
        rows = self._score_rows(O, ev, adjusted="1.5") + [
            iri(ev, O + "evidenceType", GCX + "BiochemicalFunction"),
        ]
        out = by_subject(
            self._vq("construct_functional_evidence.sparql")
            .run(T(spark, rows).unionByName(vdict),
                 gcibase="http://gci.example/", pmbase=PM)
            .collect()
        )
        line = out["http://gci.example/evidence_line/score-1"]
        assert (SEPIO + "0004022", True) in line[A_TYPE]
        assert line[":sepio/evidence-line-strength-score"] == {("1.5", False)}
        assert line[":dc/description"] == {("because", False)}
        item = out["http://gci.example/evidence_item/evid-1"]
        assert (SEPIO + "0004041", True) in item[A_TYPE]
        assert ":dc/description" not in item  # unbound template var
        assert item[":dc/source"] == {(PM + "31001", True)}
        assert item[":rdfs/label"] == {("Exp 1", False)}

    def test_functional_alteration_patient_cells(self, spark, vdict):
        """NEW-namespace functional alteration: PatientCells under
        usedIn=FunctionalAlteration → line 0004025 / item 0004044 (the
        SAME GCI type maps to 0004032/0004051 under Rescue — usedIn
        must discriminate); description = evidenceForNormalFunction;
        no adjusted score → calculatedScore wins."""
        ev = GCI + "ev1"
        rows = self._score_rows(GCI, ev) + [
            iri(ev, GCI + "functionalAlteration", "_:fa"),
            iri("_:fa", GCI + "functionalAlterationType", GCX + "PatientCells"),
            lit("_:fa", GCI + "evidenceForNormalFunction", "normal in controls"),
        ]
        out = by_subject(
            self._vq("construct_functional_alteration_evidence.sparql")
            .run(T(spark, rows).unionByName(vdict),
                 gcibase="http://gci.example/", pmbase=PM)
            .collect()
        )
        line = out["http://gci.example/evidence_line/score-1"]
        assert line[A_TYPE] == {(SEPIO + "0004025", True)}
        assert line[":sepio/evidence-line-strength-score"] == {("2", False)}
        item = out["http://gci.example/evidence_item/evid-1"]
        assert item[A_TYPE] == {(SEPIO + "0004044", True)}
        assert item[":dc/description"] == {("normal in controls", False)}

    def test_rescue_human(self, spark, vdict):
        """NEW-namespace rescue: rescueType Human → line 0004029 /
        item 0004048; description = rescueMethod."""
        ev = GCI + "ev1"
        rows = self._score_rows(GCI, ev, adjusted="0.5") + [
            iri(ev, GCI + "rescue", "_:r"),
            iri("_:r", GCI + "rescueType", GCX + "Human"),
            lit("_:r", GCI + "rescueMethod", "gene therapy"),
        ]
        out = by_subject(
            self._vq("construct_rescue_evidence.sparql")
            .run(T(spark, rows).unionByName(vdict),
                 gcibase="http://gci.example/", pmbase=PM)
            .collect()
        )
        line = out["http://gci.example/evidence_line/score-1"]
        assert line[A_TYPE] == {(SEPIO + "0004029", True)}
        assert line[":sepio/evidence-line-strength-score"] == {("0.5", False)}
        item = out["http://gci.example/evidence_item/evid-1"]
        assert item[A_TYPE] == {(SEPIO + "0004048", True)}
        assert item[":dc/description"] == {("gene therapy", False)}

    def test_evidence_connections_type_join(self, spark, vdict):
        """evidence_connections: instances connect when the TYPE of the
        criterion assessment maps via gcixform:hasEvidenceLineType to
        the TYPE of the evidence line (sepio:0004058 → sepio:0004080 in
        the variant dictionary). The join is type-level, so EVERY
        assessment of a mapped type links to EVERY line of the mapped
        type (in the reference this runs over one curation's model, so
        the cross-product is the intended wiring); lines of a
        non-mapped type never appear as objects."""
        rows = [
            iri(GCI + "ca1", RDF + "type", SEPIO + "0004058"),
            iri(GCI + "el1", RDF + "type", SEPIO + "0004080"),
            iri(GCI + "ca2", RDF + "type", SEPIO + "0004058"),
            # a line whose type has no hasEvidenceLineType mapping: no edge
            iri(GCI + "el2", RDF + "type", SEPIO + "0004041"),
        ]
        out = by_subject(
            self._vq("construct_evidence_connections.sparql")
            .run(T(spark, rows).unionByName(vdict))
            .collect()
        )
        # both assessments of the mapped type link to the mapped line
        assert out[GCI + "ca1"][":sepio/has-evidence-line"] == {
            (GCI + "el1", True)
        }
        assert out[GCI + "ca2"][":sepio/has-evidence-line"] == {
            (GCI + "el1", True)
        }
        # the non-mapped line is never an object
        objs = {
            o
            for props in out.values()
            for o, _ in props.get(":sepio/has-evidence-line", set())
        }
        assert GCI + "el2" not in objs


class TestGdmCorpusChain:
    """transform_gdm_corpus (VERDICT r5 item 3): N curations through the
    22-construct chain in ONE set of jobs — per-graph affiliation /
    entrez / legacy-id seeding replaces the per-curation scalar lookups.

    Equivalence law: the chain is equivariant under a consistent IRI
    rename, so the corpus output for a suffix-cloned curation must be
    isomorphic (bnode-blind) to the single-curation output with the
    same rename applied. One single run + one corpus run cover three
    clones."""

    SFX = ["-sfxa", "-sfxb", "-sfxc"]
    ENTREZ = "https://www.ncbi.nlm.nih.gov/gene/672"

    def _norm(self, df, graph=None, rename=None):
        """Collect to a canonical frame: constant graph, optional
        suffix rename on every term column."""
        out = df
        if graph is not None:
            out = out.where(F.col("graph").eqNullSafe(graph))
        out = out.select(
            F.lit("x").alias("graph"), "subject", "predicate", "object",
            "object_is_iri", "object_datatype",
        )
        if rename is not None:
            a, b = rename
            for c in ("subject", "predicate", "object"):
                out = out.withColumn(c, F.replace(F.col(c), F.lit(a), F.lit(b)))
        return out

    def test_corpus_equals_suffixed_single(self, spark, names, dictionary):
        from genegraph_spark.operators import gdm_chain as GC
        from genegraph_spark.operators.model import is_isomorphic

        frames = [
            spark.createDataFrame(
                [(f"urn:cur{i}", *r) for r in gdm_fixture_rows(x)],
                TRIPLE_SCHEMA,
            )
            for i, x in enumerate(self.SFX)
        ]
        corpus = frames[0]
        for f in frames[1:]:
            corpus = corpus.unionByName(f)
        entrez_map = spark.createDataFrame(
            [("HGNC:1100" + x, self.ENTREZ + x) for x in self.SFX],
            "hgnc string, entrez_gene string",
        )
        out = GC.transform_gdm_corpus(
            corpus, REF_DIR, dictionary, names=names, entrez_map=entrez_map
        ).localCheckpoint(eager=True)
        # every graph produced rows and carries ONLY its own suffix
        per_graph = {
            r.graph: r.n
            for r in out.groupBy("graph").count().withColumnRenamed("count", "n").collect()
        }
        assert set(per_graph) == {f"urn:cur{i}" for i in range(3)}
        assert min(per_graph.values()) > 50
        leaked = out.where(
            F.col("graph").eqNullSafe("urn:cur0")
            & (
                F.col("subject").contains("-sfxb")
                | F.col("object").contains("-sfxb")
            )
        ).count()
        assert leaked == 0

        # single-curation reference run (suffix -sfxa; the chain derives
        # the affiliation itself, exercising find_affiliations parity)
        single = GC.transform_gdm(
            T(spark, gdm_fixture_rows(self.SFX[0])),
            REF_DIR,
            dictionary,
            entrez_gene=self.ENTREZ + self.SFX[0],
            names=names,
        ).localCheckpoint(eager=True)

        # corpus graph 0 ≡ single run (same suffix)
        assert is_isomorphic(
            self._norm(out, graph="urn:cur0"), self._norm(single)
        )
        # corpus graph 1 ≡ single run renamed -sfxa → -sfxb
        assert is_isomorphic(
            self._norm(out, graph="urn:cur1"),
            self._norm(single, rename=(self.SFX[0], self.SFX[1])),
        )


class TestGdmCorpusToStore:
    """The production composition: curation events → corpus chain →
    named-graph store MERGE (replaceNamedModel per curation) → a
    resolver query answered FROM THE STORE. This is the reference's
    stream.clj consume → transform-gdm → replaceNamedModel loop as one
    batch job per stage."""

    def test_chain_output_publishes_and_queries(self, spark, names, dictionary, tmp_path):
        from genegraph_spark.operators import gdm_chain as GC
        from genegraph_spark.operators.sparql import sparql
        from genegraph_spark.sinks.named_graph import NamedGraphStore

        sfx = ["-sa", "-sb"]
        corpus = None
        for i, x in enumerate(sfx):
            f = spark.createDataFrame(
                [(f"urn:cur{i}", *r) for r in gdm_fixture_rows(x)],
                TRIPLE_SCHEMA,
            )
            corpus = f if corpus is None else corpus.unionByName(f)
        entrez = spark.createDataFrame(
            [("HGNC:1100" + x, "urn:entrez" + x) for x in sfx],
            "hgnc string, entrez_gene string",
        )
        out = GC.transform_gdm_corpus(
            corpus, REF_DIR, dictionary, names=names, entrez_map=entrez
        )
        store = NamedGraphStore(spark, str(tmp_path / "store"))
        store.merge(out)
        assert store.triples().select("graph").distinct().count() == 2
        # the resolver-side question, answered from the store: every
        # curation's assertion + its legacy website id
        got = sparql(
            store.triples(),
            """select ?assertion ?legacy where {
                 ?assertion a :sepio/GeneValidityEvidenceLevelAssertion .
                 ?assertion :cg/website-legacy-id ?legacy }""",
            names=names,
        ).collect()
        rows = {(r.assertion, r.legacy) for r in got}
        assert rows == {
            (
                GCI + f"cls1{x}",
                GCI + f"assertion_cls1{x}-2020-05-01T123000",
            )
            for x in sfx
        }
        # replaceNamedModel semantics: re-merging one curation's model
        # replaces ONLY that graph (idempotent here)
        store.merge(out.where(F.col("graph") == "urn:cur0"))
        assert store.triples().count() == out.count()
        assert store.triples().select("graph").distinct().count() == 2


class TestStreamGdmToStore:
    """stream.clj's gene-validity primary loop, streamed: curation event
    models → per-micro-batch transform_gdm_corpus → store MERGE. The
    wiring test runs a 3-construct subset (full-chain correctness is
    pinned by the batch-mode tests above); catch-up and idempotence
    follow the stream_pages_to_store contract."""

    SUBSET = [
        "construct-proposition",
        "construct-evidence-level-assertion",
        "construct-alleles",
    ]

    def test_streamed_loop_matches_batch(self, spark, names, dictionary, tmp_path):
        import os

        from genegraph_spark.operators.gdm_chain import transform_gdm_corpus
        from genegraph_spark.sinks.named_graph import NamedGraphStore
        from genegraph_spark.streaming.stream import stream_gdm_to_store

        src = str(tmp_path / "events")
        os.makedirs(src, exist_ok=True)

        def frame(i, x):
            return spark.createDataFrame(
                [(f"urn:cur{i}", *r) for r in gdm_fixture_rows(x)],
                TRIPLE_SCHEMA,
            )

        entrez = spark.createDataFrame(
            [("HGNC:1100" + x, "urn:e" + x) for x in ("-qa", "-qb", "-qc")],
            "hgnc string, entrez_gene string",
        )
        kw = dict(
            query_dir=REF_DIR, dictionary=dictionary, names=names,
            entrez_map=entrez, constructs=self.SUBSET,
        )
        # delivery 1: two curations in one file → one micro-batch
        frame(0, "-qa").unionByName(frame(1, "-qb")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, "d1"))
        rep = stream_gdm_to_store(
            spark, os.path.join(src, "*"), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), **kw,
        )
        assert rep["batches"] == 1
        store = NamedGraphStore(spark, str(tmp_path / "store"))
        assert {
            r.graph for r in store.triples().select("graph").distinct().collect()
        } == {"urn:cur0", "urn:cur1"}
        # streamed content ≡ direct corpus run over the same subset
        direct = transform_gdm_corpus(
            frame(0, "-qa").unionByName(frame(1, "-qb")),
            REF_DIR, dictionary, names=names, entrez_map=entrez,
            constructs=self.SUBSET,
        )
        got = {tuple(r) for r in store.triples().collect()}
        want = {tuple(r) for r in direct.collect()}
        assert got == want
        # delivery 2: only the NEW file processes (checkpoint catch-up)
        frame(2, "-qc").coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, "d2")
        )
        rep2 = stream_gdm_to_store(
            spark, os.path.join(src, "*"), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), **kw,
        )
        assert rep2["batches"] == 1
        assert store.triples().select("graph").distinct().count() == 3
        # idle rerun commits nothing
        rep3 = stream_gdm_to_store(
            spark, os.path.join(src, "*"), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), **kw,
        )
        assert rep3["batches"] == 0
        assert rep3["last_commit"] == rep2["last_commit"]


class TestCorpusChainPlanShape:
    """The corpus-mode scale claim, plan-asserted: a construct whose
    WHERE has DISCONNECTED pattern blocks (construct_evidence_level_
    assertion's ?proposition block ∥ ?classification block — joined only
    through the per-event model in the reference) must join them on the
    graph key under per_graph — hash joins, never a cartesian product
    that would cross N curations × N curations."""

    def test_disconnected_blocks_join_on_graph(self, spark, names):
        import os

        from genegraph_spark.operators.sparql import PreparedQuery

        q = PreparedQuery(
            open(
                os.path.join(REF_DIR, "construct_evidence_level_assertion.sparql")
            ).read(),
            names=names,
        )
        t = spark.createDataFrame([], TRIPLE_SCHEMA)
        seed = spark.createDataFrame(
            [("urn:cur0", "I|urn:aff")], "graph string, affiliation string"
        )
        out = q.run(t, per_graph=seed)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
