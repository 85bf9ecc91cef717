"""Reference-wide embedded-query sweep.

The reference embeds SPARQL in three places: ``.sparql`` files (covered
by test_sparql/test_gdm_chain), Clojure string literals passed to
``create-query``, and algebra data forms (``[:project ... (cons :bgp
...)]`` — the combinator tier ``operators/algebra.py`` covers).  This
module mechanically extracts every STRING-form ``create-query`` body
from the reference source at test time and asserts the text front-end
parses all of them, plus executes the two shapes that forced front-end
features: ``isBlank`` term tests (suggesters.clj / condition.clj /
common/curation.clj) and the ``CONSTRUCT WHERE {...}`` shorthand
(util/test_data.clj).
"""
from __future__ import annotations

import os
import re
from functools import reduce

import pytest

REF_SRC = "/root/reference/src"

TRIPLE_SCHEMA = (
    "graph string, subject string, predicate string, object string, "
    "object_is_iri boolean, object_datatype string"
)


def _read_string(src: str, i: int) -> tuple[str, int]:
    buf = []
    k = i + 1
    while k < len(src):
        if src[k] == "\\":
            buf.append(src[k + 1])
            k += 2
            continue
        if src[k] == '"':
            break
        buf.append(src[k])
        k += 1
    return "".join(buf), k + 1


def extract_string_queries(path: str) -> list[str]:
    """String-literal create-query bodies in one .clj file; plain
    strings and ``(str "a" "b" ...)`` concatenations of pure literals
    (a non-literal inside (str ...) marks the query dynamic → skipped)."""
    src = open(path).read()
    out = []
    for m in re.finditer(r"\(\s*(?:q/)?create-query\s*", src):
        i = m.end()
        while i < len(src) and src[i] in " \t\r\n":
            i += 1
        if src.startswith("(str", i):
            j, depth, parts, pure = i + 4, 1, [], True
            while j < len(src) and depth > 0:
                c = src[j]
                if c == '"':
                    s, j = _read_string(src, j)
                    parts.append(s)
                elif c == "(":
                    depth += 1
                    j += 1
                elif c == ")":
                    depth -= 1
                    j += 1
                elif c in " \t\r\n":
                    j += 1
                else:
                    tok = re.match(r"[^\s()\"]+", src[j:])
                    pure = False
                    j += tok.end() if tok else 1
            if pure and parts:
                out.append("".join(parts))
        elif i < len(src) and src[i] == '"':
            s, _ = _read_string(src, i)
            out.append(s)
    return out


def all_string_queries() -> list[tuple[str, str]]:
    found = []
    for root, _, files in os.walk(REF_SRC):
        for f in sorted(files):
            if f.endswith(".clj"):
                p = os.path.join(root, f)
                for q in extract_string_queries(p):
                    found.append((os.path.relpath(p, REF_SRC), q))
    return found


class TestEmbeddedQuerySweep:
    @pytest.fixture(autouse=True)
    def _need_ref(self):
        if not os.path.isdir(REF_SRC):
            pytest.skip("reference tree not present")

    def test_every_string_query_parses(self):
        from genegraph_spark.operators import sparql as S

        queries = all_string_queries()
        # the reference embeds 42 string-form queries today; tolerate
        # growth, catch extractor rot
        assert len(queries) >= 40, f"extractor found only {len(queries)}"
        failures = []
        for f, q in queries:
            try:
                S.PreparedQuery(q)
            except Exception as e:  # noqa: BLE001 — collecting a report
                failures.append((f, str(e)[:120]))
        assert not failures, failures


def T(spark, rows):
    return spark.createDataFrame(
        [("g", s, p, o, i, dt) for s, p, o, i, dt in rows], TRIPLE_SCHEMA
    )


def iri(s, p, o):
    return (s, p, o, True, None)


def lit(s, p, o, dt=None):
    return (s, p, o, False, dt)


SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
MONDO = "http://purl.obolibrary.org/obo/MONDO_0000001"


class TestIsBlankQueries:
    """suggesters.clj:33-35 (and the condition.clj / common/curation.clj
    family): non-bnode disease enumeration via ``FILTER (!isBlank(?s))``
    — executed VERBATIM. Blank nodes travel as "_:"-prefixed IRI-tagged
    terms in this engine."""

    Q = (
        "select ?s WHERE { ?s <http://www.w3.org/2000/01/rdf-schema#subClassOf>* "
        "<http://purl.obolibrary.org/obo/MONDO_0000001> .FILTER (!isBlank(?s)) }"
    )

    def test_verbatim_blank_exclusion(self, spark):
        from genegraph_spark.operators import sparql as S

        m = T(
            spark,
            [
                iri("urn:d1", SUB, MONDO),
                iri("_:b1", SUB, MONDO),
                iri("urn:d2", SUB, "urn:d1"),
            ],
        )
        out = sorted(r.s for r in S.sparql(m, self.Q).collect())
        # zero-step root + both transitive IRIs; the bnode subclass dropped
        assert out == [MONDO, "urn:d1", "urn:d2"]

    def test_term_kind_family(self, spark):
        from genegraph_spark.operators import sparql as S

        m = T(
            spark,
            [
                iri("urn:s1", ":p", "urn:o1"),
                iri("urn:s2", ":p", "_:b9"),
                lit("urn:s3", ":p", "12.5", "xsd:decimal"),
                lit("urn:s4", ":p", "hello"),
            ],
        )
        run = lambda flt: sorted(  # noqa: E731
            r.s
            for r in S.sparql(m, f"select ?s where {{ ?s :p ?o . FILTER({flt}) }}").collect()
        )
        assert run("isIRI(?o)") == ["urn:s1"]
        assert run("isBlank(?o)") == ["urn:s2"]
        assert run("isLiteral(?o)") == ["urn:s3", "urn:s4"]
        assert run("isNumeric(?o)") == ["urn:s3"]


class TestConstructWhereShorthand:
    """util/test_data.clj:60-67 — ``construct where {?disease ?p ?o}``
    (SPARQL 1.1 §10.2.2: template = pattern) executed VERBATIM with the
    pre-bound subject the reference's extract loop passes."""

    def test_verbatim(self, spark):
        from genegraph_spark.operators import sparql as S

        m = T(
            spark,
            [
                iri("urn:d1", SUB, MONDO),
                lit("urn:d1", ":rdfs/label", "disease one"),
                iri("urn:d2", SUB, "urn:d1"),
            ],
        )
        out = sorted(
            (r.subject, r.predicate, r.object)
            for r in S.sparql(
                m, "construct where {?disease ?p ?o}", disease=("iri", "urn:d1")
            ).collect()
        )
        assert out == [
            ("urn:d1", ":rdfs/label", "disease one"),
            ("urn:d1", SUB, MONDO),
        ]


class TestConditionHierarchyQueries:
    """condition.clj's five remaining string queries executed VERBATIM:
    propositions-query (type path to :sepio/Proposition) and the four
    MONDO-gated hierarchy walks behind the (direct) sub/superclass
    resolvers — note the reference's resolver/query name swap
    (`subclasses` calls superclass-of-query): these tests pin the QUERY
    semantics, not the resolver naming."""

    PROPOSITIONS_Q = """select ?prop where 
{ ?prop :sepio/has-object ?disease .
  ?prop ( a / :rdfs/sub-class-of * ) :sepio/Proposition }"""

    SUBCLASS_OF_Q = (
        "select ?s WHERE { ?class "
        " <http://www.w3.org/2000/01/rdf-schema#subClassOf>* "
        " ?s . "
        " ?s "
        " <http://www.w3.org/2000/01/rdf-schema#subClassOf>* "
        "<http://purl.obolibrary.org/obo/MONDO_0000001> ."
        "FILTER (!isBlank(?s)) }"
    )

    SUPERCLASS_OF_Q = (
        "select ?s WHERE { ?s "
        " <http://www.w3.org/2000/01/rdf-schema#subClassOf>* "
        " ?class . "
        " ?s "
        " <http://www.w3.org/2000/01/rdf-schema#subClassOf>* "
        "<http://purl.obolibrary.org/obo/MONDO_0000001> ."
        "FILTER (!isBlank(?s)) }"
    )

    DIRECT_SUBCLASS_OF_Q = (
        "select ?s WHERE { ?class "
        " <http://www.w3.org/2000/01/rdf-schema#subClassOf> "
        " ?s . "
        " ?s "
        " <http://www.w3.org/2000/01/rdf-schema#subClassOf>* "
        "<http://purl.obolibrary.org/obo/MONDO_0000001> ."
        "FILTER (!isBlank(?s)) }"
    )

    DIRECT_SUPERCLASS_OF_Q = (
        "select ?s WHERE { ?s "
        " <http://www.w3.org/2000/01/rdf-schema#subClassOf> "
        " ?class . "
        " ?s "
        " <http://www.w3.org/2000/01/rdf-schema#subClassOf>* "
        "<http://purl.obolibrary.org/obo/MONDO_0000001> ."
        "FILTER (!isBlank(?s)) }"
    )

    @pytest.fixture(scope="class")
    def mondo_graph(self, spark):
        return T(
            spark,
            [
                iri("urn:A", SUB, MONDO),
                iri("urn:B", SUB, "urn:A"),
                iri("_:bx", SUB, "urn:A"),
                iri("urn:C", SUB, "urn:B"),
                # outside the MONDO tree — the second subClassOf* gate drops it
                iri("urn:Z", SUB, "urn:other"),
                # propositions
                iri("urn:prop1", ":sepio/has-object", "urn:A"),
                iri("urn:prop1", "rdf:type", ":sepio/GeneValidityProposition"),
                iri(
                    ":sepio/GeneValidityProposition",
                    ":rdfs/sub-class-of",
                    ":sepio/Proposition",
                ),
                iri("urn:prop2", ":sepio/has-object", "urn:A"),
                iri("urn:prop2", "rdf:type", ":sepio/SomethingElse"),
            ],
        )

    def _run(self, m, q, **params):
        from genegraph_spark.operators import sparql as S

        return sorted(r[0] for r in S.sparql(m, q, **params).collect())

    def test_propositions(self, spark, mondo_graph):
        assert self._run(
            mondo_graph, self.PROPOSITIONS_Q, disease=("iri", "urn:A")
        ) == ["urn:prop1"]

    def test_ancestors_within_mondo(self, spark, mondo_graph):
        # subclass-of-query(class=B): everything B subClassOf* reaches
        assert self._run(
            mondo_graph, self.SUBCLASS_OF_Q, **{"class": ("iri", "urn:B")}
        ) == [MONDO, "urn:A", "urn:B"]

    def test_descendants_within_mondo(self, spark, mondo_graph):
        # superclass-of-query(class=A): everything that reaches A;
        # the blank subclass is filtered, Z can't pass the MONDO gate
        assert self._run(
            mondo_graph, self.SUPERCLASS_OF_Q, **{"class": ("iri", "urn:A")}
        ) == ["urn:A", "urn:B", "urn:C"]

    def test_direct_hops(self, spark, mondo_graph):
        assert self._run(
            mondo_graph, self.DIRECT_SUBCLASS_OF_Q, **{"class": ("iri", "urn:B")}
        ) == ["urn:A"]
        assert self._run(
            mondo_graph,
            self.DIRECT_SUPERCLASS_OF_Q,
            **{"class": ("iri", "urn:A")},
        ) == ["urn:B"]


HP_MOI_ROOT = "http://purl.obolibrary.org/obo/HP_0000005"
MONDO_GRAPH = "http://purl.obolibrary.org/obo/mondo.owl"
ADULT_WG = ":cg/AdultActionabilityWorkingGroup"


class TestRemainingEmbeddedQueries:
    """The last string-form create-queries without verbatim-execution
    coverage, all executed unmodified: the actionability tot-* family
    (actionability.clj:12-134), the actionability-assertion report-date
    (actionability_assertion.clj:5-16), gene_validity.clj's
    primary-attribution, mode_of_inheritance.clj's HP-rooted MOI
    enumeration, common/curation.clj's text-search disease query
    (:303-309), the two one-BGP suggester corpus queries
    (suggesters.clj:41,63), and util/test_data.clj's GRAPH-scoped
    MONDO-subgraph CONSTRUCT extraction."""

    @pytest.fixture(scope="class")
    def act_graph(self, spark):
        return T(
            spark,
            [
                # report r1: two EvidenceRole contributions (later one
                # agented), one ApproverRole, version 2.0.1, a
                # preferred-condition part and a rule-out part
                iri("urn:r1", "rdf:type", ":sepio/ActionabilityReport"),
                lit("urn:r1", ":dc/has-version", "2.0.1"),
                iri("urn:r1", ":sepio/qualified-contribution", "urn:c1"),
                iri("urn:c1", ":bfo/realizes", ":sepio/EvidenceRole"),
                lit("urn:c1", ":sepio/activity-date", "2020-01-01"),
                iri("urn:r1", ":sepio/qualified-contribution", "urn:c2"),
                iri("urn:c2", ":bfo/realizes", ":sepio/EvidenceRole"),
                lit("urn:c2", ":sepio/activity-date", "2021-05-05"),
                iri("urn:c2", ":sepio/has-agent", ADULT_WG),
                iri("urn:r1", ":sepio/qualified-contribution", "urn:c3"),
                iri("urn:c3", ":bfo/realizes", ":sepio/ApproverRole"),
                iri("urn:c3", ":sepio/has-agent", ADULT_WG),
                iri(
                    "urn:p1",
                    "rdf:type",
                    ":cg/ActionabilityAssertionForPreferredCondition",
                ),
                iri("urn:p1", ":sepio/has-object", "urn:diseaseX"),
                iri("urn:p1", ":sepio/has-subject", "urn:geneX"),
                iri("urn:r1", ":bfo/has-part", "urn:p1"),
                iri(
                    "urn:p2",
                    ":sepio/has-predicate",
                    ":sepio/InsufficientEvidenceForActionabilityEarlyRuleOut",
                ),
                iri("urn:r1", ":bfo/has-part", "urn:p2"),
                # report r3: original version, no contributions
                iri("urn:r3", "rdf:type", ":sepio/ActionabilityReport"),
                lit("urn:r3", ":dc/has-version", "1.0.0"),
                # gene-validity assertion with an approver attribution
                iri("urn:a1", ":sepio/qualified-contribution", "urn:c4"),
                iri("urn:c4", ":bfo/realizes", ":sepio/ApproverRole"),
                iri("urn:c4", ":sepio/has-agent", "urn:agentZ"),
                # modes of inheritance
                iri("urn:prop1", "rdf:type", ":sepio/GeneValidityProposition"),
                iri("urn:prop1", ":sepio/has-qualifier", "urn:moiAD"),
                iri("urn:moiAD", SUB, HP_MOI_ROOT),
                iri("urn:prop2", "rdf:type", ":sepio/GeneValidityProposition"),
                iri("urn:prop2", ":sepio/has-qualifier", "urn:moiX"),
                # text-searchable disease + suggester corpora
                iri("urn:dA", SUB, MONDO),
                lit("urn:dA", ":cg/resource", "marfan syndrome"),
                lit("urn:dA", ":rdfs/label", "Marfan"),
                iri("urn:gX", "rdf:type", ":so/ProteinCodingGene"),
                iri("urn:dr1", "rdf:type", ":chebi/Drug"),
            ],
        )

    def _run(self, m, q, **params):
        from genegraph_spark.operators import sparql as S

        return sorted(r[0] for r in S.sparql(m, q, **params).collect())

    def test_actionability_report_date(self, spark, act_graph):
        q = (
            "select ?contribution where "
            " { ?report :sepio/qualified-contribution ?contribution . "
            "   ?contribution :bfo/realizes :sepio/EvidenceRole . "
            "   ?contribution :sepio/activity-date ?date } "
            " order by desc(?date) "
            " limit 1 "
        )
        assert self._run(act_graph, q, report=("iri", "urn:r1")) == ["urn:c2"]

    def test_wg_search_reports(self, spark, act_graph):
        q = (
            "select ?qc where { ?s a :sepio/ActionabilityReport . "
            "?s :sepio/qualified-contribution ?qc . "
            "?qc :bfo/realizes :sepio/EvidenceRole ."
            "?qc :sepio/has-agent ?agent . }"
        )
        # only the agented EvidenceRole contribution qualifies
        assert self._run(act_graph, q) == ["urn:c2"]

    def test_tot_reports_and_updated(self, spark, act_graph):
        assert self._run(
            act_graph, "select ?s where { ?s a :sepio/ActionabilityReport }"
        ) == ["urn:r1", "urn:r3"]
        q = (
            "select ?s where { ?s a :sepio/ActionabilityReport . "
            "?s :dc/has-version ?v . "
            "FILTER regex(?v, '[2-9].[0-9].[0-9]') }"
        )
        assert self._run(act_graph, q) == ["urn:r1"]

    def test_uniq_disease_pairs(self, spark, act_graph):
        q = (
            "select ?gene where { "
            "?part a :cg/ActionabilityAssertionForPreferredCondition . "
            "?part :sepio/has-object ?disease . "
            "?part :sepio/has-subject ?gene . "
            "?s :bfo/has-part ?part . "
            "?s a :sepio/ActionabilityReport . "
            "?s :sepio/qualified-contribution ?qc . "
            "?qc :sepio/has-agent ?wg } "
            "GROUP BY ?gene ?disease "
        )
        # two agented contributions would double the row without the
        # GROUP BY; the grouped projection collapses to one per pair
        assert self._run(act_graph, q) == ["urn:geneX"]

    def test_score_counts_and_rule_out(self, spark, act_graph):
        q_sc = (
            "select ?s where { "
            "?s a :sepio/ActionabilityReport . "
            "?s :sepio/qualified-contribution ?qc . "
            "?qc :bfo/realizes :sepio/ApproverRole . "
            "?qc :sepio/has-agent ?wg }"
        )
        assert self._run(act_graph, q_sc, wg=("iri", ADULT_WG)) == ["urn:r1"]
        q_ro = (
            "select ?p where { "
            "?s a :sepio/ActionabilityReport . "
            "?s :bfo/has-part ?p . "
            "?p :sepio/has-predicate :sepio/InsufficientEvidenceForActionabilityEarlyRuleOut . "
            "?s :sepio/qualified-contribution ?qc . "
            "?qc :sepio/has-agent ?wg }"
        )
        # {::q/distinct false}: both agented contributions bind ?qc, so
        # the part appears once per binding (bag semantics)
        assert self._run(act_graph, q_ro, wg=("iri", ADULT_WG)) == [
            "urn:p2",
            "urn:p2",
        ]

    def test_assertion_report_date(self, spark, act_graph):
        q = (
            "select ?contribution where "
            " { ?report :bfo/has-part ?assertion . "
            "   ?report :sepio/qualified-contribution ?contribution . "
            "   ?contribution :bfo/realizes :sepio/EvidenceRole . "
            "   ?contribution :sepio/activity-date ?date } "
            " order by desc(?date) "
            " limit 1 "
        )
        assert self._run(act_graph, q, assertion=("iri", "urn:p1")) == ["urn:c2"]

    def test_primary_attribution(self, spark, act_graph):
        q = """select ?agent where {
    ?assertion :sepio/qualified-contribution ?contribution . 
    ?contribution :bfo/realizes :sepio/ApproverRole ;
    :sepio/has-agent ?agent . } 
   limit 1 """
        assert self._run(act_graph, q, assertion=("iri", "urn:a1")) == [
            "urn:agentZ"
        ]

    def test_modes_of_inheritance(self, spark, act_graph):
        q = """select distinct ?moi where 
{ ?prop a :sepio/GeneValidityProposition .
  ?prop :sepio/has-qualifier ?moi .
  ?moi <http://www.w3.org/2000/01/rdf-schema#subClassOf>* <http://purl.obolibrary.org/obo/HP_0000005> }"""
        # moiX has no HP-root path — excluded
        assert self._run(act_graph, q) == ["urn:moiAD"]

    def test_disease_text_search(self, spark, act_graph):
        q = (
            "select ?s WHERE { "
            "?s :jena/query ( :cg/resource ?text ) . "
            "?s <http://www.w3.org/2000/01/rdf-schema#subClassOf>* "
            "<http://purl.obolibrary.org/obo/MONDO_0000001> . "
            "?s :rdfs/label ?disease_label . "
            "FILTER (!isBlank(?s)) }"
        )
        assert self._run(act_graph, q, text="marfan") == ["urn:dA"]

    def test_suggester_corpus_queries(self, spark, act_graph):
        assert self._run(
            act_graph, "select ?s WHERE { ?s a :so/ProteinCodingGene }"
        ) == ["urn:gX"]
        assert self._run(act_graph, "select ?s WHERE { ?s a :chebi/Drug }") == [
            "urn:dr1"
        ]

    def test_mondo_subgraph_construct(self, spark):
        from genegraph_spark.operators import sparql as S

        rows = [
            ("g", "urn:dA", SUB, "urn:MROOT", True, None),
            (MONDO_GRAPH, "urn:dA", ":rdfs/label", "Marfan", False, None),
            (MONDO_GRAPH, "urn:MROOT", ":rdfs/label", "root", False, None),
            (MONDO_GRAPH, "urn:other", ":rdfs/label", "nope", False, None),
        ]
        m = spark.createDataFrame(rows, TRIPLE_SCHEMA)
        q = (
            "construct {?s ?p ?o} where { "
            " ?disease <http://www.w3.org/2000/01/rdf-schema#subClassOf>* ?s ."
            " GRAPH <http://purl.obolibrary.org/obo/mondo.owl> { ?s ?p ?o } } "
        )
        out = sorted(
            (r.subject, r.object)
            for r in S.sparql(m, q, disease=("iri", "urn:dA")).collect()
        )
        # the mondo-graph triples of every ancestor; the out-of-closure
        # subject and the default-graph subClassOf edge excluded
        assert out == [("urn:MROOT", "root"), ("urn:dA", "Marfan")]


class TestAlgebraDataForms:
    """The reference curation tier's query data forms
    (common/curation.clj, query/algebra.clj ops) transliterated 1:1
    (Clojure symbols → ?vars) and executed through the algebra operators
    the curation tier calls: the per-activity ASK patterns, the :project
    BGP queries, disease-list's three-way :union (set semantics, as
    create-query's default ``::q/distinct true``), and the count mode."""

    GV_BGP = [
        ["?validity_proposition", ":sepio/has-subject", "?gene"],
        ["?validity_proposition", ":sepio/has-object", "?disease"],
        ["?validity_proposition", ":rdf/type", ":sepio/GeneValidityProposition"],
    ]
    ACT_BGP = [
        ["?actionability_genetic_condition", ":sepio/is-about-gene", "?gene"],
        ["?ac_report", ":sepio/is-about-condition", "?actionability_genetic_condition"],
        ["?ac_report", ":rdf/type", ":sepio/ActionabilityReport"],
        ["?actionability_genetic_condition", ":rdfs/sub-class-of", "?disease"],
    ]
    DOSAGE_DISEASE_BGP = [
        ["?dosage_report", ":iao/is-about", "?gene"],
        ["?gene", ":rdf/type", ":so/Gene"],
        ["?dosage_report", ":rdf/type", ":sepio/GeneDosageReport"],
        ["?dosage_report", ":bfo/has-part", "?dosage_assertion"],
        ["?dosage_report", ":bfo/has-part", "?dosage_assertion"],
        ["?dosage_assertion", ":sepio/has-subject", "?dosage_proposition"],
        ["?dosage_proposition", ":sepio/has-object", "?disease"],
    ]

    @pytest.fixture(scope="class")
    def curation_graph(self, spark):
        return T(
            spark,
            [
                # gene-validity curation for geneG/diseaseD
                iri("urn:vp", ":sepio/has-subject", "urn:geneG"),
                iri("urn:vp", ":sepio/has-object", "urn:diseaseD"),
                iri("urn:vp", ":rdf/type", ":sepio/GeneValidityProposition"),
                # actionability curation for geneG/diseaseD
                iri("urn:agc", ":sepio/is-about-gene", "urn:geneG"),
                iri("urn:acr", ":sepio/is-about-condition", "urn:agc"),
                iri("urn:acr", ":rdf/type", ":sepio/ActionabilityReport"),
                iri("urn:agc", ":rdfs/sub-class-of", "urn:diseaseD"),
                # dosage curation for geneG/diseaseD
                iri("urn:dr", ":iao/is-about", "urn:geneG"),
                iri("urn:geneG", ":rdf/type", ":so/Gene"),
                iri("urn:dr", ":rdf/type", ":sepio/GeneDosageReport"),
                iri("urn:dr", ":bfo/has-part", "urn:da"),
                iri("urn:da", ":sepio/has-subject", "urn:dp"),
                iri("urn:dp", ":sepio/has-object", "urn:diseaseD"),
                # geneH: gene-validity only (for the activity ASKs)
                iri("urn:vp2", ":sepio/has-subject", "urn:geneH"),
                iri("urn:vp2", ":sepio/has-object", "urn:diseaseE"),
                iri("urn:vp2", ":rdf/type", ":sepio/GeneValidityProposition"),
            ],
        )

    def test_activity_ask_patterns(self, spark, curation_graph):
        # curation.clj:43-45: (create-query (cons :bgp pattern)
        # {::q/type :ask}) per activity, pre-bound {:gene resource}
        from genegraph_spark.operators import algebra as A

        for bgp_form, gene, expect in [
            (self.GV_BGP, "urn:geneG", True),
            (self.ACT_BGP, "urn:geneG", True),
            (self.DOSAGE_DISEASE_BGP, "urn:geneG", True),
            (self.GV_BGP, "urn:geneH", True),
            (self.ACT_BGP, "urn:geneH", False),
            (self.DOSAGE_DISEASE_BGP, "urn:geneH", False),
            (self.GV_BGP, "urn:geneZ", False),
        ]:
            bound = [[gene if x == "?gene" else x for x in t] for t in bgp_form]
            got = A.ask(A.bgp(curation_graph, bound))
            assert got is expect, (bgp_form[0], gene)

    def test_project_bgp_queries(self, spark, curation_graph):
        # curation.clj:78-83,116-117: [:project ['x] (cons :bgp bgp)]
        from genegraph_spark.operators import algebra as A

        out = A.distinct(A.project(A.bgp(curation_graph, self.ACT_BGP), ["ac_report"]))
        assert [r.ac_report for r in out.collect()] == ["urn:acr"]
        out = A.distinct(
            A.project(A.bgp(curation_graph, self.DOSAGE_DISEASE_BGP), ["dosage_assertion"])
        )
        assert [r.dosage_assertion for r in out.collect()] == ["urn:da"]

    def test_disease_list_union(self, spark, curation_graph):
        # condition.clj:66-70: [:union (cons :bgp gv) (cons :bgp act)
        # (cons :bgp dosage)] projected to ?disease
        from genegraph_spark.operators import algebra as A

        union = reduce(A.union, (
            A.bgp(curation_graph, bgp)
            for bgp in (self.GV_BGP, self.ACT_BGP, self.DOSAGE_DISEASE_BGP)
        ))
        # create-query defaults ::q/distinct true (resource.clj:236-238),
        # so the reference's disease-list returns SET semantics: diseaseD
        # once despite matching all three branches
        diseases = A.distinct(A.project(union, ["disease"]))
        out = sorted(r.disease for r in diseases.collect())
        assert out == ["urn:diseaseD", "urn:diseaseE"]
        assert A.count(diseases) == 2


class TestActionabilityTransitional:
    """transform/actionability_transitional — the 40th (and last
    uncovered) reference ``.sparql`` file, executed VERBATIM over an
    ACI-shaped model (the post-JSON-LD-expansion form ``as-model``
    produces, actionability_transitional.clj:58-62): per-solution FRESH
    template bnodes for the approval contribution, the OPTIONAL
    (gene, iri)-keyed assertion link, and the
    ``coalesce(?included_assertion, SEPIO_0003541)`` assertion-pending
    fallback."""

    ACI = "http://actionability.clinicalgenome.org/"
    AX = "http://dataexchange.clinicalgenome.org/acixform/"
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    SPARQL = (
        "/root/reference/src/genegraph/transform/actionability_transitional/"
        "construct_actionability_report.sparql"
    )

    @pytest.fixture(autouse=True)
    def _need_ref(self):
        if not os.path.exists(self.SPARQL):
            pytest.skip("reference tree not present")

    def test_verbatim_output(self, spark):
        from genegraph_spark.operators import sparql as S

        ACI, AX = self.ACI, self.AX
        m = T(
            spark,
            [
                iri(ACI + "r1n", self.RDF_TYPE, ACI + "actionability"),
                iri(ACI + "r1n", AX + "iri", "https://example.org/report1"),
                lit(ACI + "r1n", AX + "approvalDate", "2022-01-01"),
                lit(ACI + "r1n", AX + "searchDates", "2021-12-01"),
                lit(ACI + "r1n", AX + "affiliations", "Adult AWG"),
                iri(ACI + "r1n", AX + "conditions", "urn:c1"),
                iri(ACI + "r1n", AX + "conditions", "urn:c2"),
                iri("urn:c1", AX + "iri", "urn:diseaseA"),
                iri("urn:c1", AX + "gene", "urn:gene1"),
                iri("urn:c2", AX + "iri", "urn:diseaseB"),
                iri("urn:c2", AX + "gene", "urn:gene2"),
                iri(ACI + "r1n", AX + "assertions", "urn:an1"),
                iri(
                    "urn:an1",
                    AX + "assertion",
                    "http://purl.obolibrary.org/obo/SEPIO_0003537",
                ),
                iri("urn:an1", AX + "gene", "urn:gene1"),
                iri("urn:an1", AX + "iri", "urn:diseaseA"),
            ],
        )
        out = S.sparql(m, open(self.SPARQL).read()).collect()
        spo = {(r.subject, r.predicate, r.object) for r in out}
        rep = "https://example.org/report1"
        # report typing + parts
        assert (rep, "rdf:type", ":sepio/ActionabilityReport") in spo
        assert (rep, ":bfo/has-part", "urn:c1") in spo
        assert (rep, ":bfo/has-part", "urn:c2") in spo
        # condition c1 carries the LINKED assertion; c2 falls back to
        # Assertion Pending via the coalesce BIND
        assert ("urn:c1", ":sepio/has-predicate",
                "http://purl.obolibrary.org/obo/SEPIO_0003537") in spo
        assert ("urn:c2", ":sepio/has-predicate",
                "http://purl.obolibrary.org/obo/SEPIO_0003541") in spo
        assert ("urn:c1", ":sepio/has-subject", "urn:gene1") in spo
        assert ("urn:c2", ":sepio/has-object", "urn:diseaseB") in spo
        assert ("urn:c1", "rdf:type", ":sepio/ActionabilityAssertion") in spo
        # fresh approval-contribution bnode PER SOLUTION: two condition
        # rows → two distinct bnodes, each realizing ApproverRole with
        # the approval date
        contribs = sorted(
            o for s, p, o in spo if p == ":sepio/qualified-contribution"
        )
        assert len(contribs) == 2 and contribs[0] != contribs[1]
        for b in contribs:
            assert b.startswith("_:")
            assert (b, ":bfo/realizes", ":sepio/ApproverRole") in spo
            assert (b, ":sepio/activity-date", "2022-01-01") in spo


class TestUnboundOrdering:
    """SPARQL §15.1: an unbound value sorts LOWEST — first in ascending
    order, last in descending. (Spark's native null ordering split is
    the opposite; the multi-part numeric-aware key previously pushed
    unbound last ascending.)"""

    def test_optional_var_order(self, spark):
        from genegraph_spark.operators import sparql as S

        m = T(
            spark,
            [
                iri("urn:a", ":p", "urn:x"),
                iri("urn:b", ":p", "urn:y"),
                lit("urn:a", ":score", "5", "xsd:integer"),
            ],
        )
        q = (
            "select ?s ?v where { ?s :p ?o . OPTIONAL { ?s :score ?v } } "
            "order by DIR(?v)"
        )
        asc = [r.s for r in S.sparql(m, q.replace("DIR", "asc")).collect()]
        desc = [r.s for r in S.sparql(m, q.replace("DIR", "desc")).collect()]
        assert asc == ["urn:b", "urn:a"]  # unbound first ascending
        assert desc == ["urn:a", "urn:b"]  # unbound last descending

    def test_term_kind_tier_tagged_path(self, spark):
        # full §15.1 tier in the tagged (sub-SELECT) ordering path:
        # unbound < blank node < IRI < literal
        from genegraph_spark.operators import sparql as S

        m = T(
            spark,
            [
                iri("urn:s1", ":p", "urn:iri-val"),
                iri("urn:s2", ":p", "_:bn1"),
                lit("urn:s3", ":p", "a-literal"),
                lit("urn:s4", ":q", "x"),
            ],
        )
        q = """select ?s ?o where {
  { select ?s ?o where { { ?s ?any ?x } OPTIONAL { ?s :p ?o } } order by ?o }
}"""
        out = [r.s for r in S.sparql(m, q).collect()]
        assert out == ["urn:s4", "urn:s2", "urn:s1", "urn:s3"]


class TestConformanceCorners:
    """Pinned SPARQL conformance corners probed in session 5 — each of
    these behaviors is easy to regress silently: group-scoped FILTER
    placement (§8.3.3: a filter applies to the WHOLE group regardless
    of textual position), BIND-then-use with numeric arithmetic,
    constant-endpoint property-path ASK, nested OPTIONALs, and MINUS
    with partially-overlapping variable domains."""

    @pytest.fixture(scope="class")
    def corner_graph(self, spark):
        return T(
            spark,
            [
                iri("urn:a", ":p", "urn:b"),
                iri("urn:b", ":p", "urn:c"),
                lit("urn:a", ":name", "alice"),
                lit("urn:a", ":v", "5", "xsd:integer"),
                lit("urn:b", ":v", "1", "xsd:integer"),
            ],
        )

    def test_filter_before_pattern_is_group_scoped(self, spark, corner_graph):
        from genegraph_spark.operators import sparql as S

        out = sorted(
            r.s
            for r in S.sparql(
                corner_graph, "select ?s where { FILTER(?x > 2) ?s :v ?x }"
            ).collect()
        )
        assert out == ["urn:a"]

    def test_bind_then_use(self, spark, corner_graph):
        from genegraph_spark.operators import sparql as S

        out = [
            (r.s, r.y)
            for r in S.sparql(
                corner_graph,
                "select ?s ?y where { ?s :v ?x . BIND((?x + 1) AS ?y) "
                "FILTER(?y > 2) }",
            ).collect()
        ]
        assert out == [("urn:a", "6")]

    def test_constant_endpoint_path_ask(self, spark, corner_graph):
        from genegraph_spark.operators import sparql as S

        assert S.sparql(corner_graph, "ASK { <urn:a> :p+ <urn:c> }") is True
        assert S.sparql(corner_graph, "ASK { <urn:a> :p+ <urn:z> }") is False

    def test_nested_optional(self, spark, corner_graph):
        from genegraph_spark.operators import sparql as S

        out = sorted(
            (r.s, r.n, r.m)
            for r in S.sparql(
                corner_graph,
                "select ?s ?n ?m where { ?s :p ?o OPTIONAL { ?s :name ?n "
                "OPTIONAL { ?s :missing ?m } } }",
            ).collect()
        )
        assert out == [("urn:a", "alice", None), ("urn:b", None, None)]

    def test_minus_partial_overlap(self, spark, corner_graph):
        from genegraph_spark.operators import sparql as S

        out = sorted(
            r.s
            for r in S.sparql(
                corner_graph,
                "select ?s where { ?s :p ?o . MINUS { ?s :name ?x } }",
            ).collect()
        )
        assert out == ["urn:b"]


class TestGroupConcatSeparator:
    """SPARQL 1.1 §18.5.1.7: ``GROUP_CONCAT(?x; separator="...")`` —
    explicit separator, bag vs DISTINCT multiplicities, and the
    space-separator default; values joined in sorted order for
    determinism."""

    def test_forms(self, spark):
        from genegraph_spark.operators import sparql as S

        m = T(
            spark,
            [
                lit("urn:a", ":tag", "x"),
                lit("urn:a", ":tag", "y"),
                lit("urn:a", ":tag", "y"),
                lit("urn:b", ":tag", "z"),
            ],
        )
        run = lambda q: [  # noqa: E731
            (r.s, r.ts) for r in S.sparql(m, q).collect()
        ]
        base = (
            'select ?s (GROUP_CONCAT({inner}) AS ?ts) '
            "where { ?s :tag ?t } group by ?s order by ?s"
        )
        assert run(base.replace("{inner}", 'DISTINCT ?t; separator=","')) == [
            ("urn:a", "x,y"), ("urn:b", "z")
        ]
        assert run(base.replace("{inner}", '?t; separator="|"')) == [
            ("urn:a", "x|y|y"), ("urn:b", "z")
        ]
        assert run(base.replace("{inner}", "?t")) == [
            ("urn:a", "x y y"), ("urn:b", "z")
        ]


class TestNumericExprFeatures:
    """SPARQL 1.1 expression features: (NOT) IN (§17.4.1.9, numeric and
    string element comparison), ABS/CEIL/FLOOR/ROUND (§17.4.4), and
    unary minus."""

    @pytest.fixture(scope="class")
    def num_graph(self, spark):
        return T(
            spark,
            [
                lit("urn:a", ":v", "2.4", "xsd:decimal"),
                lit("urn:b", ":v", "-3", "xsd:integer"),
                lit("urn:c", ":name", "x"),
            ],
        )

    def _run(self, m, q):
        from genegraph_spark.operators import sparql as S

        return sorted(tuple(r) for r in S.sparql(m, q).collect())

    def test_in_not_in(self, spark, num_graph):
        assert self._run(
            num_graph, "select ?s where { ?s :v ?x . FILTER(?x IN (2.4, 7)) }"
        ) == [("urn:a",)]
        assert self._run(
            num_graph, "select ?s where { ?s :v ?x . FILTER(?x NOT IN (2.4)) }"
        ) == [("urn:b",)]
        assert self._run(
            num_graph,
            'select ?s where { ?s :name ?n . FILTER(?n IN ("x", "y")) }',
        ) == [("urn:c",)]

    def test_numeric_functions(self, spark, num_graph):
        assert self._run(
            num_graph, "select ?s (ABS(?x) AS ?a) where { ?s :v ?x }"
        ) == [("urn:a", 2.4), ("urn:b", 3.0)]
        assert self._run(
            num_graph,
            "select ?s (CEIL(?x) AS ?c) (FLOOR(?x) AS ?f) (ROUND(?x) AS ?r) "
            "where { ?s :v ?x }",
        ) == [("urn:a", 3.0, 2.0, 2.0), ("urn:b", -3.0, -3.0, -3.0)]

    def test_unary_minus(self, spark, num_graph):
        assert self._run(
            num_graph, "select ?s where { ?s :v ?x . FILTER(-?x > 1) }"
        ) == [("urn:b",)]


class TestTermBuiltins:
    """DATATYPE (§17.4.2.7: typed → datatype, plain → xsd:string,
    IRI → error/NULL), sameTerm (§17.4.1.8: tagged-term identity — a
    plain "5" is NOT the same term as "5"^^xsd:integer), the hash
    functions, and RFC 3986 ENCODE_FOR_URI."""

    @pytest.fixture(scope="class")
    def term_graph(self, spark):
        return T(
            spark,
            [
                lit("urn:a", ":v", "5", "xsd:integer"),
                lit("urn:b", ":v", "5"),
                iri("urn:c", ":v", "urn:x"),
                lit("urn:d", ":name", "hello world"),
            ],
        )

    def _run(self, m, q):
        from genegraph_spark.operators import sparql as S

        return sorted(tuple(r) for r in S.sparql(m, q).collect())

    def test_datatype(self, spark, term_graph):
        out = self._run(
            term_graph,
            "select ?s (DATATYPE(?x) AS ?dt) where "
            "{ ?s :v ?x . FILTER(isLiteral(?x)) }",
        )
        assert out == [("urn:a", "xsd:integer"), ("urn:b", "xsd:string")]

    def test_sameterm_is_tag_exact(self, spark, term_graph):
        # only the PLAIN "5" matches; the typed "5"^^xsd:integer and the
        # IRI do not (unlike `=`, which compares values)
        assert self._run(
            term_graph, 'select ?s where { ?s :v ?x . FILTER(sameTerm(?x, "5")) }'
        ) == [("urn:b",)]

    def test_hash_and_encode(self, spark, term_graph):
        assert self._run(
            term_graph, "select (MD5(?n) AS ?h) where { ?s :name ?n }"
        ) == [("5eb63bbbe01eeed093cb22bb8f5acdc3",)]
        assert self._run(
            term_graph,
            "select (ENCODE_FOR_URI(?n) AS ?e) where { ?s :name ?n }",
        ) == [("hello%20world",)]


class TestReviewFixes:
    """Regression pins for the session-5 review findings: XPath fn:round
    half-toward-positive-infinity, fractional BIND results not truncated
    by the integer re-tagging, exotic float pre-bound params (scientific
    repr), GROUP_CONCAT separator escape processing, and the three
    characters where Java form-encoding deviates from fn:encode-for-uri."""

    @pytest.fixture(scope="class")
    def fix_graph(self, spark):
        return T(
            spark,
            [
                lit("urn:a", ":v", "-2.5", "xsd:decimal"),
                lit("urn:b", ":v", "2.4", "xsd:decimal"),
                lit("urn:c", ":tag", "x"),
                lit("urn:c", ":tag", "y"),
                lit("urn:d", ":name", "~user* x"),
            ],
        )

    def _rows(self, m, q, **p):
        from genegraph_spark.operators import sparql as S

        return sorted(tuple(r) for r in S.sparql(m, q, **p).collect())

    def test_round_half_toward_positive_infinity(self, spark, fix_graph):
        assert self._rows(
            fix_graph, "select ?s (ROUND(?x) AS ?r) where { ?s :v ?x }"
        ) == [("urn:a", -2.0), ("urn:b", 2.0)]

    def test_bind_fraction_not_truncated(self, spark, fix_graph):
        assert self._rows(
            fix_graph, "select ?s ?a where { ?s :v ?x . BIND(ABS(?x) AS ?a) }"
        ) == [("urn:a", "2.5"), ("urn:b", "2.4")]

    def test_exotic_float_params(self, spark, fix_graph):
        q = "select ?s where { ?s :v ?x . FILTER(?x > ?t) }"
        assert self._rows(fix_graph, q, t=1e-07) == [("urn:b",)]
        assert self._rows(fix_graph, q, t=-1e16) == [("urn:a",), ("urn:b",)]

    def test_separator_escape(self, spark, fix_graph):
        assert self._rows(
            fix_graph,
            'select (GROUP_CONCAT(?t; separator="\\n") AS ?ts) '
            "where { ?s :tag ?t }",
        ) == [("x\ny",)]

    def test_encode_for_uri_unreserved_set(self, spark, fix_graph):
        assert self._rows(
            fix_graph,
            "select (ENCODE_FOR_URI(?n) AS ?e) where { ?s :name ?n }",
        ) == [("~user%2A%20x",)]
