"""Round-5 tests.

Covers: the CORRECTNESS-history-derived query ordering (VERDICT r4
next-steps #1) plus the round-5 operator additions.
"""
from __future__ import annotations

import glob
import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestVerdictOrdering:
    """queries() ordering is derived from CORRECTNESS_r*.json, not a
    hand-maintained list (a typo there silently burned window slots)."""

    @staticmethod
    def _latest_rounds():
        latest = {}
        for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
            rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
            for name, v in json.load(open(path)).items():
                if isinstance(v, dict):
                    latest[name] = rnd
        return latest

    def test_never_verified_sort_first_then_stalest(self):
        import __spark_entry__ as E

        names = list(E.queries())
        latest = self._latest_rounds()
        # effective sort key per name: -1 = never driver-verified
        keys = [latest.get(n, -1) for n in names]
        # a green history exists for this repo — the invariant is that the
        # key sequence is non-decreasing (never-verified first, then
        # ascending latest-verdict round)
        assert keys == sorted(keys), (
            "queries() ordering is not verdict-staleness ordered: "
            + str([(n, k) for n, k in zip(names, keys)][:20])
        )

    def test_every_query_has_oracle_or_is_documented(self, spark):
        import __spark_entry__ as E

        qs = set(E.queries())
        oracles = set(E.oracle_sql())
        # every oracle refers to a real query
        assert oracles <= qs, oracles - qs

    def test_ordering_function_ignores_unknown_history_names(self):
        import __spark_entry__ as E

        # names in history but absent from base must not crash or appear
        ordered = E._verdict_ordering(["kg_triples", "zz_brand_new"])
        assert set(ordered) == {"kg_triples", "zz_brand_new"}
        # never-verified name sorts before the historically-verified one
        assert ordered[0] == "zz_brand_new"


# ---------------------------------------------------------------------------
# ADVICE r4 regressions (sparql front-end + store lock)
# ---------------------------------------------------------------------------

TRIPLE_SCHEMA = (
    "graph string, subject string, predicate string, object string, "
    "object_is_iri boolean, object_datatype string"
)


def _T(spark, rows):
    return spark.createDataFrame(
        [("g", s, p, o, iri, dt) for s, p, o, iri, dt in rows], TRIPLE_SCHEMA
    )


class TestAdviceR4Sparql:
    def test_order_by_numeric_var_sorts_numerically(self, spark):
        """'10' must not sort before '9' (ADVICE r4, medium)."""
        from genegraph_spark.operators import sparql as S

        rows = [
            ("urn:a", ":score", "9", False, "xsd:integer"),
            ("urn:b", ":score", "10", False, "xsd:integer"),
            ("urn:c", ":score", "-2", False, "xsd:integer"),
            ("urn:d", ":score", "-10", False, "xsd:integer"),
        ]
        g = _T(spark, rows)
        out = S.sparql(
            g, "SELECT ?s ?v WHERE { ?s :score ?v } ORDER BY ?v"
        ).collect()
        assert [r.v for r in out] == ["-10", "-2", "9", "10"]
        out = S.sparql(
            g, "SELECT ?s ?v WHERE { ?s :score ?v } ORDER BY DESC(?v) LIMIT 2"
        ).collect()
        assert [r.v for r in out] == ["10", "9"]

    def test_order_by_mixed_numeric_and_lexical(self, spark):
        from genegraph_spark.operators import sparql as S

        rows = [
            ("urn:a", ":v", "banana", False, None),
            ("urn:b", ":v", "10", False, "xsd:integer"),
            ("urn:c", ":v", "apple", False, None),
            ("urn:d", ":v", "9", False, "xsd:integer"),
        ]
        out = S.sparql(
            _T(spark, rows), "SELECT ?v WHERE { ?s :v ?v } ORDER BY ?v"
        ).collect()
        # castable numerics first (numeric order), then lexical fallback
        assert [r.v for r in out] == ["9", "10", "apple", "banana"]

    def test_values_first_with_undef_then_bgp(self, spark):
        """A VALUES block with UNDEF cells appearing BEFORE the first BGP
        must not turn UNDEF into a NULL join key (ADVICE r4)."""
        from genegraph_spark.operators import sparql as S

        rows = [
            ("urn:a", ":name", "alice", False, None),
            ("urn:b", ":name", "bob", False, None),
            ("urn:c", ":name", "carol", False, None),
        ]
        out = S.sparql(
            _T(spark, rows),
            """SELECT ?s ?name WHERE {
                 VALUES (?s ?name) { (<urn:a> UNDEF) (UNDEF "carol") }
                 ?s :name ?name .
               }""",
        ).collect()
        got = sorted((r.s, r.name) for r in out)
        assert got == [("urn:a", "alice"), ("urn:c", "carol")]

    def test_optional_filter_on_outer_var(self, spark):
        """FILTER inside OPTIONAL referencing an outer-bound var is part
        of the left-join condition (SPARQL LeftJoin), not an inner filter
        compiling the var to NULL (ADVICE r4)."""
        from genegraph_spark.operators import sparql as S

        rows = [
            ("urn:a", ":age", "42", False, "xsd:integer"),
            ("urn:b", ":age", "7", False, "xsd:integer"),
            ("urn:a", ":nick", "al", False, None),
            ("urn:b", ":nick", "bobby", False, None),
        ]
        out = S.sparql(
            _T(spark, rows),
            """SELECT ?s ?age ?nick WHERE {
                 ?s :age ?age .
                 OPTIONAL { ?s :nick ?nick . FILTER(?age > 10) }
               }""",
        ).collect()
        got = {r.s: r.nick for r in out}
        # a (age 42): join filter passes → nick bound
        # b (age 7): match exists but fails the condition → survives UNBOUND
        assert got == {"urn:a": "al", "urn:b": None}
        assert len(out) == 2

    def test_construct_skips_literal_subjects(self, spark):
        """CONSTRUCT rows whose subject var is literal-bound are
        ill-formed RDF and must be skipped (Jena behavior, ADVICE r4)."""
        from genegraph_spark.operators import sparql as S

        rows = [
            ("urn:a", ":p", "urn:x", True, None),
            ("urn:b", ":p", "a literal", False, None),
        ]
        out = S.sparql(
            _T(spark, rows),
            "CONSTRUCT { ?o :seen ?s } WHERE { ?s :p ?o }",
        ).collect()
        # only the IRI-valued ?o makes a triple; the literal one is dropped
        assert len(out) == 1
        assert out[0].subject == "urn:x"


# ---------------------------------------------------------------------------
# Dosage + actionability resolver tiers (VERDICT r4 next-steps #4)
# ---------------------------------------------------------------------------


class TestDosageResolvers:
    @staticmethod
    def _events(spark):
        # (event_id, ts, user_id, event_type)
        rows = [
            (0, "2024-01-01 00:00:00", 1, "view"),    # gene 1, haplo, ord 0
            (2, "2024-01-02 00:00:00", 1, "view"),    # gene 1, haplo, ord 2 (newer)
            (3, "2024-01-03 00:00:00", 1, "click"),   # gene 1, triplo, ord 3
            (4, "2024-01-01 00:00:00", 2, "view"),    # gene 2, haplo only, ord 0
        ]
        return spark.createDataFrame(
            [(e, t, u, k) for e, t, u, k in rows],
            "event_id long, ts string, user_id long, event_type string",
        ).withColumn("ts", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("ts"))

    def test_report_card_pivots_latest_per_type(self, spark):
        from genegraph_spark.plans import curation as CUR

        out = {
            r.report: r
            for r in CUR.gene_dosage_reports(
                CUR.dosage_assertions(self._events(spark))
            ).collect()
        }
        g1 = out["urn:dosage:1"]
        # newest haplo assertion (event 2, ordinal 2) wins over event 0
        assert g1.has_haplo and g1.haplo_evidence_level == "moderate evidence"
        assert g1.has_triplo and g1.triplo_evidence_level == "sufficient evidence"
        assert str(g1.report_date).startswith("2024-01-03")
        g2 = out["urn:dosage:2"]
        assert g2.has_haplo and not g2.has_triplo
        assert g2.haplo_evidence_level == "no evidence"
        assert g2.triplo_evidence_level is None

    def test_actionability_statistics(self, spark):
        from genegraph_spark.plans import curation as CUR

        rows = [
            (1, "2024-01-01 00:00:00", 2, "view"),    # adult, v2.0.0, score 1
            (2, "2024-01-01 00:00:00", 2, "error"),   # adult, v3.0.0, UNSCORED
            (4, "2024-01-01 00:00:00", 4, "view"),    # adult, v2.0.0, score 4
            (6, "2024-01-01 00:00:00", 4, "view"),    # adult, v1.0.0, score 1
            (3, "2024-01-01 00:00:00", 1, "view"),    # pediatric, v1.0.0, score 3
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string"
        )
        out = {
            r.wg: r
            for r in CUR.actionability_statistics(
                CUR.actionability_reports(ev)
            ).collect()
        }
        adult = out["urn:wg:adult"]
        assert adult.n_reports == 4
        assert adult.n_updated_reports == 3  # versions 2.0.0, 3.0.0, 2.0.0
        assert adult.n_gene_disease_pairs == 2
        assert adult.n_scored_reports == 3  # the error event is unscored
        assert adult.score_counts == "1=2 4=1"
        ped = out["urn:wg:pediatric"]
        assert ped.n_reports == 1 and ped.score_counts == "3=1"


class TestRankedTextSearch:
    """algebra.text_search_ranked (VERDICT r4 next-steps #5): tf·idf
    over the tokenized inverted-index view."""

    TRIPLE_SCHEMA = (
        "graph string, subject string, predicate string, object string, "
        "object_is_iri boolean, object_datatype string"
    )

    def _t(self, spark, labels):
        rows = [
            ("g", s, ":label", text, False, None) for s, text in labels
        ]
        return spark.createDataFrame(rows, self.TRIPLE_SCHEMA)

    def test_multi_token_match_outranks_single(self, spark):
        from genegraph_spark.operators import algebra as A

        t = self._t(spark, [
            ("urn:a", "red widget"),       # both tokens
            ("urn:b", "red bolt"),         # one query token (red)
            ("urn:c", "blue widget"),      # one query token (widget)
            ("urn:d", "blue bolt"),        # none
            ("urn:e", "green gear"),       # none
        ])
        out = A.text_search_ranked(t, "red widget", limit=10).collect()
        assert [r.node for r in out][:1] == ["urn:a"]
        assert {r.node for r in out} == {"urn:a", "urn:b", "urn:c"}
        assert out[0].n_matched == 2
        assert [r.rank for r in out] == [1, 2, 3]
        # ranks are strictly ordered by (score desc, node asc)
        scores = [r.score for r in out]
        assert scores == sorted(scores, reverse=True)

    def test_bm25_matches_hand_computation(self, spark):
        import math

        from genegraph_spark.operators import algebra as A

        # N=3 docs; doc a: "red red widget" (dl=3), b: "red bolt" (dl=2),
        # c: "blue gear" (dl=2); query "red" → df=2, avgdl=7/3
        t = self._t(spark, [
            ("urn:a", "red red widget"),
            ("urn:b", "red bolt"),
            ("urn:c", "blue gear"),
        ])
        out = {r.node: r.score for r in
               A.text_search_ranked(t, "red", limit=10, scoring="bm25").collect()}
        k1, b, avgdl = 1.2, 0.75, 7 / 3
        idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))

        def bm25(tf, dl):
            return round(
                idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), 6
            )

        assert out == {"urn:a": bm25(2, 3), "urn:b": bm25(1, 2)}

    def test_bm25_length_normalization_demotes_long_docs(self, spark):
        from genegraph_spark.operators import algebra as A

        # same tf=1 for 'widget': the short doc must outrank the long one
        t = self._t(spark, [
            ("urn:short", "widget"),
            ("urn:long", "widget " + " ".join(f"w{i}" for i in range(30))),
        ])
        out = [
            r.node
            for r in A.text_search_ranked(
                t, "widget", limit=10, scoring="bm25"
            ).collect()
        ]
        assert out == ["urn:short", "urn:long"]
        # tf·idf (no length norm) ties them — ordering falls to the node
        tie = A.text_search_ranked(t, "widget", limit=10).collect()
        assert tie[0].score == tie[1].score

    def test_unknown_scoring_rejected(self, spark):
        from genegraph_spark.operators import algebra as A

        t = self._t(spark, [("urn:a", "x")])
        with pytest.raises(ValueError, match="scoring"):
            A.text_search_ranked(t, "x", scoring="cosine")

    def test_rare_token_scores_higher_idf(self, spark):
        from genegraph_spark.operators import algebra as A

        # 'rare' appears in 1 doc, 'common' in 4 → idf(rare) > idf(common)
        t = self._t(spark, [
            ("urn:r", "rare thing"),
            ("urn:c1", "common thing"),
            ("urn:c2", "common stuff"),
            ("urn:c3", "common item"),
            ("urn:c4", "common part"),
        ])
        out = {r.node: r.score for r in
               A.text_search_ranked(t, "rare common", limit=10).collect()}
        assert out["urn:r"] > out["urn:c1"]

    def test_tf_counts_repeated_tokens(self, spark):
        from genegraph_spark.operators import algebra as A

        t = self._t(spark, [
            ("urn:x", "spark spark spark"),
            ("urn:y", "spark flink"),
        ])
        out = {r.node: r for r in
               A.text_search_ranked(t, "spark", limit=10).collect()}
        assert out["urn:x"].score > out["urn:y"].score  # tf 3 vs 1


class TestEvidenceCards:
    """plans.resolvers.evidence_cards: bounded-depth has-evidence tree
    flatten + per-line fields + root contribution denormalization."""

    def test_tree_depths_and_fields(self, spark):
        from pyspark.sql import functions as F

        from genegraph_spark.plans import resolvers as R

        # 8 events → two chains of 4: roots el:0 and el:4
        rows = [
            (i, "2024-01-0%d 00:00:00" % (i + 1), i * 3, "view", 1.5 + i)
            for i in range(8)
        ]
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, value double",
        ).withColumn("ts", F.to_timestamp("ts"))
        cards = R.evidence_cards(R.evidence_model(ev)).collect()
        by = {(r.root, r.line): r for r in cards}
        assert len(cards) == 6  # 3 descendants per root
        r = by[("urn:el:0", "urn:el:2")]
        assert r.depth == 2
        assert r.score == 3.5  # el:2's own strength score
        assert r.description == "view"
        assert r.agent == "urn:aff:0"  # root el:0's contribution agent
        assert by[("urn:el:4", "urn:el:7")].depth == 3
        assert by[("urn:el:4", "urn:el:5")].agent == "urn:aff:2"  # user 12 % 10
        # roots never appear as lines; no cross-tree leakage
        assert ("urn:el:0", "urn:el:5") not in by


class TestCompatibleOptional:
    """Two mutually-exclusive OPTIONALs binding the SAME variable: the
    second must treat an unbound (NULL) left binding as compatible —
    the construct_functional_evidence.sparql ?gciSubType shape."""

    TRIPLE_SCHEMA = (
        "graph string, subject string, predicate string, object string, "
        "object_is_iri boolean, object_datatype string"
    )

    def test_same_var_bound_by_either_optional(self, spark):
        from genegraph_spark.operators import sparql as S

        rows = [
            ("g", "urn:a", ":kind", "urn:K1", True, None),
            ("g", "urn:a", ":x", "ax", False, None),
            ("g", "urn:b", ":kind", "urn:K2", True, None),
            ("g", "urn:b", ":y", "by", False, None),
            ("g", "urn:c", ":kind", "urn:K3", True, None),
        ]
        t = spark.createDataFrame(rows, self.TRIPLE_SCHEMA)
        out = S.sparql(
            t,
            """SELECT ?s ?sub WHERE {
                 ?s :kind ?k .
                 OPTIONAL { FILTER(?k = <urn:K1>) ?s :x ?v1 .
                            BIND("from-x" AS ?sub) }
                 OPTIONAL { FILTER(?k = <urn:K2>) ?s :y ?v2 .
                            BIND("from-y" AS ?sub) }
               }""",
        ).collect()
        got = {r.s: r.sub for r in out}
        assert got == {"urn:a": "from-x", "urn:b": "from-y", "urn:c": None}
        assert len(out) == 3

    def test_compatible_join_signature_split(self, spark):
        from pyspark.sql import functions as F

        from genegraph_spark.operators import algebra as A

        left = spark.createDataFrame(
            [("a", "k1"), ("b", None), ("c", "k9")], "s string, k string"
        )
        right = spark.createDataFrame(
            [("k1", "v1"), ("k2", "v2")], "k string, v string"
        )
        out = A.compatible_join(left, right, ["k"])
        got = {(r.s, r.k, r.v) for r in out.collect()}
        # bound-and-matching joins; unbound row is compatible with BOTH
        assert got == {
            ("a", "k1", "v1"),
            ("b", "k1", "v1"),
            ("b", "k2", "v2"),
        }
        # the bound signature runs as a hash equi-join; only the
        # all-unbound signature slice (semantically a cross product —
        # unbound matches every right row) may be cartesian
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]  # AQE prints both
        assert ("BroadcastHashJoin" in final) or ("SortMergeJoin" in final)
        assert final.count("CartesianProduct") <= 1


class TestClinsigNormalize:
    """sources.clinsig: the reference's CSV-backed clinical-significance
    normalization (transform/clinvar/common.clj:84-140)."""

    def test_known_unknown_and_case_folding(self, spark):
        import os

        import pytest as _pytest

        from genegraph_spark.sources import clinsig as CS

        if not os.path.isdir(CS.REF_RESOURCES):
            _pytest.skip("reference resources not present")
        normalized, classes = CS.clinsig_tables(spark)
        df = spark.createDataFrame(
            [("Pathogenic",), ("VOUS",), ("probable-pathogenic",),
             ("no such term",), ("Mutation",)],
            "clinsig string",
        )
        out = {
            r.clinsig: r
            for r in CS.normalize_clinsig(
                df, "clinsig", normalized, classes
            ).collect()
        }
        assert out["Pathogenic"].clinsig_code == "p"
        assert out["Pathogenic"].significance == 2
        assert out["Pathogenic"].prop_type == "path"
        assert out["VOUS"].clinsig_code == "vus"  # case-folded legacy term
        assert out["probable-pathogenic"].clinsig_code == "lp"
        assert out["Mutation"].clinsig_label == "Pathogenic"
        # unknown → the "other" class (normalize-clinvar-clinsig fallback)
        assert out["no such term"].clinsig_code == "oth"
        assert out["no such term"].significance == 1


class TestPackSequences:
    """textstats.pack_sequences: GPT-style concat-and-chunk packing —
    deterministic sharded order, closed-form chunk arithmetic."""

    def test_chunk_arithmetic_and_straddle(self, spark):
        from genegraph_spark.functions import textstats as TS

        docs = spark.createDataFrame(
            [(i, 600) for i in range(10)], "doc_id long, n_tokens long"
        )
        out = TS.pack_sequences(
            docs, max_len=1000, n_shards=1, salt="t"
        ).collect()
        rows = sorted(out, key=lambda r: r.start_offset + r.start_seq * 1000)
        # contiguous stream: each doc starts where the previous ended
        pos = 0
        for r in rows:
            assert r.start_seq == pos // 1000
            assert r.start_offset == pos % 1000
            assert r.end_seq == (pos + 600 - 1) // 1000
            pos += 600
        # 600-token docs in 1000-token chunks: 5 internal boundaries,
        # one (3000) lands exactly on a doc start → 4 straddlers
        straddlers = [r for r in rows if r.end_seq > r.start_seq]
        assert len(straddlers) == 4
        # zero padding waste by construction: 6000 tokens = 6 full chunks
        assert max(r.end_seq for r in rows) == 5

    def test_sharding_is_stable_and_partition_independent(self, spark):
        from genegraph_spark.functions import textstats as TS

        docs = spark.createDataFrame(
            [(i, 100 + i) for i in range(200)], "doc_id long, n_tokens long"
        )
        a = {
            r.doc_id: (r.shard, r.seq_id, r.start_offset)
            for r in TS.pack_sequences(docs, max_len=512, n_shards=8).collect()
        }
        b = {
            r.doc_id: (r.shard, r.seq_id, r.start_offset)
            for r in TS.pack_sequences(
                docs.repartition(13), max_len=512, n_shards=8
            ).collect()
        }
        assert a == b


class TestConditionTier:
    """condition.clj card (three-path last-curated-date + activities),
    mode_of_inheritance.clj closure filter, classification.clj value
    set."""

    @staticmethod
    def _events(spark):
        from pyspark.sql import functions as F

        rows = [
            # user 3 → disease urn:disease:3 (gv), gene 3 → dosage disease 3
            (1, "2024-01-01 00:00:00", 3, "click"),   # gv only (odd, %3!=0)
            (2, "2024-02-01 00:00:00", 3, "view"),    # gv + actionability
            (3, "2024-03-01 00:00:00", 3, "error"),   # gv + dosage
            # user 8 → gv/act disease 1; dosage gene 8 → disease 8%7=1
            (6, "2024-04-01 00:00:00", 8, "purchase"),  # gv + act + dosage
        ]
        return spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string"
        ).withColumn("ts", F.to_timestamp("ts"))

    def test_condition_cards_dates_and_flags(self, spark):
        from genegraph_spark.plans import curation as CUR

        out = {r.disease: r for r in CUR.condition_cards(self._events(spark)).collect()}
        d3 = out["urn:disease:3"]
        assert str(d3.last_curated_date).startswith("2024-03-01")
        assert str(d3.last_gene_validity_date).startswith("2024-03-01")
        assert str(d3.last_actionability_date).startswith("2024-02-01")
        assert str(d3.last_dosage_date).startswith("2024-03-01")
        assert (d3.has_gene_validity, d3.has_actionability, d3.has_dosage) == (
            True, True, True,
        )
        # disease 1: one event contributes all three legs
        d1 = out["urn:disease:1"]
        assert d1.n_curations == 3 and d1.has_dosage

    def test_modes_of_inheritance_closure_excludes_error(self, spark):
        from genegraph_spark import fixtures
        from genegraph_spark.plans import curation as CUR

        a = CUR.curation_assertions(self._events(spark))
        out = sorted(
            r.moi
            for r in CUR.modes_of_inheritance(
                a, fixtures.moi_hierarchy_triples(spark)
            ).collect()
        )
        # error is outside the urn:moi:root subtree; the others are in
        assert out == ["urn:moi:click", "urn:moi:purchase", "urn:moi:view"]

    def test_classifications_value_set(self, spark):
        from genegraph_spark.plans import curation as CUR

        out = {
            r.classification: r.n_assertions
            for r in CUR.classifications(
                CUR.curation_assertions(self._events(spark))
            ).collect()
        }
        # event ids 1,2,3,6 → Strong, Moderate, Limited, Definitive
        assert out == {"Strong": 1, "Moderate": 1, "Limited": 1, "Definitive": 1}


class TestUrlNormalize:
    """URL canonicalization for web-corpus dedup (textstats.normalize_url)."""

    def _norm(self, spark, urls):
        from pyspark.sql import functions as F

        from genegraph_spark.functions import textstats as TS

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return [
            r.c for r in df.select(TS.normalize_url(F.col("url")).alias("c")).collect()
        ]

    def test_canonical_forms(self, spark):
        got = self._norm(
            spark,
            [
                "HTTPS://EX1.Example.ORG:443/p/9/?utm_source=tw&b=2&a=1#frag",
                "http://ex1.example.org:80/p/9",
                "https://ex1.example.org:8080/p/9",  # non-default port kept
                "http://ex1.example.org:443/p/9",    # 443 on http kept
                "https://ex1.example.org",           # empty path -> /
                "https://ex1.example.org/p/9?b=2&a=1&fbclid=zz",
                "https://ex1.example.org/?gclid=1&utm_medium=m",
            ],
        )
        assert got == [
            "https://ex1.example.org/p/9?a=1&b=2",
            "http://ex1.example.org/p/9",
            "https://ex1.example.org:8080/p/9",
            "http://ex1.example.org:443/p/9",
            "https://ex1.example.org/",
            "https://ex1.example.org/p/9?a=1&b=2",
            "https://ex1.example.org/",
        ]

    def test_duplicate_groups(self, spark):
        from genegraph_spark.functions import textstats as TS

        df = spark.createDataFrame(
            [
                ("HTTPS://A.com/x?utm_source=1",),
                ("https://a.com/x",),
                ("https://a.com/y",),
            ],
            "url string",
        )
        out = {
            r.canonical_url: (r.n_urls, r.survivor_url)
            for r in TS.url_duplicate_groups(df).collect()
        }
        assert out["https://a.com/x"] == (2, "HTTPS://A.com/x?utm_source=1")
        assert out["https://a.com/y"] == (1, "https://a.com/y")


class TestVariationExpressions:
    """ClinVar prioritized canonical-expression selection
    (variation.clj:36-106) — priority order, first-of-duplicate-assembly,
    accession-matched locations."""

    def _run(self, spark, content, vid=7):
        import json

        from genegraph_spark.sources import clinvar_variation as CV

        df = spark.createDataFrame(
            [(vid, json.dumps(content))], "variation_id long, content string"
        )
        return CV.prioritized_expressions(df).collect()

    def test_priority_and_locations(self, spark):
        content = {
            "CanonicalSPDI": {"$": "NC_000001.11:100:A:T"},
            "HGVSlist": {
                "HGVS": [
                    {"NucleotideExpression": {"@Assembly": "GRCh37",
                                              "Expression": {"$": "NC_000001.10:g.90A>T"}}},
                    {"NucleotideExpression": {"@Assembly": "GRCh38",
                                              "Expression": {"$": "NC_000001.11:g.101A>T"}}},
                ]
            },
            "Location": {
                "SequenceLocation": [
                    {"@Accession": "NC_000001.11", "@start": "100", "@stop": "101",
                     "@variantLength": "1"},
                    {"@Accession": "NC_000001.10", "@start": "90", "@stop": "91"},
                ]
            },
        }
        rows = self._run(spark, content)
        got = [(r.rank, r.expr_type, r.label, r.accession, r.loc_start, r.variant_length)
               for r in sorted(rows, key=lambda r: r.rank)]
        assert got == [
            (1, "spdi", "SPDI", "NC_000001.11", "100", 1),
            (2, "hgvs", "GRCh38", "NC_000001.11", "100", 1),
            (3, "hgvs", "GRCh37", "NC_000001.10", "90", None),
            (4, "text", "Text", None, None, None),
        ]
        assert rows[-1].expr == "clinvar:7" or any(r.expr == "clinvar:7" for r in rows)

    def test_duplicate_assembly_takes_first(self, spark):
        content = {
            "HGVSlist": {
                "HGVS": [
                    {"NucleotideExpression": {"@Assembly": "GRCh38",
                                              "Expression": {"$": "NC_1.1:g.1A>T"}}},
                    {"NucleotideExpression": {"@Assembly": "GRCh38",
                                              "Expression": {"$": "NC_1.1:g.2A>T"}}},
                ]
            },
        }
        rows = {r.rank: r for r in self._run(spark, content)}
        assert set(rows) == {2, 4}
        assert rows[2].expr == "NC_1.1:g.1A>T"
        # no Location block → null location fields, accession still parsed
        assert rows[2].accession == "NC_1.1" and rows[2].loc_start is None

    def test_text_fallback_only(self, spark):
        rows = self._run(spark, {}, vid=42)
        assert [(r.rank, r.expr) for r in rows] == [(4, "clinvar:42")]


def test_url_normalize_idempotent_property(spark):
    """Property: normalize is IDEMPOTENT — normalize(normalize(u)) ==
    normalize(u) for any url assembled from adversarial components
    (mixed-case schemes/hosts, default + junk ports, tracking + real
    params in any order, fragments, trailing slashes). One Spark round
    over a hypothesis-generated batch (running Spark inside @given would
    re-plan per example)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from genegraph_spark.functions import textstats as TS

    urls = []
    param = st.sampled_from(
        ["a=1", "b=2", "utm_source=x", "utm_medium=y", "fbclid=z", "gclid=1", "c=3&d=4"]
    )

    @settings(max_examples=60, deadline=None)
    @given(
        scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS", "Ftp"]),
        host=st.sampled_from(["Ex.ORG", "a.b.example.com", "X1.net"]),
        port=st.sampled_from(["", ":80", ":443", ":8080"]),
        path=st.sampled_from(["", "/", "/p", "/p/", "/a/b.html", "//x/"]),
        params=st.lists(param, max_size=4),
        frag=st.sampled_from(["", "#f", "#a/b?c=1"]),
    )
    def collect(scheme, host, port, path, params, frag):
        q = "?" + "&".join(params) if params else ""
        urls.append(f"{scheme}://{host}{port}{path}{q}{frag}")

    collect()

    df = spark.createDataFrame([(u,) for u in set(urls)], "url string")
    out = df.select(
        TS.normalize_url(F.col("url")).alias("once")
    ).select(
        F.col("once"), TS.normalize_url(F.col("once")).alias("twice")
    )
    bad = out.where(F.col("once") != F.col("twice")).collect()
    assert not bad, bad[:5]


def _full_events(spark, rows):
    """rows: (event_id, ts, user_id, event_type, value, props)."""
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))


class TestResourceCards:
    """resource.clj:14-37 — label precedence, display-label precedence,
    description, direct super/subclass counts, computed for every
    resource in one grouped pass."""

    def _cards(self, spark, uids):
        from genegraph_spark.plans import resolvers as R

        ev = _full_events(
            spark,
            [(i, "2024-01-01 00:00:00", u, "view", 1.0, '{"k": 0}')
             for i, u in enumerate(uids)],
        )
        return {r.resource: r for r in R.resource_cards(R.resource_model(ev)).collect()}

    def test_label_precedence(self, spark):
        out = self._cards(spark, [0, 1, 2, 3, 4, 5])
        # uid 0: pref+rdfs+name present → prefLabel wins
        assert out["urn:res:0"].label == "Pref 0"
        # uid 1: only foaf:name (odd, not %3) → name fallback
        assert out["urn:res:1"].label == "Name 1"
        # uid 2: rdfs:label but no prefLabel → rdfs wins
        assert out["urn:res:2"].label == "Rdfs 2"
        # uid 3: prefLabel (3%3=0) wins over name
        assert out["urn:res:3"].label == "Pref 3"

    def test_display_label_precedence_and_fields(self, spark):
        out = self._cards(spark, [0, 1, 2, 4, 5])
        # display label present only for %5 == 0
        assert out["urn:res:0"].website_display_label == "Display 0"
        assert out["urn:res:5"].website_display_label == "Display 5"
        # without display: falls through the same chain as label
        assert out["urn:res:2"].website_display_label == "Rdfs 2"
        assert out["urn:res:1"].alternative_label == "Alt 1"
        assert out["urn:res:2"].alternative_label is None
        assert out["urn:res:4"].description == "Desc 4"

    def test_subclass_counts(self, spark):
        out = self._cards(spark, [0, 1, 2, 3, 4, 5])
        # halving hierarchy: children of res:1 are uids 2 and 3
        assert out["urn:res:1"].n_subclasses == 2
        assert out["urn:res:2"].n_subclasses == 2  # uids 4, 5
        assert out["urn:res:0"].n_superclasses == 0  # root
        assert out["urn:res:3"].n_superclasses == 1
        assert out["urn:res:5"].n_subclasses == 0


class TestGeneFeatures:
    """gene_feature.clj — comma-joined, deterministically sorted symbol
    collections + band arithmetic in one grouped pass."""

    def test_card_fields(self, spark):
        from genegraph_spark.plans import resolvers as R

        ev = _full_events(
            spark,
            [
                (0, "2024-01-01 00:00:00", 2, "view", 1.0, "{}"),
                (1, "2024-01-01 00:00:00", 2, "click", 1.0, "{}"),
                (4, "2024-01-01 00:00:00", 2, "view", 1.0, "{}"),
                (2, "2024-01-01 00:00:00", 25, "signup", 1.0, "{}"),
            ],
        )
        out = {r.gene: r for r in R.gene_features(ev).collect()}
        g2 = out["urn:gene:2"]
        assert g2.hgnc_id == "HGNC:1002"
        assert g2.hgnc_symbol == "GENE2"
        # events 0,1,4 → v0, v1, v1 → distinct sorted v0, v1
        assert g2.previous_symbols == "GENE2v0, GENE2v1"
        assert g2.alias_symbols == "G2-click, G2-view"
        assert g2.chromosomal_band == "3p3"  # 2%22+1=3, even→p, 2%3+1=3
        g5 = out["urn:gene:5"]  # user 25 % 20
        assert g5.previous_symbols == "GENE5v2"
        assert g5.chromosomal_band == "6q3"


class TestDrugs:
    """drug.clj:19-36 — list + optional text filter + folded-in count."""

    def _events(self, spark):
        rows = [
            (i, "2024-01-01 00:00:00", u, t, 1.0, "{}")
            for i, (u, t) in enumerate(
                [(0, "view"), (0, "click"), (1, "view"), (3, "view"),
                 (4, "view"), (4, "view")]
            )
        ]
        return _full_events(spark, rows)

    def test_unfiltered_list(self, spark):
        from genegraph_spark.plans import resolvers as R

        out = {r.drug: r for r in R.drugs(self._events(spark)).collect()}
        assert out["urn:drug:0"].label == "Drug 0 ophthalmic"
        assert out["urn:drug:0"].n_aliases == 2
        assert out["urn:drug:1"].label == "Drug 1 oral"
        assert out["urn:drug:4"].n_aliases == 1
        assert all(r.total == 4 for r in out.values())

    def test_text_filter_and_count(self, spark):
        from genegraph_spark.plans import resolvers as R

        out = R.drugs(self._events(spark), text="ORAL").collect()
        # only d % 3 == 1 labels contain 'oral' ('ophthalmic' does not)
        assert sorted(r.drug for r in out) == ["urn:drug:1", "urn:drug:4"]
        assert all(r.total == 2 for r in out)


class TestGeneValidityReports:
    """gene_validity.clj report cards: enum classification, ApproverRole
    attribution, trailing-uuid report id, animal-model tri-state."""

    def test_fields(self, spark):
        import hashlib
        import re as _re

        from genegraph_spark.plans import resolvers as R

        ev = _full_events(
            spark,
            [
                (0, "2024-01-01 00:00:01", 3, "purchase", 1.0, '{"k": 0}'),
                (1, "2024-01-02 00:00:02", 10, "error", 1.0, '{"k": 1}'),
                (2, "2024-01-03 00:00:03", 5, "view", 1.0, '{"k": 2}'),
            ],
        )
        out = {r.assertion: r for r in R.gene_validity_reports(ev).collect()}
        a0 = out["urn:curation:0"]
        assert a0.classification == "DEFINITIVE"
        assert a0.gene == "urn:gene:3" and a0.disease == "urn:disease:3"
        assert a0.attributed_to == "urn:aff:3"  # even event → ApproverRole
        assert a0.animal_model is True
        a1 = out["urn:curation:1"]
        assert a1.classification == "REFUTED"
        assert a1.attributed_to is None  # odd event → no approver
        assert a1.animal_model is False
        a2 = out["urn:curation:2"]
        assert a2.classification == "STRONG"
        assert a2.animal_model is None
        # report id: the trailing-uuid regex over the proposition IRI
        # (gene_validity.clj:120-126) recovers the md5-derived uuid
        for eid, r in [(0, a0), (1, a1), (2, a2)]:
            h = hashlib.md5(str(eid).encode()).hexdigest()
            uuid = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
            assert r.report_id == uuid
            assert _re.fullmatch(
                r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}", r.report_id
            )
        assert a0.report_date == "2024-01-01 00:00:01.000000"


class TestRecursiveEvidence:
    """assertion.clj:22-27 / evidence_item.clj:9-14 — the recursive
    evidence-line query executed VERBATIM (alternation path +, class
    tier via a/sub-class-of*), with the reference's pre-bound
    ?curation parameter."""

    VERBATIM = """select ?evidence_line where {
    ?curation ( :sepio/has-evidence-line | :sepio/has-evidence-item ) + ?evidence_line .
    ?evidence_line ( a / :rdfs/sub-class-of * ) :sepio/EvidenceLine .
    ?evidence_line ( a / :rdfs/sub-class-of * ) ?class }"""

    def _model(self, spark, n_blocks=2):
        from genegraph_spark.plans import resolvers as R

        ev = _full_events(
            spark,
            [(i * 5, "2024-01-01 00:00:00", 1, "view", 1.0, "{}")
             for i in range(n_blocks)],
        )
        return R.recursive_evidence_model(ev)

    def test_prebound_curation(self, spark):
        from genegraph_spark.operators import sparql as S

        m = self._model(spark)
        out = [
            r.evidence_line
            for r in S.sparql(m, self.VERBATIM, curation=("iri", "urn:as:0")).collect()
        ]
        # el1 has 2 class bindings (Overall + its superclass); el2 one
        # class but is reached only through el1 from as:0 → 1 row here
        assert sorted(out) == ["urn:el1:0", "urn:el1:0", "urn:el2:0"]

    def test_open_curation_multiplicities(self, spark):
        from genegraph_spark.operators import sparql as S

        m = self._model(spark, n_blocks=3)
        out = [r.evidence_line for r in S.sparql(m, self.VERBATIM).collect()]
        # per block: el1 ×2 (one ancestor × two classes),
        # el2 ×2 (two ancestors × one class); items excluded by the tier
        assert len(out) == 12
        assert sorted(set(out)) == sorted(
            [f"urn:el{j}:{b}" for j in (1, 2) for b in range(3)]
        )
        assert not any("it" in x for x in out)
        for b in range(3):
            assert out.count(f"urn:el1:{b}") == 2
            assert out.count(f"urn:el2:{b}") == 2


class TestUsersGroups:
    """user.clj:6-35 + group.clj — mbox lookup, mailto email regex,
    member-of collection, admin-role membership check; zero-shuffle
    projection (plan-asserted)."""

    def _users(self, spark, custkeys):
        from genegraph_spark.plans import curation as CUR

        c = spark.createDataFrame(
            [(k, f"Customer#{k}", k % 25, 0.0, seg)
             for k, seg in custkeys],
            "c_custkey long, c_name string, c_nationkey long, "
            "c_acctbal double, c_mktsegment string",
        )
        return {r.user_iri: r for r in CUR.users_groups(c).collect()}

    def test_email_regex_and_membership(self, spark):
        out = self._users(spark, [(1, "BUILDING"), (50, "MACHINERY")])
        u1 = out["urn:user:1"]
        # the user.clj:16-18 mailto:(.*) extraction
        assert u1.email == "user1@clinicalgenome.org"
        assert u1.member_of == "urn:group:building"
        assert u1.is_admin is False
        # custkey % 50 == 0 → also a member of the admin group, and the
        # membership string is sorted for determinism
        u50 = out["urn:user:50"]
        assert u50.member_of == "urn:group:genegraph-admin,urn:group:machinery"
        assert u50.is_admin is True

    def test_zero_shuffle_plan(self, spark):
        from genegraph_spark.plans import curation as CUR

        c = spark.createDataFrame(
            [(1, "x", 1, 0.0, "SEG")],
            "c_custkey long, c_name string, c_nationkey long, "
            "c_acctbal double, c_mktsegment string",
        )
        plan = CUR.users_groups(c)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # pure projection, no shuffle


class TestDosageJira:
    """The JIRA → gene-dosage transform (transform/dosage_jira.clj →
    sources/dosage_jira.py): spec gate, instant fixup, AR scope switch,
    benign predicate, object COALESCE chain, region locations,
    finding gating — hand-built payloads, hand-derived triples."""

    CG = "http://dx.clinicalgenome.org/entities/"

    def _triples(self, spark, issues, omim=None):
        import json

        from genegraph_spark.sources import dosage_jira as DJ

        df = spark.createDataFrame(
            [(json.dumps(i),) for i in issues], "value string"
        )
        out = {}
        for r in DJ.dosage_jira_triples(
            DJ.parse_dosage_jira(df), omim or {}
        ).collect():
            out.setdefault(r.subject, {}).setdefault(r.predicate, set()).add(
                (r.object, r.object_is_iri)
            )
        return out

    @staticmethod
    def _issue(key="ISCA-1", **fields):
        base = {
            "status": {"name": "Closed"},
            "resolution": {"name": "Complete"},
            "resolutiondate": "2018-03-27T09:55:41.000-0400",
            "updated": "2018-03-28T10:00:00.120-0400",
        }
        base.update(fields)
        return {"key": key, "fields": base}

    def test_spec_gate_and_instants(self, spark):
        """Open/incomplete/undated issues produce NO triples; the JIRA
        offset-colon flaw is repaired and instants print UTC the way
        java.time.Instant does (millis only when nonzero)."""
        out = self._triples(spark, [
            self._issue(key="ISCA-BAD1", status={"name": "Open"}),
            self._issue(key="ISCA-BAD2", resolution={"name": "Duplicate"}),
            {"key": "ISCA-BAD3", "fields": {
                "status": {"name": "Closed"},
                "resolution": {"name": "Complete"}}},
            self._issue(customfield_10157="https://g/1"),
        ])
        subs = set(out)
        assert not any("BAD" in s for s in subs)
        report = self.CG + "ISCA-1-2018-03-28T14:00:00.120Z"  # -0400 → UTC
        contrib = self.CG + "contribution-ISCA-1-2018-03-28T14:00:00.120Z"
        assert out[report][":sepio/qualified-contribution"] == {(contrib, True)}
        # zero millis → seconds-precision instant (Instant.toString)
        assert out[contrib][":sepio/activity-date"] == {
            ("2018-03-27T13:55:41Z", False)
        }
        assert out[report][":iao/is-about"] == {("https://g/1", True)}

    def test_scope_vs_strength_and_benign(self, spark):
        """Haplo '30:' → PropositionScopeAssertion; triplo '40:' →
        EvidenceLevelAssertion with the benign predicate and the
        sufficient-evidence object (the reference's deliberate map)."""
        ar = "30: Gene associated with autosomal recessive phenotype"
        out = self._triples(spark, [
            self._issue(
                customfield_10157="https://g/1",
                customfield_10165={"value": ar},
                customfield_10166={"value": "40: Dosage sensitivity unlikely"},
            )
        ])
        a1 = self.CG + "ISCA-1x1-2018-03-28T14:00:00.120Z"
        assert (":sepio/PropositionScopeAssertion", True) in out[a1][
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"]
        assert out[a1][":sepio/has-object"] == {
            (":sepio/GeneAssociatedWithAutosomalRecessivePhenotype", True)}
        a3 = self.CG + "ISCA-1x3-2018-03-28T14:00:00.120Z"
        assert (":sepio/EvidenceLevelAssertion", True) in out[a3][
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"]
        assert out[a3][":sepio/has-object"] == {
            (":sepio/DosageSufficientEvidence", True)}
        p3 = self.CG + "ISCA-1x3"
        assert out[p3][":sepio/has-predicate"] == {
            (":geno/BenignForCondition", True)}

    def test_object_chain(self, spark):
        """MONDO-bearing phenotype > OMIM equivalence > legacy MONDO >
        MONDO_0000001 root."""
        issues = [
            self._issue(key="ISCA-A", customfield_10157="https://g/1",
                        customfield_10165={"value": "3"},
                        customfield_10200="MONDO:0000123"),
            self._issue(key="ISCA-B", customfield_10157="https://g/1",
                        customfield_10165={"value": "3"},
                        customfield_10200="123456",
                        customfield_11631="old MONDO:0040003"),
            self._issue(key="ISCA-C", customfield_10157="https://g/1",
                        customfield_10165={"value": "3"},
                        customfield_10200="999999",
                        customfield_11631="old MONDO:0040003"),
            self._issue(key="ISCA-D", customfield_10157="https://g/1",
                        customfield_10165={"value": "3"}),
        ]
        out = self._triples(spark, issues, omim={"OMIM:123456": "MONDO:0024086"})
        get = lambda k: out[self.CG + k + "x1"][":sepio/has-object"]
        assert get("ISCA-A") == {("MONDO:0000123", True)}
        assert get("ISCA-B") == {("MONDO:0024086", True)}   # OMIM mapped
        assert get("ISCA-C") == {("MONDO:0040003", True)}   # legacy fallback
        assert get("ISCA-D") == {
            ("http://purl.obolibrary.org/obo/MONDO_0000001", True)}

    def test_region_locations_and_findings(self, spark):
        """No gene → region topic with dual-build locations (comma-
        grouped coordinates stripped, chr prefix cut, RefSeq accession
        resolved per build); findings emit only for bound pmids and the
        pubmed IRI keeps only the digits."""
        out = self._triples(spark, [
            self._issue(
                customfield_10202="17p13.3 region",
                customfield_10160="chr17:1,234-5,678",
                customfield_10532="chrX:2,000-9,000",
                customfield_10165={"value": "2"},
                customfield_10183="PMID: 31001",
                customfield_10185=None,
            )
        ])
        region = self.CG + "region-ISCA-1"
        assert out[region][":rdfs/label"] == {("17p13.3 region", False)}
        locs = out[region][":geno/has-location"]
        assert len(locs) == 2
        ref_seqs = set()
        starts = set()
        for loc, _ in locs:
            ref_seqs |= {o for o, _ in out[loc][":geno/has-reference-sequence"]}
            (iv, _), = out[loc][":geno/has-interval"]
            starts |= {o for o, _ in out[iv][":geno/start-position"]}
        assert ref_seqs == {
            "https://www.ncbi.nlm.nih.gov/nuccore/NC_000017.10",  # 37 chr17
            "https://www.ncbi.nlm.nih.gov/nuccore/NC_000023.11",  # 38 chrX
        }
        assert starts == {"1234", "2000"}
        a1 = self.CG + "ISCA-1x1-2018-03-28T14:00:00.120Z"
        evs = out[a1].get(":sepio/has-evidence", set())
        assert len(evs) == 1  # only the bound pair
        (fb, _), = evs
        assert out[fb][":dc/source"] == {
            ("https://pubmed.ncbi.nlm.nih.gov/31001", True)}
        assert out[fb][":dc/description"] == {("", False)}
        # the variant subject locates at the REGION for region curations
        p1 = self.CG + "ISCA-1x1"
        (vb, _), = out[p1][":sepio/has-subject"]
        assert out[vb][":geno/has-location"] == {(region, True)}
        assert out[vb][":geno/has-member-count"] == {("1", False)}


class TestActionability:
    """The actionability document transform (transform/actionability.clj
    → sources/actionability.py): spec gate, assertion fallback chain,
    preferred-condition marker, unresolved-OMIM skip, distinct totals."""

    AC = "https://actionability.clinicalgenome.org/ac/"

    def _triples(self, spark, docs):
        import json

        from genegraph_spark import fixtures
        from genegraph_spark.sources import actionability as A

        df = spark.createDataFrame(
            [(json.dumps(d),) for d in docs], "value string"
        )
        gm = spark.createDataFrame(
            [("HGNC:7", "https://g/7", "ABC7")],
            "gene_curie string, gene_iri string, symbol string",
        )
        cm = spark.createDataFrame(
            [("OMIM:100", "http://purl.obolibrary.org/obo/MONDO_0000100",
              "Cond 100"),
             ("MONDO:0000200", "http://purl.obolibrary.org/obo/MONDO_0000200",
              "Cond 200")],
            "curie string, mondo_iri string, label string",
        )
        out = {}
        for r in A.actionability_triples(
            A.parse_actionability(df), gm, cm
        ).collect():
            out.setdefault(r.graph, {}).setdefault(
                (r.subject, r.predicate), set()
            ).add(r.object)
        return out

    @staticmethod
    def _doc(iri, **kw):
        base = {
            "iri": iri,
            "statusFlag": "Released",
            "title": "t",
            "curationVersion": "1",
            "scoreDetails": "sd",
            "dateISO8601": "2021-01-01T00:00:00Z",
            "searchDates": ["2020-01-01"],
            "affiliations": [{"id": "Adult AWG", "name": "n"}],
            "conditions": [
                {"iri": "http://purl.obolibrary.org/obo/MONDO_0000200",
                 "curie": "MONDO:0000200", "gene": "HGNC:7"}
            ],
        }
        base.update(kw)
        return base

    def test_spec_gate(self, spark):
        out = self._triples(spark, [
            self._doc(self.AC + "bad1", statusFlag="In Progress"),
            self._doc(self.AC + "bad2",
                      conditions=[{"iri": "urn:x", "curie": "c",
                                   "gene": "HGNC:7"}]),
            self._doc(self.AC + "bad3", conditions=[
                {"iri": "http://purl.obolibrary.org/obo/MONDO_0000200",
                 "curie": "MONDO:0000200", "gene": "not-hgnc"}]),
            self._doc(self.AC + "ok"),
        ])
        assert set(out) == {self.AC + "ok"}

    def test_fallback_chain_and_preferred(self, spark):
        mondo = "http://purl.obolibrary.org/obo/MONDO_0000200"
        d_pending = self._doc(self.AC + "p")
        d_failed = self._doc(self.AC + "f", earlyRuleOutStatus="Failed")
        d_explicit = self._doc(
            self.AC + "x",
            assertions=[{"iri": mondo, "curie": "MONDO:0000200",
                         "gene": "HGNC:7",
                         "assertion": "Strong Actionability"}],
            preferred_conditions=[{"iri": mondo, "gene": "HGNC:7"}],
        )
        out = self._triples(spark, [d_pending, d_failed, d_explicit])

        def preds(g):
            return {
                o for (s, p), objs in out[g].items()
                if p == ":sepio/has-predicate" for o in objs
                if "SEPIO_00035" in o
            }
        assert preds(self.AC + "p") == {
            "http://purl.obolibrary.org/obo/SEPIO_0003541"}  # pending
        assert preds(self.AC + "f") == {
            "http://purl.obolibrary.org/obo/SEPIO_0003539"}  # insufficient
        assert preds(self.AC + "x") == {
            "http://purl.obolibrary.org/obo/SEPIO_0003536"}  # strong
        # preferred marker only on the explicit doc
        types = {
            o for g in out for (s, p), objs in out[g].items()
            if p.endswith("#type") for o in objs
        }
        assert ":cg/ActionabilityAssertionForPreferredCondition" in types
        x_types = {
            o for (s, p), objs in out[self.AC + "x"].items()
            if p.endswith("#type") for o in objs
        }
        p_types = {
            o for (s, p), objs in out[self.AC + "p"].items()
            if p.endswith("#type") for o in objs
        }
        assert ":cg/ActionabilityAssertionForPreferredCondition" in x_types
        assert ":cg/ActionabilityAssertionForPreferredCondition" not in p_types

    def test_omim_resolution_and_totals(self, spark):
        """OMIM curie resolving through the equivalence map gets a
        genetic-condition node; an unmapped OMIM does NOT (but its
        assertion still emits with the raw OMIM PURL object); totals
        flatten 4 levels, normalize digits, and dedupe."""
        omim_ok = self._doc(
            self.AC + "a",
            conditions=[{"iri": "http://purl.obolibrary.org/obo/OMIM_100",
                         "curie": "OMIM:100", "gene": "HGNC:7"}],
            scores=[{"ScoringGroups": [{"Interventions": [{"ScoringGroups": [
                {"Total": ["Outcome: 7 points", "07", "no digits"]}]}]}]}],
        )
        omim_miss = self._doc(
            self.AC + "b",
            conditions=[{"iri": "http://purl.obolibrary.org/obo/OMIM_999",
                         "curie": "OMIM:999", "gene": "HGNC:7"}],
        )
        out = self._triples(spark, [omim_ok, omim_miss])
        a = out[self.AC + "a"]
        gcs = a.get((self.AC + "a", ":sepio/is-about-condition"))
        assert gcs and len(gcs) == 1
        (gc,) = gcs
        assert a[(gc, ":rdfs/sub-class-of")] == {
            "http://purl.obolibrary.org/obo/MONDO_0000100"}
        assert a[(gc, ":rdfs/label")] == {"Cond 100, ABC7"}
        totals = a[(self.AC + "a", ":cg/has-total-actionability-score")]
        assert totals == {"7", "0"}  # "07"→7 deduped with 7; no-digit→0
        b = out[self.AC + "b"]
        assert (self.AC + "b", ":sepio/is-about-condition") not in b
        objs = {
            o for (s, p), objs in b.items()
            if p == ":sepio/has-object" for o in objs
        }
        assert "http://purl.obolibrary.org/obo/OMIM_999" in objs


class TestClinvarStatements:
    """The ClinVar clinical-assertion → GA4GH statement assembly
    (clinical_assertion.clj → sources/clinvar_statements.py): as-of
    trait-set resolution vs deletes, ConditionNotFound sentinel,
    xref CURIE normalization, single-member compaction."""

    CG = "http://dataexchange.clinicalgenome.org/terms/"

    def test_asof_delete_and_sentinel(self, spark):
        import json
        import re

        from genegraph_spark.sources import clinvar_statements as CS
        from genegraph_spark.sources.clinsig import clinsig_tables

        def msg(**kw):
            return (json.dumps(kw),)

        ts = CS.parse_trait_set_messages(spark.createDataFrame([
            msg(release_date="2024-01-01", event_type="create",
                content={"id": "9", "type": "TraitSet", "trait_ids": ["1"]}),
            msg(release_date="2024-02-01", event_type="create",
                content={"id": "9", "type": "TraitSet",
                         "trait_ids": ["1", "2"]}),
            # a delete version: per the reference as-of lookup
            # (clinical_assertion.clj:610-620) the TOMBSTONE wins when
            # it is the latest version <= release_date
            msg(release_date="2024-03-01", event_type="delete",
                content={"id": "9", "type": "TraitSet", "trait_ids": []}),
        ], "value string"))
        n, c = clinsig_tables(spark)
        asserts = spark.createDataFrame([
            # before any version → sentinel
            msg(release_date="2023-12-01", event_type="create",
                content={"id": "SCV1", "variation_id": "5",
                         "trait_set_id": "9",
                         "interpretation_description": "Pathogenic"}),
            # between v1 and v2 → v1 (single member → compact)
            msg(release_date="2024-01-15", event_type="create",
                content={"id": "SCV2", "variation_id": "5",
                         "trait_set_id": "9",
                         "interpretation_description": "Pathogenic"}),
            # after the delete → the tombstone itself (0 members)
            msg(release_date="2024-04-01", event_type="create",
                content={"id": "SCV3", "variation_id": "5",
                         "trait_set_id": "9",
                         "interpretation_description": "Pathogenic"}),
            # no trait set at all → sentinel
            msg(release_date="2024-04-01", event_type="create",
                content={"id": "SCV4", "variation_id": "5",
                         "interpretation_description": "Pathogenic"}),
        ], "value string")
        out = {
            re.search(r"(SCV\d+)\.", r.id).group(1): r
            for r in CS.clinvar_statements(asserts, ts, n, c).collect()
        }
        # ids use the cgterms SCV_Statement_ scheme (clj:707-709)
        assert all(
            r.id.startswith(self.CG + "SCV_Statement_SCV")
            for r in out.values()
        )
        nf = self.CG + "ConditionNotFound"
        assert out["SCV1"].object_id == nf
        assert out["SCV2"].object_id == self.CG + "trait_set_9.2024-01-01"
        assert out["SCV2"].object_compact is True   # 1 member
        # the tombstone is the latest version <= SCV3's release date and
        # WINS (reference as-of has no deleted filter)
        assert out["SCV3"].object_id == self.CG + "trait_set_9.2024-03-01"
        assert out["SCV3"].object_n_members == 0
        assert out["SCV3"].object_compact is False
        assert out["SCV4"].object_id == nf
        assert out["SCV2"].predicate == "causes_mendelian_condition"
        assert out["SCV2"].direction == "supports"


class TestBasedata:
    """Base-data flat-file loaders (sources/basedata.py) — the corners
    the oracled queries don't pin down individually."""

    def test_score_hidden_label_lookup(self, spark):
        """common_score.clj's symbol-query unions preferred AND hidden
        labels — a score row matching only a hidden label resolves;
        an unknown symbol drops."""
        from genegraph_spark.sources.basedata import gene_score_triples

        labels = spark.createDataFrame(
            [("BRCA1", "urn:g1"), ("OLDNAME1", "urn:g1")],
            "label string, gene_uri string",
        )
        scores = spark.createDataFrame(
            [("OLDNAME1", "0.9"), ("NOPE", "0.1")], "symbol string, score string"
        )
        out = gene_score_triples(
            scores, ":cg/HaploinsufficiencyScore", "http://org", labels,
            "2024-01-01T00:00:00Z", "g",
        ).collect()
        about = [r for r in out if r.predicate == ":iao/is-about"]
        assert len(about) == 1 and about[0].object == "urn:g1"


class TestActionabilityAssertionCards:
    """actionability_assertion.clj — per-assertion cards: report via the
    inverse has-part hop, label/source, has-predicate classification,
    and the order-by-desc-limit-1 report-date query answered as a
    grouped max/max_by over EvidenceRole contributions."""

    def _events(self, spark, ids):
        return spark.createDataFrame(
            [(i, f"2024-01-0{1 + i % 3} 00:00:00", 10 + i, "click", 1.0, "{}")
             for i in ids],
            "event_id long, ts_s string, user_id long, event_type string, "
            "value double, props string",
        ).selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props",
        )

    def test_latest_contribution_wins(self, spark):
        from genegraph_spark.plans import curation as CUR

        # event_id=5: 5%3=2 → 3 contributions, dates ts, ts+1d, ts+2d;
        # the desc-limit-1 winner is the k=2 contribution
        out = CUR.actionability_assertion_cards(
            self._events(spark, [5])
        ).collect()
        # 5%2=1 → two assertions for the one report
        assert len(out) == 2
        by_a = {r.assertion: r for r in out}
        a0 = by_a["urn:actionability:5:a0"]
        assert a0.report == "urn:actionability:5"
        assert a0.report_label == "ACT report 5"
        assert a0.source == "https://actionability.example/doc/5"
        # ts = 2024-01-03 (5%3=2), latest = +2 days
        assert a0.report_date == "2024-01-05 00:00:00"
        # winning agent: (user_id=15 + k=2) % 10
        assert a0.attributed_to == "urn:agent:7"
        # classification varies per assertion: (5+0)%3=2, (5+1)%3=0
        assert a0.classification == "sepio:NoActionability"
        assert by_a["urn:actionability:5:a1"].classification == (
            "sepio:ActionabilityScoreHigh"
        )

    def test_single_contribution_report(self, spark):
        from genegraph_spark.plans import curation as CUR

        # event_id=6: 6%3=0 → exactly one contribution; 6%2=0 → one assertion
        out = CUR.actionability_assertion_cards(
            self._events(spark, [6])
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r.report_date == "2024-01-01 00:00:00"
        assert r.attributed_to == "urn:agent:6"


class TestGciMisc:
    """The small GCI ingest variants (gci_neo4j, gci_legacy_report_only,
    the gci.clj GDI stub) and the ClinVar
    submitter Agent transform — the remaining transform/ namespaces."""

    def test_neo4j_report_scheme(self, spark):
        from genegraph_spark.sources import gci_misc as GM

        reports = spark.createDataFrame(
            [("abc", "2020-01-01T10:00:00", "T", "g", "d", "m", "w",
              list(GM.OLD_SCORE_TO_NEW)[0], "5", '{"s":1}')],
            "id string, date string, title string, gene string, disease string, "
            "moi string, gcep string, score string, sop_version string, "
            "score_string string",
        )
        full = GM.gci_neo4j_triples(reports).collect()
        # 21 triples, report IRI carries the colon-stripped date
        assert len(full) == 21
        assert all(r.graph.endswith("report_abc-2020-01-01T100000") for r in full)
        chars = [r for r in full if r.predicate == ":cnt/chars"]
        assert chars[0].object == '{"s":1}' and not chars[0].object_is_iri

    def test_submitter_extensions(self, spark):
        from genegraph_spark.sources import gci_misc as GM

        msgs = spark.createDataFrame(
            [("506077", "2022-02-08", "KK Hospital", "KKH"),
             ("9", "2022-02-09", "No Abbrev Org", None)],
            "id string, release_date string, current_name string, "
            "current_abbrev string",
        )
        out = {r.id: r for r in GM.submitter_agents(msgs).collect()}
        a = out[
            "http://dataexchange.clinicalgenome.org/terms/"
            "clinvar_submitter_506077.2022-02-08"
        ]
        assert a.type == "Agent" and a.label == "KK Hospital"
        exts = {(e.name, e.value) for e in a.extensions}
        # only current_abbrev + the injected id survive select-keys
        # (alternate_names / org_categority never exist in the payload)
        assert exts == {("current_abbrev", "KKH"),
                        ("clinvar_submitter_id", "506077")}
        b = out[
            "http://dataexchange.clinicalgenome.org/terms/"
            "clinvar_submitter_9.2022-02-09"
        ]
        assert {(e.name, e.value) for e in b.extensions} == {
            ("clinvar_submitter_id", "9")
        }


class TestMoiViewVsVerbatimQuery:
    """DIFFERENTIAL: the modes-of-inheritance resolver VIEW
    (plans/curation.py, closure + broadcast semi-join) must agree with
    the reference's VERBATIM SPARQL query (mode_of_inheritance.clj:6-10)
    executed through the front-end over a bridged triples model of the
    same data — two independent code paths, one answer."""

    VERBATIM_Q = """select distinct ?moi where 
{ ?prop a :sepio/GeneValidityProposition .
  ?prop :sepio/has-qualifier ?moi .
  ?moi <http://www.w3.org/2000/01/rdf-schema#subClassOf>* <http://purl.obolibrary.org/obo/HP_0000005> }"""

    HP_ROOT = "http://purl.obolibrary.org/obo/HP_0000005"
    SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

    def test_view_matches_verbatim(self, spark):
        from genegraph_spark import fixtures
        from genegraph_spark.operators import sparql as S
        from genegraph_spark.plans import curation as CUR

        # assertion frame: every fixture event type appears as a MOI,
        # including 'error' (outside the root subtree — must drop)
        from genegraph_spark.functions.iri import BROADER

        kinds = ["click", "view", "purchase", "signup", "error"]
        assertions = spark.createDataFrame([(k,) for k in kinds], "moi string")
        # --- path 1: the DataFrame view
        edges = spark.createDataFrame(
            [
                ("g", c, BROADER, p, True, None)
                for c, p in fixtures.MOI_HIERARCHY
            ],
            "graph string, subject string, predicate string, object string, "
            "object_is_iri boolean, object_datatype string",
        )
        view_out = sorted(
            r.moi for r in CUR.modes_of_inheritance(assertions, edges).collect()
        )
        # --- path 2: the verbatim SPARQL query over a bridged model
        # (root renamed to the HP IRI the reference query hardcodes;
        # edges become rdfs:subClassOf; qualifiers hang off propositions)
        def bridge(term):
            return self.HP_ROOT if term == "urn:moi:root" else term

        rows = [
            ("g", bridge(c), self.SUB, bridge(p), True, None)
            for c, p in fixtures.MOI_HIERARCHY
        ] + [
            ("g", f"urn:prop:{k}", "rdf:type", ":sepio/GeneValidityProposition",
             True, None)
            for k in kinds
        ] + [
            ("g", f"urn:prop:{k}", ":sepio/has-qualifier", f"urn:moi:{k}",
             True, None)
            for k in kinds
        ]
        m = spark.createDataFrame(
            rows,
            "graph string, subject string, predicate string, object string, "
            "object_is_iri boolean, object_datatype string",
        )
        sparql_out = sorted(
            r.moi for r in S.sparql(m, self.VERBATIM_Q).collect()
        )
        assert view_out == sparql_out
        assert "urn:moi:error" not in view_out
        assert view_out == ["urn:moi:click", "urn:moi:purchase",
                            "urn:moi:signup", "urn:moi:view"]


class TestBoilerplateStrip:
    """CCNet/C4-style per-domain boilerplate line removal: lines in
    >= min_ratio of a domain's docs strip, survivors keep their order,
    a fully-boilerplate doc reduces to the empty string, and the same
    line on ANOTHER domain is untouched."""

    def _docs(self, spark):
        rows = [
            (1, "a.com", "BANNER\nunique one\nfooter"),
            (2, "a.com", "BANNER\nunique two\nfooter"),
            (3, "a.com", "BANNER\nunique three"),
            (4, "a.com", "BANNER"),
            # b.com: same BANNER text but only 1 of 3 docs → kept
            (5, "b.com", "BANNER\nother text"),
            (6, "b.com", "hello world"),
            (7, "b.com", "more text"),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, domain string, text string"
        )

    def test_strip_semantics(self, spark):
        from genegraph_spark.functions import textstats as TS

        out = {
            r.doc_id: r.clean_text
            for r in TS.strip_boilerplate(
                self._docs(spark), min_ratio=0.5, min_docs=3
            ).collect()
        }
        # BANNER (4/4 docs) strips on a.com; footer (2/4 = 0.5 ratio
        # but only 2 docs < min_docs=3) survives
        assert out[1] == "unique one\nfooter"
        assert out[2] == "unique two\nfooter"
        assert out[3] == "unique three"
        # a doc that was ALL boilerplate reduces to empty
        assert out[4] == ""
        # b.com's BANNER is below every threshold there → untouched
        assert out[5] == "BANNER\nother text"
        assert out[6] == "hello world"

    def test_detection_frame(self, spark):
        from genegraph_spark.functions import textstats as TS

        bl = TS.boilerplate_lines(
            self._docs(spark), min_ratio=0.5, min_docs=3
        ).collect()
        assert [(r.domain, r.line, r.n_docs, r.domain_docs) for r in bl] == [
            ("a.com", "BANNER", 4, 4)
        ]


class TestStratifiedSample:
    """Deterministic exact-quota stratified sampling: per-stratum quota
    honored exactly, small strata keep everything, and the selection is
    identical under different input partitionings (md5-of-id order, no
    RNG)."""

    def test_quota_and_determinism(self, spark):
        from genegraph_spark.functions import textstats as TS

        rows = [(i, "s%d" % (i % 3), "en") for i in range(30)] + [
            (100, "tiny", "en"),
            (101, "tiny", "en"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, lang string")
        out = TS.stratified_sample(df, ["source", "lang"], 4).collect()
        by_stratum = {}
        for r in out:
            by_stratum.setdefault(r.source, []).append(r.doc_id)
        assert all(len(v) == 4 for k, v in by_stratum.items() if k != "tiny")
        assert sorted(by_stratum["tiny"]) == [100, 101]  # under-quota: keep all
        # repartitioned input → identical selection
        again = TS.stratified_sample(df.repartition(7), ["source", "lang"], 4)
        assert sorted((r.source, r.doc_id) for r in again.collect()) == sorted(
            (r.source, r.doc_id) for r in out
        )


class TestVocabulary:
    def test_rank_and_ties(self, spark):
        from genegraph_spark.functions import textstats as TS

        df = spark.createDataFrame(
            [("b b a a c",), ("A b",)], "text string"
        )
        out = {r.token: (r['count'], r.rank) for r in TS.vocabulary(df).collect()}
        # lowercase fold: a=3, b=3, c=1; tie a/b broken lexically
        assert out == {"a": (3, 1), "b": (3, 2), "c": (1, 3)}

    def test_min_count_prunes(self, spark):
        from genegraph_spark.functions import textstats as TS

        df = spark.createDataFrame([("x x y",)], "text string")
        out = [r.token for r in TS.vocabulary(df, min_count=2).collect()]
        assert out == ["x"]

    def test_rank_spans_range_partitions(self, spark):
        # the two-stage rank must be the same global (count DESC, token
        # ASC) ordering however many range partitions the vocab spans
        from genegraph_spark.functions import textstats as TS

        docs = [(" ".join(f"tok{i:03d}" for i in range(n, 120)),) for n in range(120)]
        df = spark.createDataFrame(docs, "text string").repartition(16)
        out = TS.vocabulary(df).orderBy("rank").collect()
        assert [r.rank for r in out] == list(range(1, 121))
        # tok000 appears once, tok119 appears 120 times
        assert out[0].token == "tok119" and out[0]["count"] == 120
        assert out[-1].token == "tok000" and out[-1]["count"] == 1
        # ranks are a permutation-free bijection (no dup/skip across
        # partition boundaries)
        assert [r["count"] for r in out] == sorted(
            (r["count"] for r in out), reverse=True
        )

    def test_no_single_partition_window(self, spark):
        # VERDICT r5: the global Window.orderBy row_number funneled the
        # whole distinct-token table through ONE partition; the two-stage
        # rank must not plan an Exchange SinglePartition anywhere
        from genegraph_spark.functions import textstats as TS

        df = spark.createDataFrame([("a b c a",)], "text string")
        plan = (
            TS.vocabulary(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "SinglePartition" not in plan


class TestChunkWindows:
    """Sliding-window chunking (textstats.chunk_windows)."""

    def _run(self, spark, text, window=4, stride=3):
        from genegraph_spark.functions import textstats as TS

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return sorted(
            (r.window_ix, r.start_tok, r.n_window_tokens, r.window_text)
            for r in TS.chunk_windows(
                df, window=window, stride=stride
            ).collect()
        )

    def test_short_doc_single_window(self, spark):
        assert self._run(spark, "a b c") == [(0, 0, 3, "a b c")]
        assert self._run(spark, "a b c d") == [(0, 0, 4, "a b c d")]

    def test_overlap_and_truncated_tail(self, spark):
        # 6 tokens, window 4, stride 3 → windows at 0 and 3 (tail len 3)
        got = self._run(spark, "a b c d e f")
        assert got == [(0, 0, 4, "a b c d"), (1, 3, 3, "d e f")]

    def test_exact_fit_no_phantom_window(self, spark):
        # 7 tokens: windows at 0 and 3 (tokens 3-6) — NOT a third at 6
        got = self._run(spark, "a b c d e f g")
        assert got == [(0, 0, 4, "a b c d"), (1, 3, 4, "d e f g")]
        # 10 tokens: starts 0,3,6 — the last covers through token 9
        got = self._run(spark, "a b c d e f g h i j")
        assert [g[1] for g in got] == [0, 3, 6]
        assert got[-1] == (2, 6, 4, "g h i j")

    def test_no_shuffle_plan(self, spark):
        from genegraph_spark.functions import textstats as TS

        df = spark.createDataFrame(
            [(1, "a b c d e f")], "doc_id long, text string"
        )
        plan = (
            TS.chunk_windows(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan

    def test_gapped_stride_rejected(self, spark):
        # stride > window would emit empty trailing windows (ADVICE r5)
        from genegraph_spark.functions import textstats as TS

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="stride"):
            TS.chunk_windows(df, window=4, stride=5)
        with pytest.raises(ValueError, match=">= 1"):
            TS.chunk_windows(df, window=0, stride=0)
