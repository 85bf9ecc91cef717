"""Operator/unit tests on the query algebra over a tiny literal triple
model — mirrors the reference's query engine tests
(test/genegraph/database/query_test.clj:13-128)."""

from __future__ import annotations

import pytest

from genegraph_spark.operators import algebra as A
from genegraph_spark.sinks.named_graph import TRIPLE_SCHEMA

TRIPLES = [
    # (graph, subject, predicate, object, is_iri, datatype)
    ("g", "gene1", "type", "Gene", True, None),
    ("g", "gene2", "type", "Gene", True, None),
    ("g", "gene1", "label", "BRCA1 gene", False, "xsd:string"),
    ("g", "gene2", "label", "TP53", False, "xsd:string"),
    ("g", "assn1", "subject_of", "gene1", True, None),
    ("g", "assn1", "has_disease", "dis1", True, None),
    ("g", "assn2", "subject_of", "gene2", True, None),
    ("g", "dis1", "label", "breast cancer", False, "xsd:string"),
    ("g", "c1", "subClassOf", "c2", True, None),
    ("g", "c2", "subClassOf", "c3", True, None),
    ("g", "c3", "subClassOf", "c4", True, None),
]


@pytest.fixture(scope="module")
def triples(spark):
    df = spark.createDataFrame(TRIPLES, TRIPLE_SCHEMA)
    df.cache().count()
    return df


def test_bgp_join(triples):
    # assertions with their gene and disease: shared ?a joins patterns
    got = A.bgp(
        triples,
        [("?a", "subject_of", "?g"), ("?a", "has_disease", "?d")],
    )
    rows = {(r["a"], r["g"], r["d"]) for r in got.collect()}
    assert rows == {("assn1", "gene1", "dis1")}


def test_optional_and_filter(triples):
    base = A.bgp(triples, [("?a", "subject_of", "?g")])
    opt = A.optional(base, A.bgp(triples, [("?a", "has_disease", "?d")]))
    rows = {(r["a"], r["d"]) for r in opt.collect()}
    assert rows == {("assn1", "dis1"), ("assn2", None)}


def test_union_minus_diff_distinct(triples):
    genes = A.bgp(triples, [("?x", "type", "Gene")])
    with_assn = A.project(A.bgp(triples, [("?a", "subject_of", "?x")]), ["?x"])
    u = A.union(genes, genes)
    assert u.count() == 4 and A.distinct(u).count() == 2
    assert A.minus(genes, with_assn).count() == 0  # both genes asserted
    labeled = A.project(A.bgp(triples, [("?x", "label", "?l")]), ["?x"])
    assert {r["x"] for r in A.minus(genes, labeled.where("x like 'gene%'")).collect()} == set()
    assert A.diff(u, genes).count() == 2  # bag difference


def test_exists_ask_count_bind(triples):
    genes = A.bgp(triples, [("?x", "type", "Gene")])
    diseased = A.project(
        A.bgp(triples, [("?a", "subject_of", "?x"), ("?a", "has_disease", "?d")]), ["?x"]
    )
    assert {r["x"] for r in A.exists(genes, diseased).collect()} == {"gene1"}
    assert A.ask(diseased) is True
    assert A.ask(genes.where("x = 'nope'")) is False
    assert A.count(genes) == 2


def test_slice_order(triples):
    labels = A.bgp(triples, [("?x", "label", "?l")])
    top = A.slice(labels, limit=2, order=[("?l", "asc")]).collect()
    assert [r["l"] for r in top] == ["BRCA1 gene", "TP53"]
    page2 = A.slice(labels, limit=2, offset=2, order=[("?l", "asc")]).collect()
    assert [r["l"] for r in page2] == ["breast cancer"]


def test_construct(triples):
    bindings = A.bgp(triples, [("?a", "subject_of", "?g"), ("?a", "has_disease", "?d")])
    out = A.construct(
        bindings,
        [("?g", "associated_with", "?d", True)],
        graph="?a",
    )
    rows = {(r["graph"], r["subject"], r["predicate"], r["object"]) for r in out.collect()}
    assert rows == {("assn1", "gene1", "associated_with", "dis1")}


def test_ld_path(spark, triples):
    start = spark.createDataFrame([("gene1",)], "node string")
    # in-edge then out-edge: gene1 <-subject_of- assn1 -has_disease-> dis1
    got = A.ld_path(triples, start, [("<", "subject_of"), (">", "has_disease")])
    assert {r["node"] for r in got.collect()} == {"dis1"}
    both = A.ld_path(triples, start, [("-", "subject_of")])
    assert {r["node"] for r in both.collect()} == {"assn1"}


def test_transitive_closure(triples):
    tc = A.transitive_closure(triples, "subClassOf")
    pairs = {(r["src"], r["dst"]) for r in tc.collect()}
    assert pairs == {
        ("c1", "c2"), ("c2", "c3"), ("c3", "c4"),
        ("c1", "c3"), ("c2", "c4"), ("c1", "c4"),
    }


def _chain(spark, n, cyclic=False):
    """n-node subClassOf chain n0 -> n1 -> ... (closed back to n0 if cyclic)."""
    edges = [(f"n{i}", f"n{i + 1}") for i in range(n - 1)]
    if cyclic:
        edges.append((f"n{n - 1}", "n0"))
    return spark.createDataFrame(
        [("g", s, "subClassOf", o, True, None) for s, o in edges], TRIPLE_SCHEMA
    )


def test_transitive_closure_non_convergence_raises(spark, monkeypatch):
    """A 9-node chain needs 4 doubling rounds; stopping after 1 must fail
    loudly instead of returning a partial closure (15 of 36 pairs)."""
    monkeypatch.setattr(A, "LOCAL_ROWS", 0)
    monkeypatch.setattr(A, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        A.transitive_closure(_chain(spark, 9), "subClassOf")


def test_transitive_closure_distributed_matches_local_on_cycle(spark, monkeypatch):
    """The distributed doubling loop and the driver-local saturation agree
    on a cyclic graph: a 5-cycle plus a tail reaches every (u, v) pair in
    the cycle, self-pairs included."""
    t = _chain(spark, 5, cyclic=True).unionByName(
        spark.createDataFrame([("g", "n4", "subClassOf", "tail", True, None)], TRIPLE_SCHEMA)
    )
    local = {tuple(r) for r in A.transitive_closure(t, "subClassOf").collect()}
    monkeypatch.setattr(A, "LOCAL_ROWS", 0)
    dist = {tuple(r) for r in A.transitive_closure(t, "subClassOf").collect()}
    cycle = [f"n{i}" for i in range(5)]
    assert local == dist == {(u, v) for u in cycle for v in cycle + ["tail"]}


def test_closure_over_budget_falls_back_to_distributed(spark, monkeypatch):
    """The driver-local branch is budgeted by OUTPUT pairs: a 200-node
    chain has only 199 edges but 19,900 closure pairs, so under a
    1,000-row budget the saturation gives up and the distributed loop
    returns the full closure."""
    monkeypatch.setattr(A, "LOCAL_ROWS", 1_000)
    gave_up = []
    saturate = A._saturate

    def spy(rows):
        out = saturate(rows)
        gave_up.append(out is None)
        return out

    monkeypatch.setattr(A, "_saturate", spy)
    got = {tuple(r) for r in A.transitive_closure(_chain(spark, 200), "subClassOf").collect()}
    assert gave_up == [True]
    assert got == {(f"n{i}", f"n{j}") for i in range(200) for j in range(i + 1, 200)}
    assert len(got) == 19_900


def test_saturate_gives_up_at_default_budget(monkeypatch):
    """At the default budget the driver-local saturation stops once its
    searches have visited more than LOCAL_ROWS edges instead of building
    the closure: a 50,000-edge chain (1.25B pairs) and a "broom" of 500
    roots -> hub -> 500 leaves (1,000 edges, 251,000 pairs, 251,000
    visits). Paths never cross keys."""
    chain = [(f"n{i}", f"n{i + 1}") for i in range(50_000)]
    assert A._saturate(chain) is None
    broom = [(f"r{i}", "hub") for i in range(500)] + [("hub", f"l{i}") for i in range(500)]
    assert A._saturate(broom) is None
    monkeypatch.setattr(A, "LOCAL_ROWS", 251_000)
    assert len(A._saturate(broom)) == 251_000
    keyed = [("a", "b", "g1"), ("b", "c", "g1"), ("c", "d", "g2")]
    assert sorted(A._saturate(keyed)) == [
        ("a", "b", "g1"), ("a", "c", "g1"), ("b", "c", "g1"), ("c", "d", "g2"),
    ]


def test_saturate_budget_bounds_work_on_dense_cycles():
    """The budget counts edge visits, not only pairs held. A 440-node
    ring (440 edges) closes to 193,600 pairs, under the 200,000 budget,
    and costs one visit per pair. The complete digraph on the same 440
    nodes has the same closure, but a search from every node visits all
    193,160 edges, so it gives up instead of doing ~n³ work."""
    ring = [(f"n{i}", f"n{(i + 1) % 440}") for i in range(440)]
    got = A._saturate(ring)
    assert len(got) == 193_600
    assert set(got) == {(f"n{u}", f"n{v}") for u in range(440) for v in range(440)}
    dense = [(f"n{u}", f"n{v}") for u in range(440) for v in range(440) if u != v]
    assert A._saturate(dense) is None


def test_ld_path_range_rejects_reversed_bounds(spark, triples):
    start = spark.createDataFrame([("c1",)], "node string")
    with pytest.raises(ValueError, match="0 <= n <= m"):
        A.ld_path(triples, start, [("range", "subClassOf", 3, 1)])


def test_text_search(triples):
    got = A.text_search(triples, "BRCA1")
    assert {r["node"] for r in got.collect()} == {"gene1"}
    assert A.text_search(triples, "cancer", predicate="label").count() == 1
    assert A.text_search(triples, "gene1").count() == 0  # IRIs excluded


def test_values_inline_bindings(spark):
    """VALUES semantics: disjunction of binding tuples, UNDEF columns
    unconstrained, bag union across rows."""
    from genegraph_spark.operators import algebra as A

    b = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("c", "z")], "p string, q string"
    )
    out = A.values(b, [{"?p": "a"}, {"?p": "b", "?q": "x"}])
    got = sorted((r.p, r.q) for r in out.collect())
    assert got == [("a", "x"), ("a", "y"), ("b", "x")]
    # overlapping rows duplicate solutions (SPARQL bag semantics)
    dup = A.values(b, [{"?p": "a"}, {"?p": "a", "?q": "x"}])
    assert dup.count() == 3  # (a,x)+(a,y) from row1, (a,x) again from row2
