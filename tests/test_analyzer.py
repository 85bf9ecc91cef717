"""Event re-processing analyzer (event_analyzer.clj corpus-wide)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from genegraph_spark.functions import iri as I
from genegraph_spark.plans import analyzer as AN

SCHEMA = (
    "graph string, subject string, predicate string, object string,"
    " object_is_iri boolean, object_datatype string"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture(scope="module")
def frames(spark):
    old = _df(spark, [
        ("g1", "s1", I.RDF_TYPE, ":Order", True, None),
        ("g1", "s1", ":status", "O", False, I.XSD_STRING),
        ("g2", "s2", I.RDF_TYPE, ":Order", True, None),
        ("g2", "s2", ":status", "F", False, I.XSD_STRING),
        ("g3", "s3", I.RDF_TYPE, ":Order", True, None),
    ])
    new = _df(spark, [
        # g1 unchanged
        ("g1", "s1", I.RDF_TYPE, ":Order", True, None),
        ("g1", "s1", ":status", "O", False, I.XSD_STRING),
        # g2: status rewritten + type moved
        ("g2", "s2", I.RDF_TYPE, ":PriorityOrder", True, None),
        ("g2", "s2", ":status", "X", False, I.XSD_STRING),
        # g3 dropped entirely; g4 brand new
        ("g4", "s4", I.RDF_TYPE, ":Order", True, None),
    ])
    return old, new


class TestChangeSummary:
    def test_per_graph_counts(self, spark, frames):
        old, new = frames
        got = {r.graph: r for r in AN.change_summary(old, new).collect()}
        assert set(got) == {"g1", "g2", "g3", "g4"}
        g1 = got["g1"]
        assert (g1.created, g1.deleted, g1.changed) == (0, 0, False)
        assert (g1.previous, g1.current) == (2, 2)
        g2 = got["g2"]
        assert (g2.created, g2.deleted, g2.changed) == (2, 2, True)
        g3 = got["g3"]  # dropped model: all deleted
        assert (g3.previous, g3.current, g3.deleted, g3.changed) == (
            1, 0, 1, True)
        g4 = got["g4"]  # new model: all created
        assert (g4.previous, g4.current, g4.created, g4.changed) == (
            0, 1, 1, True)

    def test_duplicate_emission_is_not_a_change(self, spark):
        """Jena models are statement SETS: a transform that re-emits an
        existing triple twice must NOT read as a change."""
        old = _df(spark, [("g", "s", ":p", "v", False, I.XSD_STRING)])
        new = _df(spark, [
            ("g", "s", ":p", "v", False, I.XSD_STRING),
            ("g", "s", ":p", "v", False, I.XSD_STRING),
        ])
        got = AN.change_summary(old, new).collect()[0]
        assert got.changed is False
        assert (got.previous, got.current) == (1, 1)


class TestTypeCountDiff:
    def test_only_moved_counts(self, spark, frames):
        old, new = frames
        got = {
            (r.graph, r.rdf_type): (r.old_n, r.new_n, r.delta)
            for r in AN.type_count_diff(old, new).collect()
        }
        assert got[("g2", ":Order")] == (1, 0, -1)
        assert got[("g2", ":PriorityOrder")] == (0, 1, 1)
        assert got[("g3", ":Order")] == (1, 0, -1)
        assert got[("g4", ":Order")] == (0, 1, 1)
        assert ("g1", ":Order") not in got  # unchanged → no row
