"""Event re-processing analyzer — the effect of code changes on models.

Reference: ``src/genegraph/event_analyzer.clj`` — re-run the current
transformation over recorded events and report, per event, what changed
against the stored model: ``model-diff`` (created/deleted triples),
``model-changed?`` (isomorphism up to blank-node renaming),
``model-sizes`` (previous/current triple counts), and
``resource-type-diff`` (rdf:type frequency deltas). The reference maps
these helpers over events one at a time on the driver (pmap at best).

Spark-first: both "previous" and "current" model sets live in ONE
triples frame each, keyed by graph (= the event's model id), so every
per-event helper becomes a corpus-wide co-keyed set operation:

- ONE presence aggregation (tag each side, union, groupBy the full
  triple row, max the side flags) yields SET-semantics membership on
  both sides — created/deleted/sizes/changed all derive from it, so the
  whole change report costs ONE full-row exchange plus one per-graph
  aggregate (not a dedup + exceptAll + count-join chain);
- changed? — created+deleted counts per graph, compared as raw
  triples (blank-node labels included);
- type diffs — a plain full-outer count diff.

At 100 TB the cost is the one presence exchange; nothing is per-event
on the driver and no graph's model must fit anywhere in particular.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import iri as I

_COLS = [
    "graph", "subject", "predicate", "object", "object_is_iri",
    "object_datatype",
]


def _presence(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per distinct triple: (in_old, in_new) membership flags — the one
    full-row shuffle everything else derives from. SET semantics like
    Jena come free from the groupBy (a re-emitted duplicate is the same
    statement)."""
    a = old.select(*_COLS)
    b = new.select(*_COLS)
    one, zero = F.lit(1), F.lit(0)
    tagged = a.select(*_COLS, one.alias("_o"), zero.alias("_n")).unionByName(
        b.select(*_COLS, zero.alias("_o"), one.alias("_n"))
    )
    return tagged.groupBy(*_COLS).agg(
        F.max("_o").alias("in_old"), F.max("_n").alias("in_new")
    )


def change_summary(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-graph change report: created / deleted / previous / current
    counts + the ``model-changed?`` flag (event_analyzer.clj:41-55).

    Graphs present in only one side still report automatically (their
    triples carry the graph key through the presence frame): a
    brand-new model is all-created, a dropped one all-deleted. Sizes
    are SET sizes (Jena ``.size`` counts the stored statements). Cost:
    the presence exchange + one per-graph aggregate."""
    p = _presence(old, new)
    created = ((F.col("in_new") == 1) & (F.col("in_old") == 0)).cast("long")
    deleted = ((F.col("in_old") == 1) & (F.col("in_new") == 0)).cast("long")
    diffs = p.groupBy("graph").agg(
        F.sum(created).alias("created"),
        F.sum(deleted).alias("deleted"),
    )
    sizes = p.groupBy("graph").agg(
        F.sum(F.col("in_old").cast("long")).alias("previous"),
        F.sum(F.col("in_new").cast("long")).alias("current"),
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    out = sizes.join(diffs, "graph", "full_outer")
    return out.select(
        "graph",
        z("previous").alias("previous"),
        z("current").alias("current"),
        z("created").alias("created"),
        z("deleted").alias("deleted"),
        ((z("created") + z("deleted")) > 0).alias("changed"),
    )


def type_count_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-graph rdf:type frequency deltas — ``resource-type-diff``
    (event_analyzer.clj:14-22), rows only where the count moved."""

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(*_COLS).dropDuplicates(_COLS)  # model set semantics
            .where(F.col("predicate") == I.RDF_TYPE)
            .groupBy("graph", F.col("object").alias("rdf_type"))
            .agg(F.count("*").alias(name))
        )

    out = counts(old, "old_n").join(
        counts(new, "new_n"), ["graph", "rdf_type"], "full_outer"
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    return out.select(
        "graph", "rdf_type",
        z("old_n").alias("old_n"),
        z("new_n").alias("new_n"),
        (z("new_n") - z("old_n")).alias("delta"),
    ).where(F.col("delta") != 0)
