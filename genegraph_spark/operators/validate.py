"""Declarative per-root-type validation (SHACL analog) with the list of
violated constraints per row.

Reference analog: events are validated against SHACL shapes selected by
root type (``src/genegraph/annotate.clj:72-132``,
``src/genegraph/database/validation.clj:8-19``, shapes in
``resources/shapes.edn``); an event failing its shape terminates the
interceptor chain. Here a shape is a list of named column constraints;
each row carries the list of violated constraint names, so failing rows
can be quarantined with their reasons (batch pipelines quarantine rather
than abort).

Spark-first: each constraint is one boolean column expression; the
violation list is a filtered array of constraint names — a single
narrow projection, zero shuffles, fully codegen'd. No UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Constraint:
    """One named shape constraint: ``check`` must be TRUE for valid rows."""

    name: str
    check: Column


def required(col: str) -> Constraint:
    """sh:minCount 1 analog: non-null and (for strings) non-empty."""
    c = F.col(col)
    return Constraint(f"{col}:required", c.isNotNull() & (c.cast("string") != ""))


def matches(col: str, pattern: str) -> Constraint:
    """sh:pattern analog."""
    return Constraint(f"{col}:pattern", F.col(col).rlike(pattern))


def in_range(col: str, lo=None, hi=None) -> Constraint:
    """sh:minInclusive / sh:maxInclusive analog."""
    c = F.col(col)
    check = F.lit(True)
    if lo is not None:
        check = check & (c >= lo)
    if hi is not None:
        check = check & (c <= hi)
    return Constraint(f"{col}:range", check)


def violation_array(shape: list[Constraint]) -> Column:
    """Sorted array of violated constraint names (empty = valid) as one
    column expression. Nulls in a check count as violations (SQL
    three-valued logic pinned: NULL-valued checks are NOT satisfied)."""
    entries = [
        F.when(~c.check.eqNullSafe(F.lit(True)), F.lit(c.name)) for c in shape
    ]
    return F.sort_array(F.filter(F.array(*entries), lambda x: x.isNotNull()))


def with_violations(df: DataFrame, shape: list[Constraint], out_col: str = "violations") -> DataFrame:
    """Append the :func:`violation_array` of ``shape``."""
    return df.withColumn(out_col, violation_array(shape))


# -- per-root-type shape registry + dispatch ----------------------------------

@dataclass(frozen=True)
class ShapeRegistry:
    """Root-type → shape table (shapes.edn analog, annotate.clj:72-132
    add-validation-shape/add-validation): a row is validated against the
    shape registered for ITS root type; rows of unregistered types get a
    ``root_type:unregistered`` violation (the reference terminates events
    whose type has no transform/shape registration).

    ``dispatch`` compiles the whole table into ONE chained CASE
    projection — per-row shape selection costs no join, no shuffle, and
    stays inside whole-stage codegen."""

    shapes: dict[str, list[Constraint]]

    def dispatch(
        self, df: DataFrame, root_type_col: str = "root_type", out_col: str = "violations"
    ) -> DataFrame:
        expr = None
        for rt, shape in sorted(self.shapes.items()):
            cond = F.col(root_type_col) == rt
            arr = violation_array(shape)
            expr = F.when(cond, arr) if expr is None else expr.when(cond, arr)
        fallback = F.array(F.lit("root_type:unregistered"))
        expr = fallback if expr is None else expr.otherwise(fallback)
        return df.withColumn(out_col, expr)


def page_shape_registry() -> ShapeRegistry:
    """The pipeline's default registry over post-extraction slim rows:
    WebPages must be decodable with a language tag; tombstones skip the
    content constraints (their payload is the unpublish marker)."""
    common = [matches("url", "^https://"), in_range("version", 1, 3)]
    web = [Constraint("html:decodable", F.col("ok")), required("lang"), *common]
    return ShapeRegistry({"WebPage": web, "TombstonePage": list(common)})


def violation_report(df: DataFrame, shape: list[Constraint]) -> DataFrame:
    """(reason, n): corpus-wide violation counts — the data-quality
    dashboard query."""
    v = with_violations(df, shape)
    return (
        v.select(F.explode("violations").alias("reason"))
        .groupBy("reason")
        .agg(F.count("*").alias("n"))
    )


# -- graph-level node shapes with sh:node nesting -----------------------------


@dataclass(frozen=True)
class PropertyShape:
    """One SHACL property shape over the triples table: constraints on the
    values reachable from a focus node via ``path``. ``node`` names
    another :class:`NodeShape` every value must CONFORM to (sh:node) —
    the nested-shape semantics of the reference's real SHACL validation
    (``database/validation.clj:8-19``, shapes like
    sepio-clingen-gene-validity-shapes in ``resources/shapes.edn``)."""

    path: str
    min_count: int = 0
    max_count: int | None = None
    datatype: str | None = None
    node_kind: str | None = None  # 'iri' | 'literal'
    pattern: str | None = None
    max_inclusive: float | None = None
    node: str | None = None  # referenced NodeShape name (sh:node)


@dataclass(frozen=True)
class NodeShape:
    """sh:NodeShape with sh:targetClass focus selection."""

    name: str
    target_class: str
    properties: tuple = ()


def validate_graph_shapes(triples: DataFrame, shapes: list[NodeShape]) -> DataFrame:
    """Validate a triples DataFrame against a set of node shapes,
    including nested sh:node references — the Spark analog of Jena
    ShaclValidator.validate (``database/validation.clj:8-19``).

    Returns (focus, shape, violations array<string>, conforms) — one row
    per (focus node, shape) pair; ``violations`` holds
    ``<path>:<constraint>`` names, sorted.

    Execution: shapes are evaluated in dependency order (a cycle of
    sh:node references raises). Per shape, each property shape is ONE
    predicate-filtered scan aggregated by focus subject — shuffles key on
    the focus node, and every property agg + the final combine reuse
    that partitioning (AQE coalesces). The sh:node check is an outer
    join of the property's IRI values against the referenced shape's
    conforming set — set-at-a-time, never per-focus point queries (the
    reference validates one event model at a time; at 10^12 documents
    the per-model loop is the part that cannot scale)."""
    by_name = {s.name: s for s in shapes}
    # topological order over sh:node references
    order: list[str] = []
    seen: dict[str, int] = {}  # 0=visiting, 1=done

    def visit(n: str):
        if seen.get(n) == 1:
            return
        if seen.get(n) == 0:
            raise ValueError(f"sh:node reference cycle through {n!r}")
        seen[n] = 0
        for p in by_name[n].properties:
            if p.node is not None:
                if p.node not in by_name:
                    raise ValueError(f"shape {n!r} references unknown shape {p.node!r}")
                visit(p.node)
        seen[n] = 1
        order.append(n)

    for s in shapes:
        visit(s.name)

    # the triples plan is consumed once per (shape, property) scan — on a
    # store-backed table those are parquet re-scans (fine, predicate-
    # pushed), but a pipeline-derived frame would re-run its whole
    # upstream per scan. Lazy localCheckpoint materializes it once and is
    # reclaimed by the ContextCleaner (house rule: checkpoint, not
    # persist, for intra-operator reuse).
    triples = triples.localCheckpoint(eager=False)
    is_type = F.col("predicate") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    conforming: dict[str, DataFrame] = {}
    results = []
    for name in order:
        shape = by_name[name]
        focus = (
            triples.where(is_type & (F.col("object") == shape.target_class))
            .select(F.col("subject").alias("focus"))
            .distinct()
        )
        combined = focus
        viol_cols: list[Column] = []
        for i, p in enumerate(shape.properties):
            vals = triples.where(F.col("predicate") == p.path).select(
                F.col("subject").alias("focus"),
                "object",
                "object_is_iri",
                "object_datatype",
            )
            if p.node is not None:
                ref = conforming[p.node].select(
                    F.col("focus").alias("object"), F.lit(True).alias("_ok")
                )
                vals = vals.join(ref, "object", "left_outer")
            bad = []
            if p.datatype is not None:
                bad.append(
                    F.sum(
                        (
                            F.col("object_is_iri")
                            | (F.coalesce("object_datatype", F.lit("")) != p.datatype)
                        ).cast("int")
                    )
                    > 0
                )
            else:
                bad.append(F.lit(None).cast("boolean"))
            if p.node_kind is not None:
                want_iri = p.node_kind == "iri"
                bad.append(F.sum((F.col("object_is_iri") != want_iri).cast("int")) > 0)
            else:
                bad.append(F.lit(None).cast("boolean"))
            if p.pattern is not None:
                bad.append(F.sum((~F.col("object").rlike(p.pattern)).cast("int")) > 0)
            else:
                bad.append(F.lit(None).cast("boolean"))
            if p.max_inclusive is not None:
                bad.append(
                    F.sum(
                        (F.col("object").cast("double") > p.max_inclusive).cast("int")
                    )
                    > 0
                )
            else:
                bad.append(F.lit(None).cast("boolean"))
            if p.node is not None:
                bad.append(F.sum((~F.coalesce("_ok", F.lit(False))).cast("int")) > 0)
            else:
                bad.append(F.lit(None).cast("boolean"))
            agg = vals.groupBy("focus").agg(
                F.count("*").alias(f"_n{i}"),
                bad[0].alias(f"_dt{i}"),
                bad[1].alias(f"_kind{i}"),
                bad[2].alias(f"_pat{i}"),
                bad[3].alias(f"_max{i}"),
                bad[4].alias(f"_node{i}"),
            )
            combined = combined.join(agg, "focus", "left_outer")
            n = F.coalesce(F.col(f"_n{i}"), F.lit(0))
            checks = [
                (n >= p.min_count, f"{p.path}:minCount"),
            ]
            if p.max_count is not None:
                checks.append((n <= p.max_count, f"{p.path}:maxCount"))
            for flag, tag in [
                (f"_dt{i}", "datatype"),
                (f"_kind{i}", "nodeKind"),
                (f"_pat{i}", "pattern"),
                (f"_max{i}", "maxInclusive"),
                (f"_node{i}", "node"),
            ]:
                checks.append(
                    (~F.coalesce(F.col(flag), F.lit(False)), f"{p.path}:{tag}")
                )
            viol_cols.extend(
                F.when(~ok, F.lit(tag)) for ok, tag in checks
            )
        out = combined.select(
            "focus",
            F.lit(name).alias("shape"),
            F.sort_array(
                F.filter(F.array(*viol_cols), lambda x: x.isNotNull())
            ).alias("violations")
            if viol_cols
            else F.array().cast("array<string>").alias("violations"),
        )
        # consumed by the result union AND (for referenced shapes) every
        # dependent shape's sh:node join — materialize once, lazily
        out = out.localCheckpoint(eager=False)
        conforming[name] = out.where(F.size("violations") == 0).select("focus")
        results.append(out.withColumn("conforms", F.size("violations") == 0))
    from functools import reduce as _reduce

    return _reduce(lambda a, b: a.unionByName(b), results)
