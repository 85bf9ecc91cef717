"""Model difference and graph isomorphism up to blank-node renaming.

Reference analogs: model difference / isomorphism
(``src/genegraph/database/query.clj:102-110,167-175`` — ``is-isomorphic?``
wraps Jena's blank-node-aware graph equality, used for golden
comparisons in tests).

Spark-first: difference is ``exceptAll``.
Isomorphism uses Weisfeiler-Lehman-style signature hashing: every blank
node's label is iteratively refined from the md5 of its sorted edge
signatures (ground terms keep themselves as labels), then blank nodes
are renamed to their final signature and the two triple sets compared
exactly. Sound for the reference's graph shapes (each bnode is
distinguished by ground context within a few hops — mention bnodes
immediately); symmetric-orbit graphs that WL cannot split would need
backtracking, which no reference fixture requires.

Scale notes: each refinement round is two aggregations keyed by node —
the same shuffle key both rounds, no joins against the corpus. Rounds
are fixed (default 3), not a fixpoint, so the job graph is static.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_B = "_:"


def model_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Triple-set difference (query.clj:167-170)."""
    return a.exceptAll(b)


def canonical_bnode_triples(triples: DataFrame, rounds: int = 3) -> DataFrame:
    """Rewrite blank-node names to deterministic WL signatures
    (graph-scoped: a bnode only has meaning inside its named graph)."""
    is_b = lambda c: F.col(c).startswith(_B)  # noqa: E731

    t = triples.select(
        "graph", "subject", "predicate", "object",
        F.col("object_is_iri"), F.col("object_datatype"),
    )
    # label table for blank nodes only; ground terms label themselves
    bnodes = (
        t.where(is_b("subject")).select("graph", F.col("subject").alias("node"))
        .unionByName(
            t.where(F.col("object_is_iri") & is_b("object")).select(
                "graph", F.col("object").alias("node")
            )
        )
        .distinct()
    )
    labels = bnodes.withColumn("label", F.lit("b"))

    def resolve(df, col):
        """current label of a term: itself if ground, else its bnode label."""
        return (
            df.join(
                labels.withColumnRenamed("node", col).withColumnRenamed("label", f"_l_{col}"),
                ["graph", col],
                "left_outer",
            )
        )

    for _ in range(rounds):
        e = resolve(resolve(t, "subject"), "object")
        e = e.select(
            "graph", "subject", "predicate", "object", "object_is_iri",
            F.coalesce("_l_subject", F.col("subject")).alias("ls"),
            # object_is_iri guard on the joined label too: a string LITERAL
            # whose value lexically equals a bnode id in the same graph
            # must not inherit that bnode's WL label (it would mislabel
            # bnodes and could flip an is_isomorphic verdict)
            F.coalesce(
                F.when(F.col("object_is_iri"), F.col("_l_object")),
                F.when(F.col("object_is_iri"), F.col("object")).otherwise(
                    F.concat_ws("^^", F.col("object"), F.col("object_datatype"))
                ),
            ).alias("lo"),
        )
        out_sig = (
            e.where(F.col("subject").startswith(_B))
            .groupBy("graph", F.col("subject").alias("node"))
            .agg(
                F.sort_array(
                    F.collect_list(F.concat_ws(">", F.col("predicate"), F.col("lo")))
                ).alias("outs")
            )
        )
        in_sig = (
            # object_is_iri guard: a string LITERAL whose value looks like
            # '_:x' must not be treated as a blank node
            e.where(F.col("object_is_iri") & F.col("object").startswith(_B))
            .groupBy("graph", F.col("object").alias("node"))
            .agg(
                F.sort_array(
                    F.collect_list(F.concat_ws("<", F.col("predicate"), F.col("ls")))
                ).alias("ins")
            )
        )
        labels = (
            bnodes.join(out_sig, ["graph", "node"], "left_outer")
            .join(in_sig, ["graph", "node"], "left_outer")
            .select(
                "graph", "node",
                F.md5(
                    F.concat_ws(
                        "|",
                        F.array_join(F.coalesce("outs", F.array()), ";"),
                        F.array_join(F.coalesce("ins", F.array()), ";"),
                    )
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )

    final = labels.select(
        "graph", "node", F.concat(F.lit(_B), F.col("label")).alias("canon")
    )
    out = (
        t.join(
            final.withColumnRenamed("node", "subject").withColumnRenamed("canon", "_cs"),
            ["graph", "subject"],
            "left_outer",
        )
        .join(
            final.withColumnRenamed("node", "object").withColumnRenamed("canon", "_co"),
            ["graph", "object"],
            "left_outer",
        )
        .select(
            "graph",
            F.coalesce("_cs", F.col("subject")).alias("subject"),
            "predicate",
            # rename only IRI objects — a literal that merely looks like a
            # bnode id keeps its lexical value
            F.when(F.col("object_is_iri"), F.coalesce("_co", F.col("object")))
            .otherwise(F.col("object"))
            .alias("object"),
            "object_is_iri",
            "object_datatype",
        )
    )
    return out


def is_isomorphic(a: DataFrame, b: DataFrame, rounds: int = 3) -> bool:
    """Graph equality up to blank-node renaming (query.clj:172-175)."""
    ca = canonical_bnode_triples(a, rounds)
    cb = canonical_bnode_triples(b, rounds)
    return ca.exceptAll(cb).isEmpty() and cb.exceptAll(ca).isEmpty()
