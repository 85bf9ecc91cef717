"""Entity canonicalization: connected components over same-as edges.

Reference analog: genegraph's fixpoint traversal (transitive
``rdfs:subClassOf*`` property paths,
``src/genegraph/source/graphql/common/curation.clj:303-314``) and its
external VRS normalizer + cache
(``src/genegraph/transform/clinvar/cancervariants.clj:59-151``), replaced
per the north rule by a deterministic local canonicalizer: same-as xref
edges (``owl:sameAs``) → iterative join to fixpoint → canonical IRI =
min entity IRI per component.

Scale notes: the distributed path is the alternating "large-star /
small-star" contraction (Kiveris et al., "Connected Components in
MapReduce and Beyond", SOCC'14): each round is two groupBy+join passes
over the edge set and the edge count never grows past |E| + |V|; the
two-phase alternation converges in O(log² n) rounds worst-case and
empirically ≈ log₂(diameter) on chain-shaped graphs (xref chains are the
adversarial input — see ``test_round3.test_cc_chain_rounds_logarithmic``:
a 300k-edge chain converges in ≤ 20 rounds where min-label propagation
needs diameter ≈ 300k rounds). We localCheckpoint every round to cut
lineage (the same reason the reference caches its union model per tx,
``database/util.clj:13-22``). Hot components (BRCA1-class entities with
millions of same-as mentions) stay small here because components are over
the *dictionary + xref* vocabulary, not the corpus; corpus skew is
handled downstream at the mention join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import algebra as A

# Star-contraction rounds before :func:`connected_components` gives up
# (≈ log₂ of the diameter are needed; a 300k-edge chain takes ≤ 20).
CC_ROUNDS = 50


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components. Returns (node, component) where ``component``
    is the lexicographic min node id in the component — fully
    deterministic, independent of partitioning and iteration order.

    Adaptive execution: a driver-side fixpoint loop costs ~1s of job
    scheduling per round regardless of data size, so graphs of at most
    :data:`.algebra.LOCAL_ROWS` edges (the curated-dictionary case —
    always dictionary-scale, not corpus-scale) are collected and
    union-found on the driver in one pass; the output is bounded by the
    node count, so the input edge count budgets the driver. Bigger graphs
    take the distributed alternating-star contraction (module
    docstring). Same result either way."""
    probe = edges.select(src, dst).limit(A.LOCAL_ROWS + 1).collect()
    if len(probe) <= A.LOCAL_ROWS:
        rows = probe
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = find(r[0]), find(r[1])
            if a != b:
                parent[max(a, b)] = min(a, b)
        # second pass: min node id per root (roots are already the min
        # because union always parents the larger under the smaller)
        out = sorted((n, find(n)) for n in parent)
        return edges.sparkSession.createDataFrame(out, "node string, component string")

    # ---- distributed path: alternating large-star / small-star ----------
    # Invariant: `e` holds each undirected edge once, oriented child→parent
    # as (u, v) with u > v; at the fixpoint every component is a single
    # star centered at its min node, so `e` IS the (node, component) map
    # for non-root nodes (Kiveris et al. SOCC'14, Theorem 1).
    # lazy checkpoints + one count: a single job materializes both
    # all_nodes and e (two eager checkpoints each re-ran the edge plan
    # as separate jobs; one scheduling round-trip per fixpoint step is
    # the dominant cost at dictionary scales and free savings at lake
    # scale)
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
    )
    e = (
        sym.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_cnt = e.count()
    converged = False
    for _ in range(CC_ROUNDS):
        # large-star: every node u links its strictly-larger neighbors to
        # min(Γ(u) ∪ {u}); halves long chains by skipping over u.
        nbrs = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = nbrs.groupBy("u").agg(F.min("v").alias("m")).select(
            "u", F.least("m", "u").alias("m")
        )
        large = (
            nbrs.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: every node u links its smaller neighbors (and itself)
        # to the min of that set; flattens local stars.
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        small = small.localCheckpoint(eager=False)
        cnt = small.count()  # one job: materializes the checkpoint too
        # fixpoint ⟺ same edge SET: equal size + empty one-way difference
        if cnt == prev_cnt and small.exceptAll(e).limit(1).count() == 0:
            e = small
            converged = True
            break
        e, prev_cnt = small, cnt
    if not converged:
        # mid-run star edges may still split one component into several
        # stars — unlike monotone label propagation there is no safe
        # partial answer, so fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {CC_ROUNDS} rounds"
        )
    return all_nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("parent")), "node", "left_outer"
    ).select("node", F.coalesce("parent", "node").alias("component"))


def canonical_entity_map(
    dictionary: DataFrame,
    sameas: DataFrame,
) -> DataFrame:
    """(iri, canonical_iri): canonical = min *entity* IRI per component.

    Singleton entities (no shared xref) map to themselves.
    Components come from :func:`connected_components`, solved on the
    driver when the edges fit in :data:`.algebra.LOCAL_ROWS`.
    """
    edges = sameas.select(F.col("iri").alias("src"), F.col("xref").alias("dst"))
    comps = connected_components(edges)
    entities = dictionary.select("iri").distinct()
    ent_comp = entities.join(comps, entities["iri"] == comps["node"], "left_outer").select(
        "iri", F.coalesce("component", "iri").alias("component")
    )
    canon = ent_comp.groupBy("component").agg(F.min("iri").alias("canonical_iri"))
    return ent_comp.join(canon, "component").select("iri", "canonical_iri")
