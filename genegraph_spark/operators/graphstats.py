"""Graph analytics over edge frames: PageRank and degree statistics.

Not a reference operator (genegraph's traversals are per-query path
walks); required by the engine's KG-analytics mandate — entity
importance over the mention/link graph is the standard ranking signal a
KG-construction pipeline feeds back into curation (which entities to
canonicalize first, which pages to re-crawl).

Scale notes (100 TB):
- PageRank: each iteration is ONE shuffle — edges join ranks on src
  (src-keyed partitioning reused across iterations), contributions
  reduce per dst with map-side partial sums. Iteration count is fixed
  (power iteration, not convergence-polled), so the job graph is a
  bounded chain; per-iteration lazy localCheckpoints stop lineage
  growth. Hot dst nodes (BRCA1-class) are plain aggregation skew — AQE
  splits them; no broadcast of anything corpus-scale.
- Determinism: ranks are rounded per iteration (9 dp) so float
  summation order across partitions cannot drift results between
  engines/partitionings — the DuckDB oracle unrolls the same
  iterations and matches bit-for-bit at the final 6 dp rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
# PageRank iterations between lineage cuts (see the loop below)
CHECKPOINT_EVERY = 8


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge frame.

    PR_{t+1}(v) = (1-d)/N + d * Σ_{u→v} PR_t(u) / outdeg(u); nodes
    without inbound edges hold the teleport term. Dangling mass is NOT
    redistributed (the simplified variant; documented — the oracle
    mirrors it). Returns (node, rank) for every node, rank rounded to
    6 dp."""
    # ONE driver-side action for the whole setup: e and nodes are lazy
    # checkpoints, so the single nodes.count() below materializes both
    # (the former two eager checkpoints each re-ran the full upstream
    # edge plan as their own job — 3 setup jobs instead of 1, pure
    # scheduling overhead). links stays lazy: the scheduler computes a
    # checkpointed RDD once per job even though all n_iter iteration
    # subtrees reference it.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    # both constants computed as the SAME double expressions the oracle
    # uses (Python round() is half-even; engine round is half-up — keep
    # all rounding engine-side)
    teleport = F.round((F.lit(1.0) - F.lit(DAMPING)) / F.lit(float(n)), 12)
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # (src, dst, outdeg) reused every iteration: checkpoint cuts lineage
    links = e.join(outdeg, "src").localCheckpoint(eager=False)
    pr = nodes.select("node", F.round(F.lit(1.0) / F.lit(float(n)), 9).alias("rank"))
    for i in range(n_iter):
        contrib = (
            links.join(pr, links["src"] == pr["node"])
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = nodes.join(contrib, nodes["node"] == contrib["dst"], "left_outer").select(
            "node",
            F.round(
                teleport + F.lit(DAMPING) * F.coalesce("inflow", F.lit(0.0)),
                9,
            ).alias("rank"),
        )
        # Checkpoint only every K rounds: DataFrame.localCheckpoint runs
        # the FULL Catalyst pipeline immediately even with eager=False
        # (queryExecution.toRdd), so a per-round checkpoint paid one
        # optimizer pass per iteration on the driver (~0.2s each,
        # measured — the dominant cost of the whole query at fixture
        # scale). Lineage growth per round is linear (pr appears once in
        # the next round's plan), so a bounded chain of K rounds between
        # cuts is safe at any scale.
        if (i + 1) % CHECKPOINT_EVERY == 0 and (i + 1) < n_iter:
            pr = pr.localCheckpoint(eager=False)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, out_degree, in_degree) over distinct edges — one pass per
    direction, full outer merge."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    out_d = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("out_degree"))
    in_d = e.groupBy(F.col("dst").alias("node")).agg(F.count("*").alias("in_degree"))
    zero = F.lit(0).cast("long")
    return out_d.join(in_d, "node", "full_outer").select(
        "node",
        F.coalesce("out_degree", zero).alias("out_degree"),
        F.coalesce("in_degree", zero).alias("in_degree"),
    )


def comention_pmi(
    mentions: DataFrame,
    doc_col: str = "url",
    entity_col: str = "canonical_iri",
    min_pairs: int = 1,
) -> DataFrame:
    """Pointwise mutual information between co-mentioned entity pairs —
    the association-strength signal KG construction uses to weight
    candidate edges and entity-linking priors (which co-occurrences are
    meaningful vs incidental).

    Input: (doc, entity) mention records (one row per distinct mention
    pair is derived internally). Output: (entity_a, entity_b, n_docs,
    pmi) for a < b with ``n_docs`` >= min_pairs; pmi = log2(N * n_ab /
    (n_a * n_b)) over document-level co-occurrence, rounded to 6 dp.

    Scale: the pair explode is bounded per document by its distinct
    entity count squared — documents mention O(10) entities, so the pair
    frame is ~100× the mention frame, not corpus². One shuffle keys the
    pair count; marginals are a dimension-scale aggregate joined in
    (broadcast — entity vocabulary, not corpus)."""
    de = mentions.select(
        F.col(doc_col).alias("doc"), F.col(entity_col).alias("entity")
    ).distinct()
    n_docs_total = de.select("doc").distinct().count()
    marg = de.groupBy("entity").agg(F.count("*").alias("n"))
    a = de.select("doc", F.col("entity").alias("entity_a"))
    b = de.select("doc", F.col("entity").alias("entity_b"))
    pairs = (
        a.join(b, "doc")
        .where(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_pairs)
    )
    ma = marg.select(F.col("entity").alias("entity_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("entity").alias("entity_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ma), "entity_a")
        .join(F.broadcast(mb), "entity_b")
        .select(
            "entity_a",
            "entity_b",
            "n_docs",
            F.round(
                F.log2(
                    F.lit(float(n_docs_total))
                    * F.col("n_docs")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
