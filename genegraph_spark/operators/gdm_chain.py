"""The full gene-validity GDM transform chain.

Reference: ``transform/gene_validity_refactor.clj:414-463``
(``transform-gdm``) — a union of 22 CONSTRUCT passes over the source
model merged with the ``gdm_sepio_relationships.ttl`` dictionary, a
segregation-unlink rewrite, evidence-connection + legacy-id augments,
the proband-score-cap aggregation (``add-proband-scores``,
``gene_validity_refactor.clj:350-369``), and a final variant-score
unlink rewrite.

Spark-first shape: every CONSTRUCT step is one declarative plan over
the same (small, per-event) model frame; the union of their outputs is
a single lazy DAG. At 100 TB scale the unit of work is one GDM EVENT
(a few hundred triples), so the whole chain runs as a per-graph
transformation over a corpus of events — the model frames here carry a
``graph`` column throughout, and nothing in the chain collects more
than a bounded scalar (approval date / assertion id: ≤1 row each, the
same bounded lookups the reference does driver-side via ``q/select``
+ ``first``).
"""

from __future__ import annotations

from functools import reduce
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sparql import (
    RDF_TYPE,
    RDF_TYPE_FULL,
    load_query_dir,
    sparql,
    tag_iri,
)

# Public bases, verbatim from the reference
# (transform/gene_validity_refactor.clj:11-13, 414-427).
GCI_BASE = "http://dataexchange.clinicalgenome.org/gci/"
LEGACY_REPORT_BASE = GCI_BASE + "legacy-report_"
AFF_BASE = "http://dataexchange.clinicalgenome.org/agent/"
AR_BASE = "http://reg.genome.network/allele/"
CV_BASE = "https://www.ncbi.nlm.nih.gov/clinvar/variation/"
PM_BASE = "https://pubmed.ncbi.nlm.nih.gov/"

# The construct-pass ordering of transform-gdm's q/union block
# (gene_validity_refactor.clj:428-451). Names are load_query_dir stems.
CONSTRUCT_ORDER = [
    "construct-proposition",
    "construct-evidence-level-assertion",
    "construct-experimental-evidence-assertions",
    "construct-genetic-evidence-assertion",
    "construct-ad-variant-assertions",
    "construct-ar-variant-assertions",
    "construct-cc-and-seg-assertions",
    "construct-proband-score",
    "construct-model-systems-evidence",
    "construct-functional-evidence",
    "construct-functional-alteration-evidence",
    "construct-rescue-evidence",
    "construct-case-control-evidence",
    "construct-proband-segregation-evidence",
    "construct-family-segregation-evidence",
    "construct-alleles",
    "construct-articles",
    "construct-earliest-articles",
    "construct-secondary-contributions",
    "construct-variant-score",
    "construct-ar-variant-score",
    "construct-unscoreable-evidence",
]

_SCORE_PRED = ":sepio/evidence-line-strength-score"
_HAS_EVIDENCE = ":sepio/has-evidence"
_CAP_LINE_TYPE = ":sepio/ProbandScoreCapEvidenceLine"


def _type_rows(model: DataFrame):
    return F.col("predicate").isin([RDF_TYPE, RDF_TYPE_FULL])


def find_affiliation(gdm: DataFrame) -> str | None:
    """The curation's affiliation IRI — the most recent provisional
    classification's affiliation, else the GDM's own
    (``has-affiliation-query``, gene_validity_refactor.clj:397-412)."""
    rows = sparql(
        gdm,
        """prefix gci: <http://dataexchange.clinicalgenome.org/gci/>
           select ?affiliationIRI where {
             ?proposition a gci:gdm .
             OPTIONAL { ?proposition gci:affiliation ?gdmAffiliationIRI . }
             OPTIONAL {
               ?classification a gci:provisionalClassification .
               ?classification gci:affiliation ?classificationAffiliationIRI .
               ?classification gci:last_modified ?date .
             }
             BIND(COALESCE(?classificationAffiliationIRI, ?gdmAffiliationIRI)
                  AS ?affiliationIRI) }
           ORDER BY DESC(?date) LIMIT 1""",
    ).collect()  # bounded: LIMIT 1
    return rows[0].affiliationIRI if rows else None


def find_hgnc_gene(gdm: DataFrame) -> str | None:
    """``gdm-is-about-gene-query`` (gene_validity_refactor.clj:340-346)."""
    rows = (
        sparql(
            gdm,
            """prefix gci: <http://dataexchange.clinicalgenome.org/gci/>
               select ?hgnc where {
                 ?gdm a gci:gdm .
                 ?gdm gci:gene ?gene .
                 ?gene gci:hgncId ?hgnc }""",
        )
        .limit(1)
        .collect()
    )
    return rows[0].hgnc if rows else None


def legacy_website_id(model: DataFrame, names: dict | None = None) -> str | None:
    """Assertion id + approval date composite
    (``legacy-website-id``, gene_validity_refactor.clj:371-395)."""
    import re as _re

    acts = sparql(
        model,
        "select ?activity where { ?activity :bfo/realizes :sepio/ApproverRole }",
        names=names,
    ).limit(1).collect()  # bounded: one approval activity per curation
    # nil approval date renders as "" (Clojure `str nil`), not "None"
    date = ""
    if acts:
        dates = sparql(
            model,
            "select ?d where { ?activity :sepio/activity-date ?d }",
            names=names,
            activity=("iri", acts[0].activity),
        ).limit(1).collect()
        if dates:
            date = dates[0].d.replace(":", "")
    asserts = sparql(
        model,
        "select ?assertion where { ?assertion a :sepio/GeneValidityEvidenceLevelAssertion }",
        names=names,
    ).limit(1).collect()
    if not asserts:
        return None
    m = _re.match(r"^(.*/)([a-z0-9-]*)$", asserts[0].assertion)
    if not m:
        return None
    return f"{m.group(1)}assertion_{m.group(2)}-{date}"


def add_proband_scores(
    model: DataFrame, cap: float = 3.0, names: dict | None = None
) -> DataFrame:
    """SOPv8 AR proband-score cap: for every
    ``:sepio/ProbandScoreCapEvidenceLine``, emit one
    ``evidence-line-strength-score`` triple = ``min(cap, sum(score of
    has-evidence targets))`` (``add-proband-scores``,
    gene_validity_refactor.clj:350-369).

    One aggregation: cap-line type rows → has-evidence edges →
    evidence scores, grouped by line. Integral results format without
    a trailing ``.0`` (Jena prints ``3`` for the capped integer sum)."""
    names = names or {}
    cap_type = names.get(_CAP_LINE_TYPE, _CAP_LINE_TYPE)
    has_ev = names.get(_HAS_EVIDENCE, _HAS_EVIDENCE)
    score_pred = names.get(_SCORE_PRED, _SCORE_PRED)
    lines = model.where(
        _type_rows(model) & (F.col("object") == cap_type)
    ).select(F.col("graph"), F.col("subject").alias("line"))
    edges = model.where(F.col("predicate") == has_ev).select(
        F.col("subject").alias("line"), F.col("object").alias("ev")
    )
    scores = model.where(F.col("predicate") == score_pred).select(
        F.col("subject").alias("ev"),
        F.col("object").try_cast("double").alias("score"),
    )
    agg = (
        lines.join(edges, "line")
        .join(scores, "ev")
        .groupBy("graph", "line")
        .agg(F.least(F.lit(cap), F.sum("score")).alias("capped"))
    )
    fmt = F.when(
        F.col("capped") == F.floor("capped"),
        F.col("capped").cast("long").cast("string"),
    ).otherwise(F.col("capped").cast("string"))
    new_triples = agg.select(
        "graph",
        F.col("line").alias("subject"),
        F.lit(score_pred).alias("predicate"),
        fmt.alias("object"),
        F.lit(False).alias("object_is_iri"),
        F.lit(None).cast("string").alias("object_datatype"),
    )
    return model.unionByName(new_triples)


def transform_gdm(
    gdm: DataFrame,
    query_dir: str,
    dictionary: DataFrame,
    entrez_gene: str | None = None,
    affiliation: str | None = None,
    names: dict | None = None,
) -> DataFrame:
    """Run the reference's full ``transform-gdm`` sequence
    (gene_validity_refactor.clj:414-463) over one GDM model frame.

    ``query_dir`` — directory of the reference ``.sparql`` files (loaded
    once via :func:`load_query_dir`). ``dictionary`` — the parsed
    ``gdm_sepio_relationships.ttl`` triples (``serialize.read_turtle``).
    ``entrez_gene`` — pre-resolved Entrez IRI for the GDM's HGNC gene
    (the reference resolves it against its HGNC dataset,
    clj:347-348+417; callers without that dataset resolve it upstream).
    ``names`` — optional local-names table
    (``functions.names.load_names_edn``) expanding ``:ns/name`` keywords
    to full IRIs, required for the unlink passes to match the
    dictionary-typed evidence lines exactly like the reference.
    """
    qs = load_query_dir(query_dir, names=names)
    spark = gdm.sparkSession
    # The 40-OPTIONAL construct plans spend most of their wall time in
    # Catalyst analysis; constraint propagation contributes up to half
    # of it on these shapes (measured 18.8s→8.5s on
    # construct_functional_evidence) and is also where the fused-plan
    # crash lived. Scoped set/restore — materialization is eager inside
    # this function, so the toggle never leaks into caller plans.
    cp_key = "spark.sql.constraintPropagation.enabled"
    cp_prev = spark.conf.get(cp_key, "true")
    spark.conf.set(cp_key, "false")
    try:
        return _transform_gdm(
            gdm, qs, dictionary, entrez_gene, affiliation, names
        )
    finally:
        spark.conf.set(cp_key, cp_prev)


def _transform_gdm(gdm, qs, dictionary, entrez_gene, affiliation, names):
    if affiliation is None:
        affiliation = find_affiliation(gdm)
    params = {
        "gcibase": GCI_BASE,
        "legacy_report_base": LEGACY_REPORT_BASE,
        "arbase": AR_BASE,
        "cvbase": CV_BASE,
        "pmbase": PM_BASE,
        "affbase": AFF_BASE,
    }
    if affiliation is not None:
        params["affiliation"] = ("iri", affiliation)
    if entrez_gene is not None:
        params["entrez_gene"] = ("iri", entrez_gene)

    source = gdm.unionByName(dictionary).localCheckpoint(eager=True)
    # the q/union block: 22 constructs, all over the SOURCE model. Each
    # construct is checkpointed as its OWN job — fusing all 22 into one
    # Catalyst plan (some have 40+ triple-pattern joins) explodes plan
    # compilation/codegen, exactly like the reference executes each
    # q/union arm as a separate Jena query. At corpus scale the unit of
    # parallelism is the EVENT (graph column), not the construct — the
    # per-construct jobs are each fully distributed over events.
    def _arm(name):
        # threaded compile+materialize, same rationale and pool shape
        # as _transform_gdm_corpus (guide §2.6)
        return qs[name].run(source, **params).localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=4) as pool:
        arms = list(pool.map(_arm, CONSTRUCT_ORDER))
    unlinked = (
        reduce(DataFrame.unionByName, arms)
        .dropDuplicates()
        # cut before the unlink rewrite: feeding the lazy union+dedup
        # (an Aggregate over 22 branches) into the next query's MINUS
        # trips the same Catalyst constraint-propagation failure
        .localCheckpoint(eager=True)
    )
    # rewrite: drop unscored family segregations; checkpoint so the
    # union lineage does not re-execute under the later passes
    unlinked = (
        qs["unlink-segregations-when-no-proband-and-lod-scores"]
        .run(unlinked)
        .localCheckpoint(eager=True)
    )
    # augments over the ACCUMULATED model. Each pass is checkpointed:
    # chaining the full-model rewrites lazily re-feeds the whole prior
    # plan into Catalyst's constraint propagation, which both explodes
    # compile cost and (observed on Spark 4.1) can crash PruneFilters
    # with an AttributeMap miss on the fused union+aggregate plan.
    connections = qs["construct-evidence-connections"].run(
        unlinked.unionByName(dictionary)
    ).localCheckpoint(eager=True)
    legacy = legacy_website_id(unlinked, names=names)
    parts = [unlinked, connections]
    if legacy is not None:
        parts.append(
            # the reference binds the legacy id as a RESOURCE
            # (q/resource, gene_validity_refactor.clj:393) — an IRI
            qs["add-legacy-website-id"]
            .run(unlinked, legacy_id=("iri", legacy))
            .localCheckpoint(eager=True)
        )
    linked = reduce(DataFrame.unionByName, parts)
    scored = add_proband_scores(linked, names=names).localCheckpoint(eager=True)
    final = qs["unlink-variant-scores-when-proband-scores-exist"].run(scored)
    return final.dropDuplicates()


# ---------------------------------------------------------------------------
# Corpus mode — N curations through the 22-construct chain in ONE job
# ---------------------------------------------------------------------------

def find_affiliations(gdm: DataFrame) -> DataFrame:
    """Per-graph ``find_affiliation``: one row per graph with the
    curation's affiliation IRI — the most-recent provisional
    classification's, else the GDM's own (``has-affiliation-query``,
    gene_validity_refactor.clj:397-412, lifted from a per-curation
    LIMIT-1 query to ONE window-top-1 over the whole corpus).

    Scale: two predicate-filtered scans + co-keyed joins + one
    per-graph window — everything partitions on the graph key."""
    from pyspark.sql import Window

    t = F.col("predicate").isin([RDF_TYPE, RDF_TYPE_FULL])
    aff = F.col("predicate") == GCI_BASE + "affiliation"
    props = gdm.where(t & (F.col("object") == GCI_BASE + "gdm")).select(
        "graph", F.col("subject").alias("prop")
    )
    affs = gdm.where(aff).select(
        "graph", F.col("subject").alias("node"), F.col("object").alias("a")
    )
    gaff = props.join(
        affs.withColumnRenamed("node", "prop").withColumnRenamed("a", "gdm_aff"),
        ["graph", "prop"],
        "left",
    )
    cls = gdm.where(
        t & (F.col("object") == GCI_BASE + "provisionalClassification")
    ).select("graph", F.col("subject").alias("cls"))
    cls_full = (
        cls.join(
            affs.withColumnRenamed("node", "cls").withColumnRenamed("a", "cls_aff"),
            ["graph", "cls"],
        )
        .join(
            gdm.where(F.col("predicate") == GCI_BASE + "last_modified").select(
                "graph",
                F.col("subject").alias("cls"),
                F.col("object").alias("date"),
            ),
            ["graph", "cls"],
        )
    )
    sol = gaff.join(cls_full, "graph", "left")
    w = Window.partitionBy("graph").orderBy(
        F.desc_nulls_last("date"), F.asc_nulls_last("cls_aff")
    )
    return (
        sol.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "graph", F.coalesce("cls_aff", "gdm_aff").alias("affiliation")
        )
    )


def find_hgnc_genes(gdm: DataFrame) -> DataFrame:
    """Per-graph ``gdm-is-about-gene-query``
    (gene_validity_refactor.clj:340-346): the GDM's HGNC id literal, one
    deterministic row per graph (min stands in for the reference's
    first-solution take)."""
    t = F.col("predicate").isin([RDF_TYPE, RDF_TYPE_FULL])
    props = gdm.where(t & (F.col("object") == GCI_BASE + "gdm")).select(
        "graph", F.col("subject").alias("prop")
    )
    genes = gdm.where(F.col("predicate") == GCI_BASE + "gene").select(
        "graph", F.col("subject").alias("prop"), F.col("object").alias("gene")
    )
    hgnc = gdm.where(F.col("predicate") == GCI_BASE + "hgncId").select(
        "graph", F.col("subject").alias("gene"), F.col("object").alias("hgnc")
    )
    return (
        props.join(genes, ["graph", "prop"])
        .join(hgnc, ["graph", "gene"])
        .groupBy("graph")
        .agg(F.min("hgnc").alias("hgnc"))
    )


def legacy_website_ids(model: DataFrame, names: dict | None = None) -> DataFrame:
    """Per-graph ``legacy-website-id``
    (gene_validity_refactor.clj:371-395): assertion-base +
    ``assertion_<id>-<colon-stripped approval date>``, one grouped pass
    per input (min = the reference's first-solution take; curations
    have one approval activity and one assertion). Graphs without a
    matching assertion produce no row — exactly the single-curation
    path's skip."""
    names = names or {}

    def N(k):
        return names.get(k, k)

    t = F.col("predicate").isin([RDF_TYPE, RDF_TYPE_FULL])
    acts = (
        model.where(
            (F.col("predicate") == N(":bfo/realizes"))
            & (F.col("object") == N(":sepio/ApproverRole"))
        )
        .groupBy("graph")
        .agg(F.min("subject").alias("activity"))
    )
    dates = model.where(
        F.col("predicate") == N(":sepio/activity-date")
    ).select(
        "graph", F.col("subject").alias("activity"), F.col("object").alias("d")
    )
    adate = acts.join(dates, ["graph", "activity"], "left").groupBy("graph").agg(
        F.min("d").alias("date")
    )
    asserts = (
        model.where(
            t
            & (
                F.col("object")
                == N(":sepio/GeneValidityEvidenceLevelAssertion")
            )
        )
        .groupBy("graph")
        .agg(F.min("subject").alias("assertion"))
    )
    rx = r"^(.*/)([a-z0-9-]*)$"
    base = F.regexp_extract("assertion", rx, 1)
    aid = F.regexp_extract("assertion", rx, 2)
    legacy = F.when(
        base != "",
        F.concat(
            base,
            F.lit("assertion_"),
            aid,
            F.lit("-"),
            F.coalesce(F.translate(F.col("date"), ":", ""), F.lit("")),
        ),
    )
    return (
        asserts.join(adate, "graph", "left")
        .select("graph", legacy.alias("legacy_id"))
        .where(F.col("legacy_id").isNotNull())
    )


def _replicate_dictionary(graphs: DataFrame, dictionary: DataFrame) -> DataFrame:
    """The dictionary (``gdm_sepio_relationships.ttl``, a few hundred
    triples) must be visible INSIDE every curation's graph for the
    graph-scoped scans — replicate it per graph via a broadcast cross
    join (dimension × graph-dimension; generated map-side, linear in
    curation count)."""
    d = dictionary.drop("graph")
    return graphs.crossJoin(F.broadcast(d)).select(
        "graph", "subject", "predicate", "object", "object_is_iri",
        "object_datatype",
    )


def transform_gdm_corpus(
    events: DataFrame,
    query_dir: str,
    dictionary: DataFrame,
    names: dict | None = None,
    entrez_map: DataFrame | None = None,
    affiliations: DataFrame | None = None,
    constructs: list[str] | None = None,
) -> DataFrame:
    """``transform-gdm`` over a CORPUS of curations — each named graph
    of ``events`` is one GDM model, and all of them flow through the 22
    reference constructs + unlinks + augments + proband cap in ONE set
    of Spark jobs (no driver loop over curations; VERDICT r5 item 3).

    Per-curation parameters become per-graph seed frames: affiliation
    (:func:`find_affiliations`, or a caller-provided ``affiliations``
    frame), the Entrez gene (per-graph HGNC id joined against
    ``entrez_map(hgnc, entrez_gene)`` — the reference's
    ``?gene :owl/same-as ?hgnc_gene`` lookup over its HGNC dataset),
    and the legacy website id (:func:`legacy_website_ids`). Each
    construct runs with ``per_graph`` seeding, which reproduces Jena's
    QuerySolutionMap substitution at every scope — including
    ``?affiliation`` referenced inside the family-segregation
    ``FILTER NOT EXISTS``.

    Curations missing an affiliation or an Entrez mapping run with that
    variable FREE, exactly like the reference passing a nil param: the
    corpus splits into at most four null-signature slices (a bounded
    driver decision, not a per-curation loop) and each slice runs the
    chain once with the vars its graphs actually bind.

    Scale: the unit of parallelism is the GRAPH key end to end — scans,
    path steps, OPTIONAL/MINUS/EXISTS joins, the proband-cap
    aggregation, and the final dedup all partition on it. The per-stage
    ``localCheckpoint`` discipline of the single-curation path carries
    over unchanged (Catalyst plan-size containment, not data movement).

    ``constructs`` narrows the construct pass list to a subset of
    :data:`CONSTRUCT_ORDER` (wiring diagnostics/tests only — production
    runs the full chain).
    """
    spark = events.sparkSession
    graphs = events.select("graph").distinct()
    affs = affiliations if affiliations is not None else find_affiliations(events)
    seeds = graphs.join(affs, "graph", "left")
    if entrez_map is not None:
        ent = find_hgnc_genes(events).join(
            F.broadcast(entrez_map), "hgnc"
        ).select("graph", "entrez_gene")
        seeds = seeds.join(ent, "graph", "left")
    else:
        seeds = seeds.withColumn("entrez_gene", F.lit(None).cast("string"))
    seeds = seeds.localCheckpoint(eager=True)

    cp_key = "spark.sql.constraintPropagation.enabled"
    cp_prev = spark.conf.get(cp_key, "true")
    spark.conf.set(cp_key, "false")
    try:
        return _transform_gdm_corpus(
            events, query_dir, dictionary, names, seeds,
            constructs or CONSTRUCT_ORDER,
        )
    finally:
        spark.conf.set(cp_key, cp_prev)


def _transform_gdm_corpus(events, query_dir, dictionary, names, seeds, constructs):
    qs = load_query_dir(query_dir, names=names)
    params = {
        "gcibase": GCI_BASE,
        "legacy_report_base": LEGACY_REPORT_BASE,
        "arbase": AR_BASE,
        "cvbase": CV_BASE,
        "pmbase": PM_BASE,
        "affbase": AFF_BASE,
    }
    seed_vars = ["affiliation", "entrez_gene"]
    # null-signature slices: ≤ 2^len(seed_vars) rows collected — a
    # bounded driver decision mirroring "was this param passed" in the
    # reference, NOT per-curation work
    sigs = [
        tuple(r[v] for v in seed_vars)
        for r in seeds.select(
            *[F.col(v).isNull().alias(v) for v in seed_vars]
        ).distinct().collect()
    ]
    if not sigs:  # empty corpus → empty model, not a reduce() crash
        return events.limit(0)
    slices = []
    for sig in sorted(sigs):
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(v).isNull() if null else F.col(v).isNotNull()
                for v, null in zip(seed_vars, sig)
            ],
        )
        bound = [v for v, null in zip(seed_vars, sig) if not null]
        sl = seeds.where(cond)
        g_sl = sl.select("graph")
        source = (
            events.join(g_sl, "graph", "left_semi")
            .unionByName(_replicate_dictionary(g_sl, dictionary))
            .localCheckpoint(eager=True)
        )
        per_graph = sl.select(
            "graph", *[tag_iri(v).alias(v) for v in bound]
        )
        # The 22 constructs are independent until the union: compile +
        # materialize them on a small driver thread pool (optimization
        # guide §2.6 — overlap independent jobs). Compile wall is
        # dominated by py4j/Catalyst waits that release the GIL, and
        # each arm's checkpoint job back-fills executors freed by the
        # previous arm's tail; pool.map preserves construct order.
        # run() creates per-call state over an immutable AST, so the
        # compiled queries are safe to run concurrently.
        def _arm(name):
            sc = source.sparkSession.sparkContext
            sc.setJobDescription(f"gdm construct {name}")
            try:
                return (
                    qs[name]
                    .run(source, per_graph=per_graph, **params)
                    .localCheckpoint(eager=True)
                )
            finally:
                sc.setJobDescription(None)

        with ThreadPoolExecutor(max_workers=4) as pool:
            arms = list(pool.map(_arm, constructs))
        unlinked = (
            reduce(DataFrame.unionByName, arms)
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        slices.append((unlinked, g_sl))

    unlinked = reduce(
        DataFrame.unionByName, [u for u, _ in slices]
    ).localCheckpoint(eager=True)
    all_graphs = reduce(DataFrame.unionByName, [g for _, g in slices])
    bare = all_graphs.select("graph")
    unlinked = (
        qs["unlink-segregations-when-no-proband-and-lod-scores"]
        .run(unlinked, per_graph=bare)
        .localCheckpoint(eager=True)
    )
    connections = (
        qs["construct-evidence-connections"]
        .run(
            unlinked.unionByName(_replicate_dictionary(bare, dictionary)),
            per_graph=bare,
        )
        .localCheckpoint(eager=True)
    )
    legacy = legacy_website_ids(unlinked, names=names)
    augment = (
        qs["add-legacy-website-id"]
        .run(
            unlinked,
            # q/resource: the legacy id is bound as an IRI
            per_graph=legacy.select("graph", tag_iri("legacy_id").alias("legacy_id")),
        )
        .localCheckpoint(eager=True)
    )
    linked = unlinked.unionByName(connections).unionByName(augment)
    scored = add_proband_scores(linked, names=names).localCheckpoint(eager=True)
    final = qs["unlink-variant-scores-when-proband-scores-exist"].run(
        scored, per_graph=bare
    )
    return final.dropDuplicates()
