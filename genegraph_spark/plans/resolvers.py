"""Resolvers — the reference's GraphQL public surface re-expressed as
DataFrame functions over the triples view or a source model.

Reference analogs: ``resolver-map``
(``src/genegraph/source/graphql/core.clj:42-150``) registers keyword →
``(fn [context args value])`` resolvers; the totals resolvers
(``tot-*``, ``core.clj:86-90``; ``server_status.clj``) are the
``statistics`` view here.

Spark-first shape: a resolver is ``fn(frame, **args) -> DataFrame``.
Every resolver composes predicate-filtered scans + broadcast joins the
same way the curation views do; resolution stays a deferred DataFrame
plan, so a serving layer can batch, cache, or push further filters
before collecting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import iri as I


def statistics(triples: DataFrame) -> DataFrame:
    """Single-row KG totals (tot-* / server-status resolvers): one scan,
    conditional aggregates — no per-total point queries."""
    is_type = F.col("predicate") == I.RDF_TYPE

    def typed(tp):
        return F.countDistinct(
            F.when(is_type & (F.col("object") == tp), F.col("subject"))
        )

    return triples.agg(
        F.count("*").alias("n_triples"),
        typed(I.C_WEBPAGE).alias("n_pages"),
        typed(I.TYPE_IRIS["gene"]).alias("n_genes"),
        typed(I.TYPE_IRIS["disease"]).alias("n_diseases"),
        typed(I.TYPE_IRIS["variant"]).alias("n_variants"),
        F.count(F.when(F.col("predicate") == I.P_MENTIONS, True)).alias("n_mentions"),
    )


def evidence_model(events: DataFrame) -> DataFrame:
    """Synthetic SEPIO evidence forest in the triples schema — chains of
    four evidence lines per root assertion (root → child → grandchild →
    great-grandchild by consecutive event ids), each line carrying a
    strength score and description, each root a qualified contribution
    with agent + activity date. This is the model shape the evidence-card
    resolvers traverse (``evidence_line.clj`` / ``contribution.clj`` /
    ``evidence.clj`` field resolvers over ``:sepio/has-evidence``
    trees)."""
    el = F.concat(F.lit("urn:el:"), F.col("event_id").cast("string"))
    parent = F.concat(F.lit("urn:el:"), (F.col("event_id") - 1).cast("string"))
    contrib = F.concat(F.lit("urn:contrib:"), F.col("event_id").cast("string"))
    agent = F.concat(F.lit("urn:aff:"), (F.col("user_id") % 10).cast("string"))
    is_root = F.col("event_id") % 4 == 0

    def t(s, p, o, is_iri):
        return events.select(
            F.lit("g").alias("graph"),
            s.alias("subject"),
            F.lit(p).alias("predicate"),
            o.cast("string").alias("object"),
            F.lit(is_iri).alias("object_is_iri"),
            F.lit(None).cast("string").alias("object_datatype"),
        )

    parts = [
        t(el, I.RDF_TYPE, F.lit(":sepio/Assertion"), True).where(is_root),
        t(parent, ":sepio/has-evidence", el, True).where(~is_root),
        t(el, ":sepio/evidence-line-strength-score", F.round("value", 4), False),
        t(el, ":dc/description", F.col("event_type"), False),
        t(el, ":sepio/qualified-contribution", contrib, True).where(is_root),
        t(contrib, ":sepio/has-agent", agent, True).where(is_root),
        # fixed 6-digit micros: a bare timestamp→string cast trims
        # trailing zeros differently across engines
        t(
            contrib,
            ":sepio/activity-date",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            False,
        ).where(is_root),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def evidence_cards(model: DataFrame, max_depth: int = 4) -> DataFrame:
    """Flatten every root assertion's evidence tree into card rows —
    the evidence-card surface a UI renders from the per-field resolvers
    (``evidence_line.clj`` score/items, ``evidence.clj``
    source/description, ``contribution.clj`` agent/realizes/date,
    ``assertion.clj``). The reference answers each field with a separate
    per-node traversal; here the WHOLE card for every assertion
    materializes in one plan.

    Returns (root, line, depth, score, description, agent,
    activity_date): one row per (root, descendant line) with the root's
    approval contribution denormalized on.

    Scale shape: evidence trees are shallow (≤``max_depth``), so the
    traversal is ``max_depth`` self-joins of the dimension-scale edge
    frame — NO unbounded fixpoint, no driver-side recursion; per-line
    fields and the root contribution attach with ordinary equi-joins
    Catalyst can reorder/broadcast."""
    edges = (
        model.where(F.col("predicate") == ":sepio/has-evidence")
        .select(F.col("subject").alias("parent"), F.col("object").alias("child"))
        .distinct()
    )
    roots = (
        model.where(
            (F.col("predicate") == I.RDF_TYPE)
            & (F.col("object") == ":sepio/Assertion")
        )
        .select(F.col("subject").alias("root"))
        .distinct()
    )
    level = roots.join(edges, roots.root == edges.parent).select(
        "root", F.col("child").alias("line"), F.lit(1).alias("depth")
    )
    acc = level
    for d in range(2, max_depth + 1):
        level = level.join(edges, level.line == edges.parent).select(
            "root", F.col("child").alias("line"), F.lit(d).alias("depth")
        )
        acc = acc.unionByName(level)

    def field(pred, name):
        return model.where(F.col("predicate") == pred).select(
            F.col("subject").alias("line"), F.col("object").alias(name)
        )

    cards = (
        acc.join(field(":sepio/evidence-line-strength-score", "score"), "line", "left_outer")
        .join(field(":dc/description", "description"), "line", "left_outer")
    )
    contrib = (
        model.where(F.col("predicate") == ":sepio/qualified-contribution")
        .select(F.col("subject").alias("root"), F.col("object").alias("contrib"))
        .join(
            model.where(F.col("predicate") == ":sepio/has-agent").select(
                F.col("subject").alias("contrib"), F.col("object").alias("agent")
            ),
            "contrib",
            "left_outer",
        )
        .join(
            model.where(F.col("predicate") == ":sepio/activity-date").select(
                F.col("subject").alias("contrib"),
                F.col("object").alias("activity_date"),
            ),
            "contrib",
            "left_outer",
        )
        .drop("contrib")
    )
    return cards.join(contrib, "root", "left_outer").select(
        "root",
        "line",
        "depth",
        F.col("score").cast("double").alias("score"),
        "description",
        "agent",
        "activity_date",
    )


def region_model(part: DataFrame) -> DataFrame:
    """Synthetic sequence-feature model in the triples schema — region
    features with a chromosomal band and per-row coordinate nodes
    carrying assembly/chromosome/strand/interval, the shape the
    region-feature and coordinate field resolvers traverse
    (``region_feature.clj`` label/band/coordinates;
    ``coordinate.clj`` build/assembly/chromosome/strand/start/end over
    ``:geno/has-location`` → ``:so/assembly`` / ``:geno/has-interval``).
    Deterministic derivation from the ``part`` table."""
    feat = F.concat(F.lit("urn:region:"), (F.col("p_partkey") % 40).cast("string"))
    coord = F.concat(F.lit("urn:coord:"), F.col("p_partkey").cast("string"))
    asm = F.concat(F.lit("urn:assembly:"), F.col("p_partkey").cast("string"))
    build = F.when(F.col("p_partkey") % 2 == 0, "GRCh38").otherwise("GRCh37")
    chrom = F.concat(F.lit("chr"), (F.col("p_partkey") % 22 + 1).cast("string"))
    strand = F.when(F.col("p_partkey") % 3 == 0, "-").otherwise("+")
    start = (F.col("p_partkey") * 1000).cast("long")
    end = (F.col("p_partkey") * 1000 + (F.col("p_size") % 50 + 1) * 100).cast(
        "long"
    )
    band = F.concat(
        F.when(F.col("p_partkey") % 2 == 0, F.lit("q")).otherwise(F.lit("p")),
        (F.col("p_partkey") % 40 % 36 + 11).cast("string"),
    )

    def t(s, p, o, is_iri):
        return part.select(
            F.lit("g").alias("graph"),
            s.alias("subject"),
            F.lit(p).alias("predicate"),
            o.cast("string").alias("object"),
            F.lit(is_iri).alias("object_is_iri"),
            F.lit(None).cast("string").alias("object_datatype"),
        )

    parts = [
        t(feat, I.RDF_TYPE, F.lit(":so/SequenceFeature"), True),
        t(feat, ":rdfs/label", F.concat(F.lit("region "), feat), False),
        t(feat, ":so/chromosome-band", band, False),
        t(feat, ":geno/has-location", coord, True),
        t(coord, ":so/assembly", asm, True),
        t(asm, ":data/genome-build-identifier", build, False),
        t(asm, ":so/chromosome", chrom, False),
        t(coord, ":geno/on-strand", strand, False),
        t(coord, ":geno/has-interval", F.concat(coord, F.lit("_iv")), True),
        t(F.concat(coord, F.lit("_iv")), ":geno/start-position", start, False),
        t(F.concat(coord, F.lit("_iv")), ":geno/end-position", end, False),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates()


def region_feature_cards(model: DataFrame) -> DataFrame:
    """One row per (region feature, coordinate): label + chromosomal
    band + the coordinate's build/chromosome/strand/start/end — the
    region-feature and coordinate per-field resolvers
    (``region_feature.clj``, ``coordinate.clj``) collapsed into one
    star-join plan over predicate-filtered scans. All frames share the
    feature/coordinate keys; Catalyst reorders/broadcasts freely; no
    per-node ld1-> point traversals."""

    def field(pred, key, name):
        return model.where(F.col("predicate") == pred).select(
            F.col("subject").alias(key), F.col("object").alias(name)
        )

    feats = (
        model.where(
            (F.col("predicate") == I.RDF_TYPE)
            & (F.col("object") == ":so/SequenceFeature")
        )
        .select(F.col("subject").alias("feature"))
        .distinct()
    )
    loc = model.where(F.col("predicate") == ":geno/has-location").select(
        F.col("subject").alias("feature"), F.col("object").alias("coordinate")
    )
    iv = model.where(F.col("predicate") == ":geno/has-interval").select(
        F.col("subject").alias("coordinate"), F.col("object").alias("_iv")
    )
    asm = model.where(F.col("predicate") == ":so/assembly").select(
        F.col("subject").alias("coordinate"), F.col("object").alias("_asm")
    )
    return (
        feats.join(field(":rdfs/label", "feature", "label"), "feature", "left_outer")
        .join(
            field(":so/chromosome-band", "feature", "band"), "feature", "left_outer"
        )
        .join(loc, "feature")
        .join(field(":geno/on-strand", "coordinate", "strand"), "coordinate", "left_outer")
        .join(asm, "coordinate", "left_outer")
        .join(
            field(":data/genome-build-identifier", "_asm", "build"),
            "_asm",
            "left_outer",
        )
        .join(field(":so/chromosome", "_asm", "chromosome"), "_asm", "left_outer")
        .join(iv, "coordinate", "left_outer")
        .join(
            field(":geno/start-position", "_iv", "start_pos"), "_iv", "left_outer"
        )
        .join(field(":geno/end-position", "_iv", "end_pos"), "_iv", "left_outer")
        .select(
            "feature",
            "coordinate",
            "label",
            "band",
            "build",
            "chromosome",
            "strand",
            F.col("start_pos").cast("long").alias("start_pos"),
            F.col("end_pos").cast("long").alias("end_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Generic-resource / gene-feature / drug / gene-validity-report tiers (r5)
# ---------------------------------------------------------------------------

RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
FOAF_NAME = "http://xmlns.com/foaf/0.1/name"
CG_DISPLAY_LABEL = (
    "http://dataexchange.clinicalgenome.org/terms/website-display-label"
)
DC_DESCRIPTION = "http://purl.org/dc/terms/description"


def resource_model(events: DataFrame) -> DataFrame:
    """Synthetic generic-resource model in the triples schema — one
    resource per distinct user with a deterministically SPARSE label
    set (some have skos:prefLabel, some rdfs:label, all foaf:name, a
    few cg:website-display-label / dc:description / skos:altLabel) and
    a halving subclass hierarchy.  This is exactly the shape the
    generic-resource field resolvers traverse
    (``source/graphql/resource.clj:14-37``): the label resolvers
    express *precedence* across those predicates, so the fixture must
    leave gaps for the precedence to be observable."""
    users = events.select(F.col("user_id").alias("uid")).distinct()
    res = F.concat(F.lit("urn:res:"), F.col("uid").cast("string"))

    def t(pred, obj, is_iri, cond=None):
        f = users if cond is None else users.where(cond)
        return f.select(
            F.lit("g").alias("graph"),
            res.alias("subject"),
            F.lit(pred).alias("predicate"),
            obj.cast("string").alias("object"),
            F.lit(is_iri).alias("object_is_iri"),
            F.lit(None).cast("string").alias("object_datatype"),
        )

    u = F.col("uid").cast("string")
    parts = [
        t(FOAF_NAME, F.concat(F.lit("Name "), u), False),
        t(I.PREF_LABEL, F.concat(F.lit("Pref "), u), False, F.col("uid") % 3 == 0),
        t(RDFS_LABEL, F.concat(F.lit("Rdfs "), u), False, F.col("uid") % 2 == 0),
        t(
            CG_DISPLAY_LABEL,
            F.concat(F.lit("Display "), u),
            False,
            F.col("uid") % 5 == 0,
        ),
        t(DC_DESCRIPTION, F.concat(F.lit("Desc "), u), False, F.col("uid") % 4 == 0),
        t(I.ALT_LABEL, F.concat(F.lit("Alt "), u), False, F.col("uid") % 2 == 1),
        t(
            RDFS_SUBCLASS,
            F.concat(F.lit("urn:res:"), F.floor(F.col("uid") / 2).cast("string")),
            True,
            F.col("uid") > 0,
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def resource_cards(model: DataFrame) -> DataFrame:
    """Every generic-resource card in ONE grouped pass + one co-keyed
    join — the per-resource point resolvers of ``resource.clj``
    (label precedence skos:prefLabel → rdfs:label → foaf:name at
    :14-17; website-display-label precedence with
    cg:website-display-label first at :19-23; alternative-label :25-27;
    description :29-31; direct super-/subclass traversals :33-37)
    collapsed into a conditional-aggregate pivot over the triples scan.

    Scale shape: the reference answers each field with a per-resource
    ld1-> lookup (N×fields point queries); here ONE shuffle on subject
    computes every field for every resource, and the subclass counts
    reuse the same key for the join — Catalyst sees two grouped
    passes over one predicate-filtered scan, both partial-aggregated
    map-side."""

    def first_of(pred):
        return F.max(F.when(F.col("predicate") == pred, F.col("object")))

    cards = model.groupBy(F.col("subject").alias("resource")).agg(
        first_of(I.PREF_LABEL).alias("_pref"),
        first_of(RDFS_LABEL).alias("_rdfs"),
        first_of(FOAF_NAME).alias("_name"),
        first_of(CG_DISPLAY_LABEL).alias("_disp"),
        first_of(I.ALT_LABEL).alias("alternative_label"),
        first_of(DC_DESCRIPTION).alias("description"),
        F.count(F.when(F.col("predicate") == RDFS_SUBCLASS, True)).alias(
            "n_superclasses"
        ),
    )
    subs = (
        model.where(F.col("predicate") == RDFS_SUBCLASS)
        .groupBy(F.col("object").alias("resource"))
        .agg(F.count("*").alias("n_subclasses"))
    )
    return (
        cards.join(subs, "resource", "left_outer")
        .select(
            "resource",
            F.coalesce("_pref", "_rdfs", "_name").alias("label"),
            F.coalesce("_disp", "_pref", "_rdfs", "_name").alias(
                "website_display_label"
            ),
            "alternative_label",
            "description",
            "n_superclasses",
            F.coalesce("n_subclasses", F.lit(0).cast("long")).alias("n_subclasses"),
        )
    )


def gene_features(events: DataFrame) -> DataFrame:
    """Gene-feature cards — the per-gene field resolvers of
    ``source/graphql/gene_feature.clj`` (hgnc-id via owl:same-as :6-7,
    hgnc-symbol via skos:preferred-label :9-10, previous-symbols as a
    comma-joined hidden-label collection :18-19, alias-symbols as a
    comma-joined alternate-label collection :21-22, chromosomal-band
    :24-25) in ONE grouped pass.

    The reference str/join's unordered ld-> collections; here the
    collected sets are sorted before joining so the card is
    deterministic under any partitioning (the only semantic the
    resolver requires is 'all symbols, comma-separated')."""
    e = events.select(
        (F.col("user_id") % 20).alias("g"),
        F.concat(
            F.lit("GENE"),
            (F.col("user_id") % 20).cast("string"),
            F.lit("v"),
            (F.col("event_id") % 3).cast("string"),
        ).alias("prev_sym"),
        F.concat(
            F.lit("G"), (F.col("user_id") % 20).cast("string"), F.lit("-"),
            F.col("event_type"),
        ).alias("alias_sym"),
    )
    return e.groupBy("g").agg(
        F.array_join(F.array_sort(F.collect_set("prev_sym")), ", ").alias(
            "previous_symbols"
        ),
        F.array_join(F.array_sort(F.collect_set("alias_sym")), ", ").alias(
            "alias_symbols"
        ),
    ).select(
        F.concat(F.lit("urn:gene:"), F.col("g").cast("string")).alias("gene"),
        F.concat(F.lit("HGNC:"), (F.col("g") + 1000).cast("string")).alias("hgnc_id"),
        F.concat(F.lit("GENE"), F.col("g").cast("string")).alias("hgnc_symbol"),
        F.concat(
            (F.col("g") % 22 + 1).cast("string"),
            F.when(F.col("g") % 2 == 0, F.lit("p")).otherwise(F.lit("q")),
            (F.col("g") % 3 + 1).cast("string"),
        ).alias("chromosomal_band"),
        "previous_symbols",
        "alias_symbols",
    )


def drugs(events: DataFrame, text: str | None = None) -> DataFrame:
    """The drugs list resolver (``source/graphql/drug.clj:19-36``):
    distinct typed drugs with label + alias rollup, an optional
    lower-cased text filter over the label (the reference feeds
    ``:text`` through a Lucene text-search BGP; semantics here are the
    same containment the drug query needs), and the result *count* the
    reference computes as a second ``{:type :count}`` run of the same
    query — folded into the one plan as an unpartitioned window count
    (dimension-scale result set, so the single-partition window is
    bounded by the drug dimension, not the corpus)."""
    from pyspark.sql import Window

    d = events.select(
        (F.col("user_id") % 15).alias("d"),
        F.col("event_type").alias("alias_sym"),
    )
    base = d.groupBy("d").agg(
        F.countDistinct("alias_sym").alias("n_aliases"),
    ).select(
        F.concat(F.lit("urn:drug:"), F.col("d").cast("string")).alias("drug"),
        F.concat(
            F.lit("Drug "),
            F.col("d").cast("string"),
            F.when(F.col("d") % 3 == 0, F.lit(" ophthalmic"))
            .when(F.col("d") % 3 == 1, F.lit(" oral"))
            .otherwise(F.lit(" topical")),
        ).alias("label"),
        "n_aliases",
    )
    if text:
        base = base.where(F.lower(F.col("label")).contains(text.lower()))
    return base.withColumn(
        "total", F.count("*").over(Window.partitionBy())
    )


_EVIDENCE_LEVELS = [
    # gene_validity.clj:58-66 evidence-levels: SEPIO class → GraphQL enum
    ("purchase", "DEFINITIVE"),
    ("signup", "MODERATE"),
    ("click", "LIMITED"),
    ("view", "STRONG"),
    ("error", "REFUTED"),
]


def gene_validity_reports(events: DataFrame) -> DataFrame:
    """Gene-validity assertion report cards — the per-assertion field
    resolvers of ``source/graphql/gene_validity.clj`` in one map-only
    pass: report-date (:41-42 qualified-contribution activity-date),
    classification through the evidence-levels enum (:58-70), the
    (gene, disease, moi) proposition hops (:72-79), attributed-to as
    the ApproverRole contribution's agent or null (:86-95), report-id
    as the trailing-uuid regex over the proposition IRI (:108-126 gci
    refactor arm), and animal-model mapped "YES"→true / "NO"→false /
    absent→null (:128-139).

    Zero shuffles: every field is a column expression over one events
    scan (the reference issues 6+ point queries per assertion)."""
    uid = F.col("user_id")
    h = F.md5(F.col("event_id").cast("string"))
    proposition = F.concat(
        F.lit("urn:CGGV:proposition_"),
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"),
        F.substring(h, 13, 4), F.lit("-"),
        F.substring(h, 17, 4), F.lit("-"),
        F.substring(h, 21, 12),
    )
    src0, enum0 = _EVIDENCE_LEVELS[0]
    classification = F.when(F.col("event_type") == src0, enum0)
    for src, enum in _EVIDENCE_LEVELS[1:]:
        classification = classification.when(F.col("event_type") == src, enum)
    k = F.regexp_extract("props", r"[0-9]+", 0).cast("int")
    return events.select(
        F.concat(F.lit("urn:curation:"), F.col("event_id").cast("string")).alias(
            "assertion"
        ),
        F.concat(F.lit("urn:gene:"), (uid % 20).cast("string")).alias("gene"),
        F.concat(F.lit("urn:disease:"), (uid % 7).cast("string")).alias("disease"),
        classification.alias("classification"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("report_date"),
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat(F.lit("urn:aff:"), (uid % 10).cast("string")),
        ).alias("attributed_to"),
        F.regexp_extract(
            proposition, r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}$", 0
        ).alias("report_id"),
        F.when(k % 3 == 0, F.lit(True))
        .when(k % 3 == 1, F.lit(False))
        .alias("animal_model"),
    )


def recursive_evidence_model(events: DataFrame) -> DataFrame:
    """Synthetic SEPIO evidence forest for the *recursive* evidence-line
    query (``source/graphql/assertion.clj:22-27`` =
    ``evidence_item.clj:9-14``): per block (one per event with
    ``event_id % 5 == 0``) an assertion with a nested line tree —

        as ──has-evidence-line──► el1 ──has-evidence-item──► it1
                                   └──has-evidence-line──► el2 ──has-evidence-item──► it2

    where el1 is typed :sepio/OverallEvidenceLine (a *subclass* of
    :sepio/EvidenceLine via one rdfs:sub-class-of hop), el2 is typed
    :sepio/EvidenceLine directly, and the items are typed :sepio/Study
    so the query's ``( a / :rdfs/sub-class-of * ) :sepio/EvidenceLine``
    tier filter has something real to exclude."""
    blocks = events.where(F.col("event_id") % 5 == 0).select(
        (F.col("event_id") / 5).cast("long").alias("b")
    )
    b = F.col("b").cast("string")
    node = lambda pref: F.concat(F.lit(pref), b)  # noqa: E731

    def t(s, p, o, is_iri=True):
        return blocks.select(
            F.lit("g").alias("graph"),
            s.alias("subject"),
            F.lit(p).alias("predicate"),
            o.cast("string").alias("object"),
            F.lit(is_iri).alias("object_is_iri"),
            F.lit(None).cast("string").alias("object_datatype"),
        )

    parts = [
        t(node("urn:as:"), I.RDF_TYPE, F.lit(":sepio/Assertion")),
        t(node("urn:as:"), ":sepio/has-evidence-line", node("urn:el1:")),
        t(node("urn:el1:"), I.RDF_TYPE, F.lit(":sepio/OverallEvidenceLine")),
        t(node("urn:el1:"), ":sepio/has-evidence-item", node("urn:it1:")),
        t(node("urn:it1:"), I.RDF_TYPE, F.lit(":sepio/Study")),
        t(node("urn:el1:"), ":sepio/has-evidence-line", node("urn:el2:")),
        t(node("urn:el2:"), I.RDF_TYPE, F.lit(":sepio/EvidenceLine")),
        t(node("urn:el2:"), ":sepio/has-evidence-item", node("urn:it2:")),
        t(node("urn:it2:"), I.RDF_TYPE, F.lit(":sepio/Study")),
    ]
    class_edge = blocks.limit(1).select(
        F.lit("g").alias("graph"),
        F.lit(":sepio/OverallEvidenceLine").alias("subject"),
        F.lit(":rdfs/sub-class-of").alias("predicate"),
        F.lit(":sepio/EvidenceLine").alias("object"),
        F.lit(True).alias("object_is_iri"),
        F.lit(None).cast("string").alias("object_datatype"),
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.unionByName(class_edge)
