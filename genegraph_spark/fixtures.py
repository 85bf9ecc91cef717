"""Deterministic fixtures: Common-Crawl-style ``pages`` input table and the
curated entity dictionary.

The authoritative input shape (BASELINE.json ``input_hint``) is
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
No external data is allowed, so the pages table is *derived
deterministically* from the driver-provided ``documents`` parquet (seed=42,
fixed 31-word vocabulary): every derivation below is a pure column
expression, written once as Spark ``F.*`` expressions and once as DuckDB
SQL so the driver's oracle can recompute the golden values independently.

The entity dictionary mirrors the reference's curated-identifier model:
HGNC gene transform output (reference ``src/genegraph/transform/gene.clj:42-72``
— preferred label, alternative label, hidden labels, same-as xrefs, type)
and the keyword↔IRI maps of ``src/genegraph/database/names.clj:13-17``.
In genegraph every transform resolves names through that dictionary; here
it is a broadcast-joined DataFrame.

Versioning / tombstones mirror the reference's event semantics:
re-publishing an IRI replaces its named graph
(``src/genegraph/database/load.clj:72-87``), unpublish removes it
(``src/genegraph/sink/event.clj:41-46``, ``annotate/action.clj:6-31``).
Here: ~10%% of urls get a v2 update, 2%% a v3 tombstone (html carries
``<meta name="status" content="unpublished">``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH = "2024-01-01 00:00:00"

# ---------------------------------------------------------------------------
# Entity dictionary (curated, tiny, broadcastable — reference names.edn scale
# is O(10^3) entries / tens of MB; ours maps the corpus' fixed vocabulary).
# Fields follow transform/gene.clj:42-72:
#   (iri, entity_type, preferred_label, alt_labels, hidden_labels, same_as)
# ``same_as`` xrefs deliberately overlap to create multi-entity connected
# components for the canonicalization stage (reference analog: owl/same-as
# resolution, gene_validity_refactor.clj:347-348).
# ---------------------------------------------------------------------------
KG = "https://example.org/kg"

ENTITIES: list[tuple[str, str, str, list[str], list[str], list[str]]] = [
    # genes — xref structure: SPARK/STREAM share X:100 (one component);
    # HASH—JOIN—MERGE chain via X:101/E:201 (one component).
    (f"{KG}/entity/SPARK", "gene", "spark", ["spark protein"], [], [f"{KG}/xref/X100", f"{KG}/xref/E200"]),
    (f"{KG}/entity/STREAM", "gene", "stream", [], ["streaming"], [f"{KG}/xref/X100"]),
    (f"{KG}/entity/HASH", "gene", "hash", [], [], [f"{KG}/xref/X101"]),
    (f"{KG}/entity/JOIN", "gene", "join", ["join factor"], [], [f"{KG}/xref/X101", f"{KG}/xref/E201"]),
    (f"{KG}/entity/MERGE", "gene", "merge", [], [], [f"{KG}/xref/E201"]),
    (f"{KG}/entity/SCAN", "gene", "scan", [], [], [f"{KG}/xref/X102"]),
    (f"{KG}/entity/SORT", "gene", "sort", [], [], [f"{KG}/xref/X103"]),
    (f"{KG}/entity/FILTER", "gene", "filter", [], [], [f"{KG}/xref/X104"]),
    (f"{KG}/entity/WINDOW", "gene", "window", [], [], [f"{KG}/xref/X105"]),
    (f"{KG}/entity/BATCH", "gene", "batch", [], [], [f"{KG}/xref/X106"]),
    # diseases
    (f"{KG}/entity/SLOWNESS", "disease", "slow", ["slowness syndrome"], [], [f"{KG}/xref/D100"]),
    (f"{KG}/entity/BIGNESS", "disease", "big", [], [], [f"{KG}/xref/D101"]),
    (f"{KG}/entity/DUPLICATION", "disease", "dup", ["duplication disorder"], [], [f"{KG}/xref/D102"]),
    (f"{KG}/entity/SMALLNESS", "disease", "small", [], [], [f"{KG}/xref/D103"]),
    (f"{KG}/entity/FASTNESS", "disease", "fast", [], [], [f"{KG}/xref/D104"]),
    # variants — 'query' is ALSO a hidden label of QUERYOSIS (ambiguous
    # token: exercises context-scored disambiguation, which the
    # oracle-facing mention query sidesteps by using preferred labels only)
    (f"{KG}/entity/VECTOR", "variant", "vector", [], [], [f"{KG}/xref/V100"]),
    (f"{KG}/entity/COLUMN", "variant", "column", [], [], [f"{KG}/xref/V101"]),
    (f"{KG}/entity/ROWVAR", "variant", "row", [], [], [f"{KG}/xref/V102"]),
    (f"{KG}/entity/KEYVAR", "variant", "key", [], [], [f"{KG}/xref/V103"]),
    (f"{KG}/entity/VALUEVAR", "variant", "value", [], [], [f"{KG}/xref/V104"]),
    (f"{KG}/entity/QUERY", "variant", "query", [], [], [f"{KG}/xref/V105"]),
    (f"{KG}/entity/QUERYOSIS", "disease", "queryosis", [], ["query"], [f"{KG}/xref/D105"]),
]

# Disease hierarchy (child, parent) — skos:broader edges. The reference's
# disease-descendant resolvers walk a MONDO ``rdfs:subClassOf*`` tree
# (``src/genegraph/source/graphql/common/curation.clj:303-314``); no
# external ontology is allowed here, so a fixed two-tree forest over the
# six fixture diseases stands in. The SLOWNESS side is a depth-3 chain so
# the closure needs >1 doubling round.
DISEASE_HIERARCHY: list[tuple[str, str]] = [
    (f"{KG}/entity/SMALLNESS", f"{KG}/entity/SLOWNESS"),
    (f"{KG}/entity/QUERYOSIS", f"{KG}/entity/SMALLNESS"),
    (f"{KG}/entity/DUPLICATION", f"{KG}/entity/BIGNESS"),
    (f"{KG}/entity/FASTNESS", f"{KG}/entity/BIGNESS"),
]


def hierarchy_triples(spark: SparkSession) -> DataFrame:
    """``skos:broader`` edges as triples-shaped rows (dictionary graph)."""
    from .functions import iri as I

    rows = [
        (I.DICTIONARY_GRAPH, child, I.BROADER, parent, True, None)
        for child, parent in DISEASE_HIERARCHY
    ]
    return spark.createDataFrame(
        rows,
        "graph string, subject string, predicate string, object string, "
        "object_is_iri boolean, object_datatype string",
    )


# mode-of-inheritance value forest — the HP_0000005 subtree the
# modes-of-inheritance resolver closes over
# (``source/graphql/mode_of_inheritance.clj:5-11``: ``?moi
# rdfs:subClassOf* HP_0000005``). The five fixture event types stand in
# for MOI terms; ``error`` sits OUTSIDE the root subtree so the closure
# filter is observable.
MOI_HIERARCHY: list[tuple[str, str]] = [
    ("urn:moi:click", "urn:moi:interaction"),
    ("urn:moi:view", "urn:moi:interaction"),
    ("urn:moi:purchase", "urn:moi:conversion"),
    ("urn:moi:signup", "urn:moi:conversion"),
    ("urn:moi:interaction", "urn:moi:root"),
    ("urn:moi:conversion", "urn:moi:root"),
    ("urn:moi:error", "urn:moi:other"),
]


def moi_hierarchy_triples(spark: SparkSession) -> DataFrame:
    """``skos:broader`` MOI edges as triples-shaped rows (the
    rdfs:subClassOf analog, house predicate convention)."""
    from .functions import iri as I

    rows = [
        (I.DICTIONARY_GRAPH, child, I.BROADER, parent, True, None)
        for child, parent in MOI_HIERARCHY
    ]
    return spark.createDataFrame(
        rows,
        "graph string, subject string, predicate string, object string, "
        "object_is_iri boolean, object_datatype string",
    )


def moi_edges_sql() -> str:
    """DuckDB VALUES expression of :data:`MOI_HIERARCHY` (child, parent)."""
    vals = ", ".join(
        f"({_sql_quote(c)}, {_sql_quote(p)})" for c, p in MOI_HIERARCHY
    )
    return f"SELECT * FROM (VALUES {vals}) AS moi_edges(child, parent)"


def dictionary_df(spark: SparkSession) -> DataFrame:
    """Normalized dictionary: one row per entity (arrays for labels).

    Built from pandas: with Arrow on it is a JVM ``LocalRelation``, so an
    evaluation starts no Python workers (a list becomes a Python RDD)."""
    import pandas as pd

    cols = ["iri", "entity_type", "preferred_label", "alt_labels", "hidden_labels", "same_as"]
    return spark.createDataFrame(
        pd.DataFrame(ENTITIES, columns=cols),
        "iri string, entity_type string, preferred_label string, "
        "alt_labels array<string>, hidden_labels array<string>, same_as array<string>",
    )


def alias_df(spark: SparkSession) -> DataFrame:
    """Exploded label→entity table (iri, entity_type, label, label_kind).

    This is the broadcast gazetteer. label_kind ∈ preferred|alt|hidden,
    mirroring skos preferred/alternative/hidden labels in
    transform/gene.clj:51-67.
    """
    rows = []
    for iri, etype, pref, alts, hiddens, _ in ENTITIES:
        rows.append((iri, etype, pref, "preferred"))
        rows.extend((iri, etype, a, "alt") for a in alts)
        rows.extend((iri, etype, h, "hidden") for h in hiddens)
    return spark.createDataFrame(rows, "iri string, entity_type string, label string, label_kind string")


def sameas_df(spark: SparkSession) -> DataFrame:
    """Exploded same-as edge list (iri, xref)."""
    rows = [(iri, x) for iri, _, _, _, _, xs in ENTITIES for x in xs]
    return spark.createDataFrame(rows, "iri string, xref string")


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def alias_sql() -> str:
    """DuckDB VALUES expression equivalent of :func:`alias_df`."""
    rows = []
    for iri, etype, pref, alts, hiddens, _ in ENTITIES:
        labels = [(pref, "preferred")] + [(a, "alt") for a in alts] + [(h, "hidden") for h in hiddens]
        for label, kind in labels:
            rows.append(f"({_sql_quote(iri)}, {_sql_quote(etype)}, {_sql_quote(label)}, {_sql_quote(kind)})")
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(iri, entity_type, label, label_kind)"
    )


def canonical_map_py() -> dict[str, str]:
    """Expected canonical map, computed by plain union-find over the
    constant dictionary — the independent oracle for the distributed
    connected-components canonicalizer."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for iri, _, _, _, _, xs in ENTITIES:
        for x in xs:
            ra, rb = find(iri), find(x)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    entity_iris = [e[0] for e in ENTITIES]
    comp: dict[str, list[str]] = {}
    for e in entity_iris:
        comp.setdefault(find(e), []).append(e)
    return {e: min(comp[find(e)]) for e in entity_iris}


def canonical_sql() -> str:
    """DuckDB VALUES of the expected (iri, canonical_iri) map."""
    rows = [f"({_sql_quote(i)}, {_sql_quote(c)})" for i, c in sorted(canonical_map_py().items())]
    return "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(iri, canonical_iri)"


# ---------------------------------------------------------------------------
# pages table: deterministic derivation from `documents`
# ---------------------------------------------------------------------------

V2_SUFFIX = " updated content v2"


def pages_df(spark: SparkSession, sf_dir: str, with_html: bool = True) -> DataFrame:
    """Synthesize the pages table from ``{sf_dir}/documents.parquet``.

    Columns: (url, warc_ts, html:binary, text, lang, version, doc_id).
    ``text`` is the golden extracted text the HTML extractor must
    reproduce byte-for-byte (BASELINE input_hint).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    # NOT fanned out here: most consumers do light per-row work and lose
    # more to extra-task fixed costs than they gain (measured: kg_triples
    # golden path 2.8s → 3.5s with a blanket fan-out). Map-HEAVY consumers
    # (real html extraction, shingle explodes) fan out at their own stage
    # — see plans.pipeline.construct_kg and operators.partitioning.
    return pages_from_docs(docs, with_html=with_html)


def pages_from_docs(docs: DataFrame, with_html: bool = True) -> DataFrame:
    """Same derivation over an arbitrary (doc_id, text, lang) DataFrame
    (lets callers replicate/repartition the light docs before the heavy
    html synthesis)."""

    def common(df: DataFrame, version: int, day_offset: int, text_col):
        out = (
            df.withColumn("url", _url_col())
            .withColumn(
                "warc_ts",
                F.expr(
                    f"timestamp'{EPOCH}' + make_interval(0,0,0,{day_offset},0,0, cast(doc_id as int))"
                ),
            )
            .withColumn("version", F.lit(version))
            .withColumn("text", text_col)
        )
        return out

    v1 = common(docs, 1, 0, F.col("text"))
    v2 = common(docs.where(F.col("doc_id") % 10 == 0), 2, 1, F.concat(F.col("text"), F.lit(V2_SUFFIX)))
    v3 = common(docs.where(F.col("doc_id") % 50 == 0), 3, 2, F.lit(""))
    v3 = v3.withColumn("tombstone", F.lit(True))
    pages = (
        v1.withColumn("tombstone", F.lit(False))
        .unionByName(v2.withColumn("tombstone", F.lit(False)))
        .unionByName(v3)
    )
    if with_html:
        pages = pages.withColumn("html", _html_col())
    return pages.select(
        "url", "warc_ts", *( ["html"] if with_html else [] ), "text", "lang", "version", "doc_id", "tombstone"
    )


def _url_col():
    return F.concat(
        F.lit("https://ex"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
    )


def _html_col():
    """Template the golden text into realistic HTML (binary).

    Round-trip contract with functions.text.extract_text: escape &<>,
    wrap some words in inline markup, embed script/style noise whose
    content contains tag-like characters, optional tombstone meta.
    """
    escaped = F.col("text")
    for pat, rep in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]:
        escaped = F.replace(escaped, F.lit(pat), F.lit(rep))
    marked = F.regexp_replace(escaped, r"\bspark\b", "<b>spark</b>")
    marked = F.regexp_replace(marked, r"\bvector\b", '<a href="/x">vector</a>')
    meta = F.when(F.col("tombstone"), F.lit('<meta name="status" content="unpublished"/>')).otherwise(F.lit(""))
    html_str = F.concat(
        F.lit("<html><head><title>p"),
        F.col("doc_id").cast("string"),
        F.lit('</title><script type="text/javascript">var x = 1 &amp;&amp; 2; var s = "<div>";</script>'),
        F.lit("<style>p{color:#333} .x>span{display:none}</style>"),
        meta,
        F.lit("</head><body><p>"),
        marked,
        F.lit("</p></body></html>"),
    )
    return F.encode(html_str, "UTF-8")


def pages_sql() -> str:
    """DuckDB CTE body producing the same pages rows (sans html) from the
    pre-registered ``documents`` view. Golden side of the extraction check.
    """
    base = (
        "SELECT 'https://ex' || CAST(doc_id % 97 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url, "
        "TIMESTAMP '{epoch}' + INTERVAL ({day}) DAY + to_seconds(CAST(doc_id AS BIGINT)) AS warc_ts, "
        "{text} AS text, lang, {version} AS version, doc_id, {tomb} AS tombstone "
        "FROM documents {where}"
    )
    v1 = base.format(epoch=EPOCH, day=0, text="text", version=1, tomb="FALSE", where="")
    v2 = base.format(
        epoch=EPOCH, day=1, text=f"text || '{V2_SUFFIX}'", version=2, tomb="FALSE", where="WHERE doc_id % 10 = 0"
    )
    v3 = base.format(epoch=EPOCH, day=2, text="''", version=3, tomb="TRUE", where="WHERE doc_id % 50 = 0")
    return f"{v1} UNION ALL {v2} UNION ALL {v3}"


# ── gene-dosage JIRA payload fixture ──────────────────────────────────
# Deterministic synthetic JIRA issues derived from the events table,
# exercising every branch of the dosage transform
# (transform/dosage_jira.clj → sources/dosage_jira.py): spec-invalid
# rows, gene vs region curations, single/dual-build locations with
# comma-grouped coordinates, all six evidence-level values, the AR
# scope-assertion switch, the "dosage sensitivity unlikely" benign
# predicate, the MONDO/OMIM/legacy/default object chain, absent
# descriptions, and 0-2 study findings per dosage.

# the OMIM→MONDO equivalence the reference resolves via a skos
# exact-match graph lookup (dosage_jira.clj:205-211); one mapped and
# one unmapped OMIM id appear in the fixture phenotypes
OMIM_MONDO: dict[str, str] = {"OMIM:123456": "MONDO:0024086"}

# haplo (customfield_10165) value by event_id % 7 (None = field absent);
# triplo (customfield_10166) value by event_id % 5
DOSAGE_HAPLO_VALUES: list[str | None] = [
    "3", "2", "1", "0",
    "30: Gene associated with autosomal recessive phenotype",
    "40: Dosage sensitivity unlikely", None,
]
DOSAGE_TRIPLO_VALUES: list[str | None] = [
    "3", "0", "40: Dosage sensitivity unlikely", "2", None,
]


def _fan_events(events: DataFrame) -> DataFrame:
    """Payload generators do heavy per-row JSON synthesis straight off
    the events scan; the driver's events parquet is one unsplittable row
    group, so fan the scan out first (no-op at lake-scale split counts
    — see operators.partitioning)."""
    from genegraph_spark.operators.partitioning import fan_out

    return fan_out(events, "event_id")


def dosage_jira_payloads(events: DataFrame) -> DataFrame:
    """events → one JIRA issue JSON string per row (column ``value``)."""
    e, u = F.col("event_id"), F.col("user_id")
    sec = F.date_trunc("second", F.col("ts"))
    off = F.when(e % 2 == 0, F.lit("-0400")).otherwise(F.lit("+0100"))
    mil = F.when(e % 3 == 0, F.lit("120")).otherwise(F.lit("000"))

    def dtstr(t):
        return F.concat(
            F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("."), mil, off
        )

    def vstruct(col):
        return F.when(col.isNotNull(), F.struct(col.alias("value")))

    def pick(values, idx):
        arr = F.array(*[F.lit(v).cast("string") for v in values])
        return F.element_at(arr, (idx + 1).cast("int"))

    estr, ustr = e.cast("string"), u.cast("string")
    chrom = (
        F.when(u % 24 == 22, F.lit("X"))
        .when(u % 24 == 23, F.lit("Y"))
        .otherwise((u % 24 + 1).cast("string"))
    )
    gene = F.when(
        u % 3 != 0,
        F.concat(F.lit("https://www.ncbi.nlm.nih.gov/gene/"), ustr),
    )
    loc37 = F.when(
        e % 2 == 0,
        F.concat(F.lit("chr"), chrom, F.lit(":"), ustr, F.lit(",000-"),
                 (u + 5).cast("string"), F.lit(",500")),
    )
    loc38 = F.when(
        e % 3 == 0,
        F.concat(F.lit("chr"), chrom, F.lit(":"), (u + 1).cast("string"),
                 F.lit(",000-"), (u + 7).cast("string"), F.lit(",000")),
    )
    fields = F.struct(
        F.struct(
            F.when(e % 13 == 0, F.lit("Open")).otherwise(F.lit("Closed")).alias("name")
        ).alias("status"),
        F.struct(
            F.when(e % 17 == 0, F.lit("Incomplete")).otherwise(F.lit("Complete")).alias("name")
        ).alias("resolution"),
        dtstr(sec).alias("resolutiondate"),
        dtstr(sec + F.expr("INTERVAL 1 DAY")).alias("updated"),
        gene.alias("customfield_10157"),
        F.concat(F.lit("region ISCA-"), estr).alias("customfield_10202"),
        loc37.alias("customfield_10160"),
        loc38.alias("customfield_10532"),
        vstruct(pick(DOSAGE_HAPLO_VALUES, e % 7)).alias("customfield_10165"),
        vstruct(pick(DOSAGE_TRIPLO_VALUES, e % 5)).alias("customfield_10166"),
        vstruct(
            F.when(e % 5 != 0, F.concat(F.lit("haplo notes "), estr))
        ).alias("customfield_10198"),
        vstruct(
            F.when(e % 4 != 0, F.concat(F.lit("triplo notes "), estr))
        ).alias("customfield_10199"),
        pick(
            ["MONDO:0000123", "123456", "654321", "descriptive text", None, None],
            e % 6,
        ).alias("customfield_10200"),
        pick(["MONDO:0000456", "123456", None, None, None], e % 5).alias(
            "customfield_10201"
        ),
        F.when(e % 3 == 0, F.lit("legacy MONDO:0040003 note")).alias(
            "customfield_11631"
        ),
        F.when(e % 4 == 0, F.lit("see MONDO:0040004")).alias("customfield_11633"),
        F.when(u % 2 == 0, F.concat(F.lit("PMID: 3100"), ustr)).alias(
            "customfield_10183"
        ),
        F.when((u % 2 == 0) & (u % 4 != 0), F.concat(F.lit("finding A "), ustr)).alias(
            "customfield_10184"
        ),
        F.when(u % 3 == 0, F.concat(F.lit("3200"), ustr)).alias(
            "customfield_10185"
        ),
        F.when(u % 3 == 0, F.concat(F.lit("finding B "), ustr)).alias(
            "customfield_10186"
        ),
        F.when(u % 5 == 0, F.concat(F.lit("pm 33"), ustr)).alias(
            "customfield_10189"
        ),
        F.when(u % 5 == 0, F.concat(F.lit("finding C "), ustr)).alias(
            "customfield_10190"
        ),
    )
    issue = F.struct(F.concat(F.lit("ISCA-"), estr).alias("key"), fields.alias("fields"))
    return _fan_events(events).select(F.to_json(issue).alias("value"))


# ── actionability curation-document fixture ───────────────────────────
# Deterministic synthetic actionability JSON docs derived from events
# (transform/actionability.clj → sources/actionability.py): invalid
# status flags + malformed condition IRIs (spec gate), OMIM-vs-MONDO
# condition resolution, the three-way assertion fallback, preferred
# conditions, multi-entry search dates, and 4-level-nested score groups
# with noisy totals.

ACT_ASSERTION_LABELS: list[str] = [
    "Definitive Actionability", "Strong Actionability",
    "Moderate Actionability", "Limited Actionability",
    "No Actionability", "N/A - Insufficient evidence: expert review",
]

# HGNC gene dictionary (the owl:same-as per-row lookup as a broadcast
# dimension): curie → (gene iri, symbol)
ACT_GENES: list[tuple[str, str, str]] = [
    (f"HGNC:{1000 + i}", f"https://www.ncbi.nlm.nih.gov/gene/{1000 + i}",
     f"GENE{1000 + i}")
    for i in range(50)
]

# condition equivalence + labels: both the MONDO curie (label lookup for
# directly-resolved conditions) and — for EVEN indexes only, so the
# unresolved-skip branch is observable — the OMIM curie exact-match
ACT_CONDITIONS: list[tuple[str, str, str]] = [
    (f"MONDO:00{10000 + i}",
     f"http://purl.obolibrary.org/obo/MONDO_00{10000 + i}", f"Condition {i}")
    for i in range(100)
] + [
    (f"OMIM:{100000 + i}",
     f"http://purl.obolibrary.org/obo/MONDO_00{10000 + i}", f"Condition {i}")
    for i in range(0, 100, 2)
]


def act_gene_map(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ACT_GENES, "gene_curie string, gene_iri string, symbol string"
    )


def act_condition_map(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ACT_CONDITIONS, "curie string, mondo_iri string, label string"
    )


def actionability_payloads(events: DataFrame) -> DataFrame:
    """events → one actionability curation JSON per row (col ``value``)."""
    e, u = F.col("event_id"), F.col("user_id")
    estr = e.cast("string")
    sec = F.date_trunc("second", F.col("ts"))
    omim_branch = e % 4 == 0
    mnum = (u % 100 + 10000).cast("string")
    onum = (u % 100 + 100000).cast("string")
    c1_iri = F.when(
        e % 13 == 0, F.lit("urn:bogus:1")  # spec-invalid condition IRI
    ).when(
        omim_branch, F.concat(F.lit("http://purl.obolibrary.org/obo/OMIM_"), onum)
    ).otherwise(F.concat(F.lit("http://purl.obolibrary.org/obo/MONDO_00"), mnum))
    c1_curie = F.when(omim_branch, F.concat(F.lit("OMIM:"), onum)).otherwise(
        F.concat(F.lit("MONDO:00"), mnum)
    )
    c1_gene = F.concat(F.lit("HGNC:"), (u % 50 + 1000).cast("string"))
    c2_iri = F.concat(
        F.lit("http://purl.obolibrary.org/obo/MONDO_00"),
        ((u + 1) % 100 + 10000).cast("string"),
    )
    c2_curie = F.concat(F.lit("MONDO:00"), ((u + 1) % 100 + 10000).cast("string"))
    c2_gene = F.concat(F.lit("HGNC:"), ((u + 1) % 50 + 1000).cast("string"))

    def cond(iri, curie, gene):
        return F.struct(iri.alias("iri"), curie.alias("curie"), gene.alias("gene"))

    conditions = F.when(
        e % 5 == 0,
        F.array(cond(c1_iri, c1_curie, c1_gene), cond(c2_iri, c2_curie, c2_gene)),
    ).otherwise(F.array(cond(c1_iri, c1_curie, c1_gene)))
    sd1 = F.concat(F.lit("2020-01-0"), (e % 9 + 1).cast("string"))
    sd2 = F.concat(F.lit("2021-02-0"), (e % 9 + 1).cast("string"))
    search_dates = F.when(e % 2 == 0, F.array(sd1, sd2)).otherwise(F.array(sd1))

    def group(total):
        return F.struct(
            F.array(
                F.struct(
                    F.array(
                        F.struct(
                            F.array(F.struct(total.alias("Total")))
                            .alias("ScoringGroups")
                        )
                    ).alias("Interventions")
                )
            ).alias("ScoringGroups")
        )

    t1 = F.array(
        F.concat(F.lit("Outcome: "), (u % 12).cast("string"), F.lit(" points")),
        F.concat(F.lit("0"), (u % 5).cast("string")),
    )
    scores = F.when(
        e % 6 == 0, F.array(group(t1), group(F.array(F.lit("nothing"))))
    ).otherwise(F.array(group(t1)))

    doc = F.struct(
        F.concat(
            F.lit("https://actionability.clinicalgenome.org/ac/doc-"), estr
        ).alias("iri"),
        F.when(e % 11 == 0, F.lit("In Progress"))
        .otherwise(
            F.element_at(
                F.array(*[F.lit(s) for s in
                          ["Released", "Released - Under Revision", "Retracted"]]),
                (e % 3 + 1).cast("int"),
            )
        ).alias("statusFlag"),
        F.concat(F.lit("AC doc "), estr).alias("title"),
        F.concat(F.lit("1."), (e % 5).cast("string")).alias("curationVersion"),
        F.concat(F.lit("https://ac.example/doc/"), estr).alias("scoreDetails"),
        F.concat(F.date_format(sec, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")).alias(
            "dateISO8601"
        ),
        F.when(e % 7 == 0, F.lit("Failed")).alias("earlyRuleOutStatus"),
        search_dates.alias("searchDates"),
        F.array(
            F.struct(
                F.when(e % 2 == 0, F.lit("Pediatric AWG"))
                .otherwise(F.lit("Adult AWG")).alias("id"),
                F.concat(F.lit("AWG "), (e % 2).cast("string")).alias("name"),
            )
        ).alias("affiliations"),
        conditions.alias("conditions"),
        F.when(
            e % 2 == 0,
            F.array(F.struct(c1_iri.alias("iri"), c1_gene.alias("gene"))),
        ).alias("preferred_conditions"),
        F.when(
            e % 3 == 0,
            F.array(
                F.struct(
                    c1_iri.alias("iri"), c1_curie.alias("curie"),
                    c1_gene.alias("gene"),
                    F.element_at(
                        F.array(*[F.lit(s) for s in ACT_ASSERTION_LABELS]),
                        (u % 6 + 1).cast("int"),
                    ).alias("assertion"),
                )
            ),
        ).alias("assertions"),
        scores.alias("scores"),
    )
    return _fan_events(events).select(F.to_json(doc).alias("value"))


# ── ClinVar clinical-assertion stream fixture ─────────────────────────
# Deterministic clinical-assertion + trait-set messages derived from
# events (transform/clinvar/clinical_assertion.clj →
# sources/clinvar_statements.py). Raw clinsig terms cover every
# statement-type class (path / dr / other-fallback), both predicate
# lists, the unknown-term fallback, and mixed case; trait-set versions
# are second-granular (unique per message) so the as-of resolution is
# deterministic; ~1/19 trait-set messages are deletes.

CLINVAR_RAW_TERMS: list[str] = [
    "Pathogenic", "benign", "Likely pathogenic", "uncertain significance",
    "drug response", "association", "WEIRD_TERM", "Established risk allele",
    "protective", "Pathogenic/Likely pathogenic",
    "conflicting data from submitters", "not provided",
]


def _sec_str():
    return F.date_format(F.date_trunc("second", F.col("ts")),
                         "yyyy-MM-dd'T'HH:mm:ss")


def clinvar_trait_set_payloads(events: DataFrame) -> DataFrame:
    e, u = F.col("event_id"), F.col("user_id")
    tid1 = (u % 40).cast("string")
    tid2 = ((u + 1) % 40).cast("string")
    doc = F.struct(
        _sec_str().alias("release_date"),
        F.when(e % 19 == 0, F.lit("delete")).otherwise(F.lit("create")).alias(
            "event_type"
        ),
        F.struct(
            (u % 30).cast("string").alias("id"),
            F.lit("TraitSet").alias("type"),
            F.when(e % 2 == 0, F.array(tid1, tid2)).otherwise(
                F.array(tid1)
            ).alias("trait_ids"),
        ).alias("content"),
    )
    return _fan_events(events).where(e % 3 == 0).select(F.to_json(doc).alias("value"))


def clinvar_assertion_payloads(events: DataFrame) -> DataFrame:
    e, u = F.col("event_id"), F.col("user_id")
    estr = e.cast("string")
    comments = F.when(
        e % 2 == 0,
        F.array(
            F.concat(F.lit('{"text":"c1 '), estr, F.lit('"}')),
            F.lit('{"text":"c2"}'),
        ),
    )
    doc = F.struct(
        _sec_str().alias("release_date"),
        F.lit("create").alias("event_type"),
        F.struct(
            F.concat(F.lit("SCV"), estr).alias("id"),
            (u % 500).cast("string").alias("variation_id"),
            F.when(e % 4 != 0, (u % 30).cast("string")).alias("trait_set_id"),
            (u % 20).cast("string").alias("submitter_id"),
            F.element_at(
                F.array(*[F.lit(t) for t in CLINVAR_RAW_TERMS]),
                (e % 12 + 1).cast("int"),
            ).alias("interpretation_description"),
            F.when(
                e % 5 != 0,
                F.concat(F.lit("2023-0"), (e % 9 + 1).cast("string"),
                         F.lit("-01")),
            ).alias("interpretation_date_last_evaluated"),
            F.when(
                e % 3 != 0,
                F.concat(F.lit("2024-0"), (e % 9 + 1).cast("string"),
                         F.lit("-02")),
            ).alias("date_last_updated"),
            comments.alias("interpretation_comments"),
        ).alias("content"),
    )
    return _fan_events(events).select(F.to_json(doc).alias("value"))


# ── legacy GCI report fixture ─────────────────────────────────────────
# Payloads are assembled by STRING CONCATENATION (not to_json) so the
# raw bytes embedded in the report's ContentAsText node are trivially
# reproducible in the DuckDB oracle; the engine still parses them with
# from_json. Covers all 12 FinalClassification labels, the
# selected-vs-actual SOP split, secondary-contributor filtering, and
# the missing-iri spec gate.

GCI_CLASSIFICATIONS: list[str] = [
    "Definitive", "Limited", "Moderate", "No Reported Evidence",
    "No Known Disease Relationship", "Strong*", "Contradictory (disputed)",
    "Strong", "Contradictory (refuted)", "Refuted", "Disputed",
    "No Classification",
]


def gci_legacy_payloads(events: DataFrame) -> DataFrame:
    e, u = F.col("event_id"), F.col("user_id")
    estr = e.cast("string")
    fc = F.element_at(
        F.array(*[F.lit(s) for s in GCI_CLASSIFICATIONS]), (e % 12 + 1).cast("int")
    )
    sel = F.when(
        e % 2 == 0,
        F.concat(F.lit('"selectedSOPVersion":"'), (e % 3 + 5).cast("string"),
                 F.lit('",')),
    ).otherwise(F.lit(""))
    contribs = F.when(
        e % 3 == 0,
        F.concat(
            F.lit(',"contributors":[{"id":"7'), (u % 10).cast("string"),
            F.lit('","role":"secondary contributor"},'
                  '{"id":"8","role":"primary contributor"}'),
            F.when(
                e % 9 == 0,
                F.concat(F.lit(',{"id":"9'), (u % 10).cast("string"),
                         F.lit('","role":"secondary contributor"}')),
            ).otherwise(F.lit("")),
            F.lit("]"),
        ),
    ).otherwise(F.lit(""))
    payload = F.concat(
        F.lit('{"iri":"legacy-'), estr,
        F.lit('","title":"Legacy report '), estr,
        F.lit('","sopVersion":"'), (e % 6 + 4).cast("string"), F.lit('",'),
        sel,
        F.lit('"affiliation":{"id":"'), (u % 10).cast("string"), F.lit('"},'),
        F.lit('"genes":[{"curie":"HGNC:'), (u % 50 + 1000).cast("string"),
        F.lit('"}],'),
        F.lit('"conditions":[{"iri":"http://purl.obolibrary.org/obo/MONDO_00'),
        (u % 100 + 10000).cast("string"), F.lit('"}],'),
        F.lit('"scoreJson":{"ModeOfInheritance":"Autosomal dominant (HP:000000'),
        (u % 9).cast("string"), F.lit(')",'),
        F.lit('"summary":{"FinalClassification":"'), fc, F.lit('",'),
        F.lit('"FinalClassificationDate":"2020-03-0'), (e % 9 + 1).cast("string"),
        F.lit('T10:20:30Z"'), contribs, F.lit("}}}"),
    )
    return _fan_events(events).select(
        F.when(e % 23 == 0, F.lit('{"title":"no iri"}')).otherwise(payload).alias(
            "value"
        )
    )


def gci_express_payloads(events: DataFrame) -> DataFrame:
    """GCI Express report fixture: (report_id, value) rows, string-
    concatenated JSON (oracle-reproducible); the SOP4/SOP5 serialized
    content switch and the double-encoded MOI are both exercised."""
    e, u = F.col("event_id"), F.col("user_id")
    estr = e.cast("string")
    moi = (u % 9).cast("string")
    # inner (double-encoded) score JSON; \" because it embeds in JSON
    inner4 = F.concat(
        F.lit('{\\"data\\":{\\"ModeOfInheritance\\":\\"AD (HP:000000'), moi,
        F.lit(')\\"}}'),
    )
    inner5 = F.concat(
        F.lit('{\\"scoreJson\\":{\\"ModeOfInheritance\\":\\"AR (HP:000000'),
        moi, F.lit(')\\"}}'),
    )
    ser = F.when(
        e % 2 == 0,
        F.concat(F.lit('"scoreJsonSerialized":"'), inner4,
                 F.lit('","scoreJsonSerializedSop5":""')),
    ).otherwise(
        F.concat(F.lit('"scoreJsonSerialized":"",'
                       '"scoreJsonSerializedSop5":"'), inner5, F.lit('"'))
    )
    express_labels = [
        s for s in GCI_CLASSIFICATIONS
        if s not in ("No Known Disease Relationship", "No Classification")
    ]  # the express value set (gci_express.clj:43-53)
    label = F.element_at(
        F.array(*[F.lit(s) for s in express_labels]),
        (e % 10 + 1).cast("int"),
    )
    payload = F.concat(
        F.lit('{"title":"Express report '), estr, F.lit('",'),
        F.lit('"dateISO8601":"2019-0'), (e % 9 + 1).cast("string"),
        F.lit('-02T03:04:05Z",'),
        F.lit('"affiliation":{"id":"'), (u % 10).cast("string"), F.lit('"},'),
        ser, F.lit(","),
        F.lit('"genes":{"SYM'), estr, F.lit('":{"curie":"HGNC:'),
        (u % 50 + 1000).cast("string"), F.lit('"}},'),
        F.lit('"conditions":{"MONDO":{"iri":'
              '"http://purl.obolibrary.org/obo/MONDO_00'),
        (u % 100 + 10000).cast("string"), F.lit('"}},'),
        F.lit('"scores":{"s1":{"label":"'), label, F.lit('"}}}'),
    )
    return _fan_events(events).select(
        F.concat(F.lit("exp-"), estr).alias("report_id"),
        payload.alias("value"),
    )


def clinvar_vcv_payloads(events: DataFrame) -> DataFrame:
    """VCV variation-archive message fixture (variation_archive.clj):
    exercises every extension field incl. absent ones."""
    e, u = F.col("event_id"), F.col("user_id")
    doc = F.struct(
        _sec_str().alias("release_date"),
        F.when(e % 7 == 0, F.lit("update")).otherwise(F.lit("create")).alias(
            "event_type"
        ),
        F.struct(
            F.concat(F.lit("VCV"), (u % 200).cast("string")).alias("id"),
            (e % 5 + 1).cast("string").alias("version"),
            (u % 500).cast("string").alias("variation_id"),
            F.element_at(
                F.array(
                    F.lit("criteria provided, single submitter"),
                    F.lit("criteria provided, conflicting interpretations"),
                    F.lit("reviewed by expert panel"),
                    F.lit("no assertion criteria provided"),
                ),
                (e % 4 + 1).cast("int"),
            ).alias("review_status"),
            F.element_at(
                F.array(
                    F.lit("Pathogenic"), F.lit("Benign"),
                    F.lit("Conflicting interpretations of pathogenicity"),
                    F.lit("Uncertain significance"), F.lit("not provided"),
                ),
                (e % 5 + 1).cast("int"),
            ).alias("interp_description"),
            F.when(
                e % 3 != 0,
                F.concat(F.lit("2019-01-0"), (e % 9 + 1).cast("string")),
            ).alias("date_created"),
            F.when(
                e % 4 != 0,
                F.concat(F.lit("2021-02-0"), (e % 9 + 1).cast("string")),
            ).alias("date_last_updated"),
            F.when(e % 2 == 0, (u % 15).cast("string")).alias("num_submitters"),
            (u % 25).cast("string").alias("num_submissions"),
            F.lit("Homo sapiens").alias("species"),
        ).alias("content"),
    )
    return _fan_events(events).select(F.to_json(doc).alias("value"))


# ── ClinVar JSON-LD tier fixtures ────────────────────────────────────
# Deterministic message streams for the clinvar-streams JSON-LD model
# (transform/clinvar/jsonld/*.clj). Each stream is a DISTINCT set of
# (entity id, version ordinal) pairs derived from `events` with modular
# arithmetic, so a DuckDB oracle reproduces the exact row set with one
# SELECT DISTINCT — no JSON parsing oracle-side. Version dates are
# staged so every as-of idiom is exercised: genes (2024-01-0v) precede
# variants (2024-02-0v) precede archives (2024-03-0{1,3,5}) with SCVs
# interleaved (2024-03-0{2,5}).

# five consensus_cancer_genes.csv ids with num >= 2 (the binning
# threshold) — fixture genes with gid%3==0 take one of these
CANCER_HGNC_IDS: list[str] = [
    "HGNC:11110", "HGNC:950", "HGNC:1100", "HGNC:1101", "HGNC:1133",
]

CV_SCV_CLINSIGS: list[str] = [
    "Pathogenic", "drug response", "risk factor", "association", "Benign",
]
CV_SCV_REVIEW: list[str] = [
    "practice guideline", "reviewed by expert panel",
    "criteria provided, single submitter", "no assertion provided",
]
CV_VCV_REVIEW: list[str] = [
    "practice guideline", "reviewed by expert panel",
    "criteria provided, multiple submitters, no conflicts",
    "criteria provided, conflicting interpretations",
]


def _cv_hgnc(gid):
    """hgnc_id expression: every third gene takes a consensus-cancer-gene
    id (num >= 2 in the reference CSV); the rest take ids outside it."""
    return F.when(
        gid % 3 == 0,
        F.element_at(
            F.array(*[F.lit(h) for h in CANCER_HGNC_IDS]),
            ((gid / 3).cast("long") % 5 + 1).cast("int"),
        ),
    ).otherwise(F.concat(F.lit("HGNC:"), (gid + 9000).cast("string")))


def clinvar_gene_messages(events: DataFrame) -> DataFrame:
    """clinvar-streams gene messages (jsonld/gene.clj fields)."""
    base = (
        events.where(F.col("event_id") % 7 < 3)
        .select(
            (F.col("user_id") % 25).alias("gid"),
            (F.col("event_id") % 3).alias("v"),
        )
        .distinct()
    )
    gid, v = F.col("gid"), F.col("v")
    doc = F.struct(
        F.concat(F.lit("2024-01-0"), (v + 1).cast("string")).alias(
            "release_date"
        ),
        F.struct(
            gid.cast("string").alias("id"),
            F.concat(F.lit("SYM"), gid.cast("string")).alias("symbol"),
            F.concat(
                F.lit("gene "), gid.cast("string"), F.lit(" r"),
                (v + 1).cast("string"),
            ).alias("full_name"),
            _cv_hgnc(gid).alias("hgnc_id"),
        ).alias("content"),
    )
    return base.select(F.to_json(doc).alias("value"))


def clinvar_variation_messages(events: DataFrame) -> DataFrame:
    """clinvar-streams variation messages (jsonld/variation.clj fields;
    gene_associations as nested objects like the clinvar-streams feed)."""
    base = (
        events.where(F.col("event_id") % 5 < 2)
        .select(
            (F.col("user_id") % 50).alias("vid"),
            (F.col("event_id") % 4).alias("v"),
        )
        .distinct()
    )
    vid, v = F.col("vid"), F.col("v")
    ga1 = F.struct((vid % 25).cast("string").alias("gene_id"))
    ga2 = F.struct(((vid + 7) % 25).cast("string").alias("gene_id"))
    doc = F.struct(
        F.concat(F.lit("2024-02-0"), (v + 1).cast("string")).alias(
            "release_date"
        ),
        F.struct(
            vid.cast("string").alias("id"),
            F.concat(
                F.lit("variant "), vid.cast("string"), F.lit(" r"),
                (v + 1).cast("string"),
            ).alias("name"),
            F.element_at(
                F.array(
                    F.lit("SimpleAllele"), F.lit("Haplotype"), F.lit("Genotype")
                ),
                (vid % 3 + 1).cast("int"),
            ).alias("subclass_type"),
            F.element_at(
                F.array(
                    F.lit("Deletion"), F.lit("Duplication"),
                    F.lit("single nucleotide variant"),
                ),
                (vid % 3 + 1).cast("int"),
            ).alias("variation_type"),
            F.when(
                vid % 4 == 0,
                F.concat(F.lit("p.V"), vid.cast("string"), F.lit("L")),
            ).alias("protein_change"),
            F.when(vid % 2 == 0, F.array(ga1, ga2)).otherwise(
                F.array(ga1)
            ).alias("gene_associations"),
        ).alias("content"),
    )
    return base.select(F.to_json(doc).alias("value"))


def clinvar_archive_messages(events: DataFrame) -> DataFrame:
    """clinvar-streams variation_archive messages
    (jsonld/variation_archive.clj fields)."""
    base = (
        events.where(F.col("event_id") % 3 == 0)
        .select(
            (F.col("user_id") % 40).alias("aid"),
            # NOT event_id%3 (constant 0 under the filter): the version
            # ordinal comes from the next base-3 digit
            ((F.col("event_id") / 3).cast("long") % 3).alias("v"),
        )
        .distinct()
    )
    aid, v = F.col("aid"), F.col("v")
    doc = F.struct(
        F.concat(F.lit("2024-03-0"), (v * 2 + 1).cast("string")).alias(
            "release_date"
        ),
        F.struct(
            F.concat(F.lit("VCV0"), aid.cast("string")).alias("id"),
            (v + 1).cast("string").alias("version"),
            ((aid * 3) % 50).cast("string").alias("variation_id"),
            F.element_at(
                F.array(
                    F.lit("Pathogenic"), F.lit("Benign"),
                    F.lit("Uncertain significance"),
                ),
                ((aid + v) % 3 + 1).cast("int"),
            ).alias("interp_description"),
            F.element_at(
                F.array(*[F.lit(s) for s in CV_VCV_REVIEW]),
                (aid % 4 + 1).cast("int"),
            ).alias("review_status"),
            F.lit("2024-03-01").alias("date_created"),
            F.concat(F.lit("2024-03-0"), (v * 2 + 1).cast("string")).alias(
                "date_last_updated"
            ),
            (aid % 5 + 1).cast("string").alias("num_submitters"),
            (aid % 6 + 1).cast("string").alias("num_submissions"),
            F.lit("Homo sapiens").alias("species"),
            F.lit("current").alias("record_status"),
            F.lit("Clinical significance").alias("interp_type"),
        ).alias("content"),
    )
    return base.select(F.to_json(doc).alias("value"))


def clinvar_scv_messages(events: DataFrame) -> DataFrame:
    """clinvar-streams clinical_assertion messages
    (jsonld/clinical_assertion.clj fields). Moduli are decorrelated so
    every classification-context branch is populated."""
    base = (
        events.where(F.col("event_id") % 4 < 2)
        .select(
            (F.col("user_id") % 60).alias("sid"),
            (F.col("event_id") % 2).alias("v"),
        )
        .distinct()
    )
    sid, v = F.col("sid"), F.col("v")
    origins = (
        F.when(sid % 4 == 0, F.array(F.lit("somatic")))
        .when(sid % 4 == 1, F.array(F.lit("germline")))
        .when(sid % 4 == 2, F.array(F.lit("germline"), F.lit("somatic")))
        .otherwise(F.array(F.lit("unknown")))
    )
    doc = F.struct(
        F.concat(F.lit("2024-03-0"), (v * 3 + 2).cast("string")).alias(
            "release_date"
        ),
        F.struct(
            F.concat(F.lit("SCV"), sid.cast("string")).alias("id"),
            (v + 1).cast("string").alias("version"),
            (sid % 50).cast("string").alias("variation_id"),
            F.concat(F.lit("VCV0"), (sid % 40).cast("string")).alias(
                "variation_archive_id"
            ),
            (sid % 30).cast("string").alias("trait_set_id"),
            (sid % 20).cast("string").alias("submitter_id"),
            F.concat(F.lit("scv title "), sid.cast("string")).alias("title"),
            F.element_at(
                F.array(*[F.lit(s) for s in CV_SCV_CLINSIGS]),
                (sid % 5 + 1).cast("int"),
            ).alias("interpretation_description"),
            F.element_at(
                F.array(*[F.lit(s) for s in CV_SCV_REVIEW]),
                (sid % 4 + 1).cast("int"),
            ).alias("review_status"),
            origins.alias("allele_origins"),
            F.array(F.lit("clinical testing")).alias("collection_methods"),
            F.concat(F.lit("CATS"), (sid % 30).cast("string")).alias(
                "clinical_assertion_trait_set_id"
            ),
            F.lit("2024-02-20").alias(
                "interpretation_date_last_evaluated"
            ),
            F.lit("2024-03-01").alias("date_created"),
            F.concat(F.lit("2024-03-0"), (v * 3 + 2).cast("string")).alias(
                "date_last_updated"
            ),
            F.lit("current").alias("record_status"),
            F.lit("variation to disease").alias("assertion_type"),
        ).alias("content"),
    )
    return base.select(F.to_json(doc).alias("value"))


def clinvar_submission_messages(events: DataFrame) -> DataFrame:
    """clinvar-streams submission messages (jsonld/submission.clj)."""
    base = (
        events.where(F.col("event_id") % 11 == 0)
        .select(
            (F.col("user_id") % 20).alias("bid"),
            ((F.col("event_id") / 11).cast("long") % 2).alias("v"),
        )
        .distinct()
    )
    bid, v = F.col("bid"), F.col("v")
    doc = F.struct(
        F.concat(F.lit("2024-04-0"), (v + 1).cast("string")).alias(
            "release_date"
        ),
        F.struct(
            F.concat(F.lit("SUB"), bid.cast("string")).alias("id"),
            F.concat(F.lit("2024-03-2"), (bid % 9).cast("string")).alias(
                "submission_date"
            ),
            (bid % 20).cast("string").alias("submitter_id"),
        ).alias("content"),
    )
    return base.select(F.to_json(doc).alias("value"))


# ---------------------------------------------------------------------------
# GDM curation fixture (corpus-chain flagship query + tests)
# ---------------------------------------------------------------------------

GDM_GCI = "http://dataexchange.clinicalgenome.org/gci/"
GDM_GCX = "http://dataexchange.clinicalgenome.org/gcixform/"
GDM_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def gdm_curation_rows(sfx: str = ""):
    """The AR (SOPv8) curation fixture, IRI-suffix parameterized: the
    chain is equivariant under a consistent IRI rename, so ``sfx``
    clones drive both the corpus-mode equivalence test and the
    ``kg_gdm_chain`` flagship query. Rows are (s, p, o, is_iri, dt)
    tuples; callers add the graph column."""

    def iri(s, p, o):
        return (s, p, o, True, None)

    def lit(s, p, o, dt=None):
        return (s, p, o, False, dt)

    c = GDM_GCI + "cls1" + sfx
    g = GDM_GCI + "gdm1" + sfx
    ind = GDM_GCI + "ind1" + sfx
    vs1, vs2 = GDM_GCI + "vs1" + sfx, GDM_GCI + "vs2" + sfx
    var = GDM_GCI + "var1" + sfx
    fam = GDM_GCI + "fam1" + sfx
    aff = "http://dataexchange.clinicalgenome.org/agent/10015" + sfx
    gene = GDM_GCI + "gene1" + sfx
    mondo = GDM_GCI + "mondo1" + sfx
    ann = GDM_GCI + "ann1" + sfx
    pub = GDM_GCI + "pub1" + sfx
    rows = [
            # --- GDM core (proposition / find_affiliation inputs)
            iri(g, GDM_RDF + "type", GDM_GCI + "gdm"),
            iri(g, GDM_GCI + "gene", gene),
            lit(gene, GDM_GCI + "hgncId", "HGNC:1100" + sfx),
            iri(g, GDM_GCI + "disease", mondo),
            lit(g, GDM_GCI + "modeInheritance",
                "Autosomal recessive inheritance (HP:0000007)"),
            # --- approved + published classification
            iri(c, GDM_RDF + "type", GDM_GCI + "provisionalClassification"),
            lit(c, GDM_GCI + "approvedClassification", "true", "xsd:boolean"),
            lit(c, GDM_GCI + "publishClassification", "true", "xsd:boolean"),
            iri(c, GDM_GCI + "autoClassification", GDM_GCX + "Moderate"),
            iri(c, GDM_GCI + "alteredClassification", GDM_GCX + "NoModification"),
            iri(c, GDM_GCI + "affiliation", aff),
            lit(c, GDM_GCI + "last_modified", "2020-05-02"),
            lit(c, GDM_GCI + "evidenceSummary", "Curated summary"),
            lit(c, GDM_GCI + "approvalDate", "2020-05-01T12:30:00"),
            iri(c, GDM_GCI + "classificationPoints", "_:pts"),
            iri(c, GDM_GCI + "earliestArticles", pub),
            lit(c, GDM_GCI + "classificationContributors", "10015" + sfx),
            lit(c, GDM_GCI + "classificationContributors", "10029" + sfx),
            # --- points tree
            lit("_:pts", GDM_GCI + "evidencePointsTotal", "12.5", "xsd:decimal"),
            lit("_:pts", GDM_GCI + "geneticEvidenceTotal", "8.5", "xsd:decimal"),
            lit("_:pts", GDM_GCI + "experimentalEvidenceTotal", "4", "xsd:integer"),
            iri("_:pts", GDM_GCI + "function", "_:f"),
            lit("_:f", GDM_GCI + "pointsCounted", "2", "xsd:integer"),
            iri("_:pts", GDM_GCI + "functionalAlteration", "_:fa"),
            lit("_:fa", GDM_GCI + "pointsCounted", "1", "xsd:integer"),
            iri("_:pts", GDM_GCI + "modelsRescue", "_:mr"),
            lit("_:mr", GDM_GCI + "pointsCounted", "1", "xsd:integer"),
            iri("_:pts", GDM_GCI + "segregation", "_:segp"),
            lit("_:segp", GDM_GCI + "pointsCounted", "0", "xsd:integer"),
            lit("_:segp", GDM_GCI + "evidenceCountExome", "0", "xsd:integer"),
            iri("_:pts", GDM_GCI + "caseControl", "_:ccp"),
            lit("_:ccp", GDM_GCI + "pointsCounted", "0", "xsd:integer"),
            iri("_:pts", GDM_GCI + "autosomalRecessiveDisorder", "_:ar"),
            lit("_:ar", GDM_GCI + "pointsCounted", "6", "xsd:integer"),
            iri("_:pts", GDM_GCI + "autosomalDominantOrXlinkedDisorder", "_:ad"),
            iri("_:ad", GDM_GCI + "probandWithOtherVariantTypeWithGeneImpact", "_:t1"),
            lit("_:t1", GDM_GCI + "pointsCounted", "0", "xsd:integer"),
            iri("_:ad", GDM_GCI + "probandWithPredictedOrProvenNullVariant", "_:t2"),
            lit("_:t2", GDM_GCI + "pointsCounted", "0", "xsd:integer"),
            iri("_:ad", GDM_GCI + "variantIsDeNovo", "_:t3"),
            lit("_:t3", GDM_GCI + "pointsCounted", "0", "xsd:integer"),
            # --- SOPv8 variant scores for one AR proband
            iri(vs1, GDM_RDF + "type", GDM_GCI + "variantScore"),
            iri(vs1, GDM_GCI + "variantScored", var),
            lit(vs1, GDM_GCI + "deNovo", "No"),
            lit(vs1, GDM_GCI + "scoreStatus", "Score"),
            lit(vs1, GDM_GCI + "date_created", "2020-01-01"),
            iri(vs1, GDM_GCI + "affiliation", aff),
            lit(vs1, GDM_GCI + "calculatedScore", "1.5", "xsd:decimal"),
            lit(vs1, GDM_GCI + "score", "1.0", "xsd:decimal"),
            iri(vs1, GDM_GCI + "variantType", GDM_GCI + "PREDICTED_OR_PROVEN_NULL"),
            iri(vs2, GDM_RDF + "type", GDM_GCI + "variantScore"),
            iri(vs2, GDM_GCI + "variantScored", var),
            lit(vs2, GDM_GCI + "deNovo", "No"),
            lit(vs2, GDM_GCI + "scoreStatus", "Score"),
            lit(vs2, GDM_GCI + "date_created", "2020-01-02"),
            iri(vs2, GDM_GCI + "affiliation", aff),
            lit(vs2, GDM_GCI + "calculatedScore", "2.0", "xsd:decimal"),
            iri(vs2, GDM_GCI + "variantType", GDM_GCI + "OTHER_VARIANT_TYPE"),
            iri(ind, GDM_GCI + "variantScores", vs1),
            iri(ind, GDM_GCI + "variantScores", vs2),
            lit(ind, GDM_GCI + "label", "Proband 1"),
            lit(ind, GDM_GCI + "proband", "true", "xsd:boolean"),
            iri(ind, GDM_GCI + "method", "_:m"),
            # --- the scored variant (construct_alleles input)
            iri(var, GDM_RDF + "type", GDM_GCI + "variant"),
            lit(var, GDM_GCI + "carId", "CA123"),
            lit(var, GDM_GCI + "preferredTitle", "NM_7:c.1A>T"),
            # --- annotation + article
            iri(ann, GDM_RDF + "type", GDM_GCI + "annotation"),
            iri(ann, GDM_GCI + "individuals", ind),
            iri(ann, GDM_GCI + "article", pub),
            iri(pub, GDM_RDF + "type", GDM_GCI + "article"),
            lit(pub, GDM_GCI + "pmid", "31001"),
            lit(pub, GDM_GCI + "title", "A study"),
            lit(pub, GDM_GCI + "date", "2019-04-01"),
            iri(pub, GDM_GCI + "authors", "_:l1"),
            lit("_:l1", GDM_RDF + "first", "Kim J"),
            # --- a LOD-scored family (kept by the segregation unlink)
            iri(fam, GDM_RDF + "type", GDM_GCI + "family"),
            iri(fam, GDM_GCI + "segregation", "_:fseg"),
            lit(fam, GDM_GCI + "label", "Family 1"),
            # same affiliation the chain pre-binds (?affiliation param):
            # a different one would drop the family from the pattern
            iri(fam, GDM_GCI + "affiliation", aff),
            lit("_:fseg", GDM_GCI + "estimatedLodScore", "3.2", "xsd:decimal"),
            iri(ann, GDM_GCI + "families", fam),
    ]
    return rows
