"""Base-data flat-file transforms.

Re-expresses the reference's remaining ``transform/`` namespaces — the
flat-file → model loaders for HGNC genes, UCSC cytobands, NCBI gene
features, DECIPHER/gnomAD gene scores, the OMIM genemap and ClinGen
affiliations:

- ``transform/gene.clj:42-88``        → :func:`hgnc_gene_triples`
- ``transform/ucsc_cytoband.clj:62-86`` → :func:`cytoband_triples`
- ``transform/features.clj:12-53``    → :func:`feature_triples`
- ``transform/hi_index.clj:11-29`` + ``loss_intolerance.clj:17-39``
  + ``common_score.clj:10-22``        → :func:`gene_score_triples`
- ``transform/omim.clj:12-57``        → :func:`genemap2_pairs` +
  :func:`omim_genetic_condition_triples`
- ``transform/affiliations.clj:8-30`` → :func:`affiliation_triples`

Spark-first / 100 TB: every loader is column expressions + ONE explode
to triples; the only joins are broadcast dimension joins (the gene
symbol lookup the reference answers with a per-row SPARQL
``symbol-query``, common_score.clj:5 — pref OR hidden label, mirrored
as a union'd label dictionary) and the OMIM→MONDO equivalence. The
OMIM single-gene rule is one map-side-combinable groupBy on the
phenotype (dimension-scale keys). Blank nodes are deterministic
(``iri.bnode``) unlike the reference's random ``l/blank-node``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genegraph_spark.functions import iri as I
from genegraph_spark.operators.triples import explode_triples_arr, tstruct
from genegraph_spark.sources.dosage_jira import CHR_TO_REF, _arr, _lit_map, _t

HGNC_DATASET = "https://www.genenames.org"
ENSEMBL_DATASET = "https://www.ensembl.org"
GENE_PREFIX = "https://www.ncbi.nlm.nih.gov/gene/"
CYTOBAND_ROOT = "http://dataexchange.clinicalgenome.org/terms/cytoband/"
AFFILIATION_PREFIX = "http://dataexchange.clinicalgenome.org/agent/"
MIM_PREFIX = "http://purl.obolibrary.org/obo/OMIM_"

# locus type → Sequence Ontology class — the COMPLETE 17-entry map of
# transform/gene.clj:24-41, including the reference's literal
# "SO_0000946?" for virus integration site (a trailing '?' in the
# source data; preserved verbatim rather than "fixed")
LOCUS_TYPES: dict[str, str] = {
    "immunoglobulin gene": "http://purl.obolibrary.org/obo/SO_0002122",
    "T cell receptor gene": "http://purl.obolibrary.org/obo/SO_0002099",
    "RNA, micro": "http://purl.obolibrary.org/obo/SO_0000276",
    "gene with protein product": "http://purl.obolibrary.org/obo/SO_0001217",
    "RNA, transfer": "http://purl.obolibrary.org/obo/SO_0000253",
    "pseudogene": "http://purl.obolibrary.org/obo/SO_0000336",
    "RNA, long non-coding": "http://purl.obolibrary.org/obo/SO_0001877",
    "virus integration site": "http://purl.obolibrary.org/obo/SO_0000946?",
    "RNA, vault": "http://purl.obolibrary.org/obo/SO_0000404",
    "endogenous retrovirus": "http://purl.obolibrary.org/obo/SO_0000100",
    "RNA, small nucleolar": "http://purl.obolibrary.org/obo/SO_0000275",
    "T cell receptor pseudogene": "http://purl.obolibrary.org/obo/SO_0002099",
    "immunoglobulin pseudogene": "http://purl.obolibrary.org/obo/SO_0002098",
    "RNA, small nuclear": "http://purl.obolibrary.org/obo/SO_0000274",
    "readthrough": "http://purl.obolibrary.org/obo/SO_0000883",
    "RNA, ribosomal": "http://purl.obolibrary.org/obo/SO_0000252",
    "RNA, misc": "http://purl.obolibrary.org/obo/SO_0000356",
}




def hgnc_gene_triples(genes: DataFrame) -> DataFrame:
    """HGNC gene records → the searchable gene dictionary model
    (transform/gene.clj:42-72), in the ``HGNC_DATASET + "/"`` graph:
    symbol → skos preferred label, name → alternative label, aliases/previous names/symbols → hidden labels,
    chromosome band, SO locus-type class (known types only), the three
    ``owl:same-as`` bridges (HGNC CURIE, HGNC identifiers.org IRI,
    Ensembl RDF IRI) and their dataset provenance.

    ``genes`` columns: entrez_id, hgnc_id, ensembl_gene_id, symbol,
    name, location, locus_type, alias_symbol[], prev_name[],
    prev_symbol[]."""
    uri = F.concat(F.lit(GENE_PREFIX), F.col("entrez_id").cast("string"))
    hgnc_iri = F.regexp_replace(
        F.col("hgnc_id"), "^HGNC", "https://identifiers.org/hgnc"
    )
    ensembl_iri = F.concat(
        F.lit("http://rdf.ebi.ac.uk/resource/ensembl/"),
        F.col("ensembl_gene_id"),
    )
    so_class = F.element_at(_lit_map(LOCUS_TYPES), F.col("locus_type"))
    hidden = lambda col: F.transform(
        F.coalesce(F.col(col), F.array()),
        lambda v: _t(uri, ":skos/hidden-label", v, False, I.XSD_STRING),
    )
    arr = F.concat(
        F.array(
            _t(uri, ":skos/preferred-label", F.col("symbol"), False,
               I.XSD_STRING),
            _t(uri, ":skos/alternative-label", F.col("name"), False,
               I.XSD_STRING),
            _t(uri, I.RDF_TYPE, ":so/Gene", True),
            _t(uri, ":owl/same-as", F.col("hgnc_id"), True),
            _t(F.col("hgnc_id"), ":dc/source", HGNC_DATASET, True),
            _t(uri, ":owl/same-as", ensembl_iri, True),
            _t(uri, ":owl/same-as", hgnc_iri, True),
            _t(ensembl_iri, ":dc/source", ENSEMBL_DATASET, True),
        ),
        _arr(
            F.col("location").isNotNull(),
            _t(uri, ":so/chromosome-band", F.col("location"), False,
               I.XSD_STRING),
        ),
        _arr(so_class.isNotNull(), _t(uri, I.RDF_TYPE, so_class, True)),
        hidden("alias_symbol"),
        hidden("prev_name"),
        hidden("prev_symbol"),
    )
    graph = HGNC_DATASET + "/"
    out = explode_triples_arr(genes, F.lit(graph), arr)
    # gene.clj:69-72 conj's the dataset-provenance statement onto every
    # per-document model; in the batch frame that collapses to ONE
    # graph-level triple (emitting it per gene row would multiply it)
    dataset_row = genes.sparkSession.createDataFrame(
        # the reference subject carries the trailing slash (gene.clj:72)
        [(graph, HGNC_DATASET + "/", I.RDF_TYPE, ":void/Dataset", True, None)],
        out.schema,
    )
    return out.unionByName(dataset_row)


def cytoband_triples(bands: DataFrame, assembly: str) -> DataFrame:
    """UCSC cytoband rows (chrom, start, end, cytoband) for one
    assembly (``hg19`` / ``hg38``) → chromosome-band features with
    located intervals in the ``CYTOBAND_ROOT`` graph
    (transform/ucsc_cytoband.clj:62-86)."""
    build = {"hg19": "grch37", "hg38": "grch38"}[assembly]
    chr_short = F.regexp_extract(F.col("chrom"), r"\d+|X|Y", 0)
    label = F.concat(chr_short, F.col("cytoband"))
    band_iri = F.concat(F.lit(CYTOBAND_ROOT), label)
    ref = F.element_at(_lit_map(CHR_TO_REF[build]), chr_short)
    loc_b = I.bnode(F.lit(assembly), band_iri, F.lit("loc"))
    int_b = I.bnode(F.lit(assembly), band_iri, F.lit("interval"))
    arr = F.array(
        _t(band_iri, I.RDF_TYPE, ":so/ChromosomeBand", True),
        _t(band_iri, I.RDF_TYPE, ":so/SequenceFeature", True),
        _t(band_iri, ":geno/has-location", loc_b, True),
        _t(band_iri, ":rdfs/label", label, False, I.XSD_STRING),
        _t(loc_b, ":geno/has-reference-sequence", ref, True),
        _t(loc_b, I.RDF_TYPE, ":geno/SequenceFeatureLocation", True),
        _t(loc_b, ":geno/has-interval", int_b, True),
        _t(int_b, I.RDF_TYPE, ":geno/SequenceInterval", True),
        _t(int_b, ":geno/start-position",
           F.col("start").cast("long").cast("string"), False, I.XSD_INTEGER),
        _t(int_b, ":geno/end-position",
           F.col("end").cast("long").cast("string"), False, I.XSD_INTEGER),
    )
    return explode_triples_arr(bands, F.lit(CYTOBAND_ROOT), arr)


def feature_triples(rows: DataFrame, graph: str) -> DataFrame:
    """NCBI feature-table gene rows → located gene features
    (transform/features.clj:12-53): rows (feature_type, assembly_acc,
    start, end, strand, gene_id); only ``feature_type == 'gene'`` rows
    load, coordinates keep the leading-digit parse."""
    gene_uri = F.concat(F.lit(GENE_PREFIX), F.col("gene_id").cast("string"))
    assembly_uri = F.concat(
        F.lit("https://www.ncbi.nlm.nih.gov/nuccore/"), F.col("assembly_acc")
    )
    loc_b = I.bnode(gene_uri, F.col("assembly_acc"), F.lit("loc"))
    int_b = I.bnode(gene_uri, F.col("assembly_acc"), F.lit("interval"))
    num = lambda c: F.regexp_extract(F.col(c), r"[0-9]*", 0).cast("long")
    arr = F.array(
        _t(gene_uri, ":geno/has-location", loc_b, True),
        _t(loc_b, I.RDF_TYPE, ":geno/SequenceFeatureLocation", True),
        _t(loc_b, ":so/assembly", assembly_uri, True),
        _t(loc_b, ":geno/has-reference-sequence", assembly_uri, True),
        _t(loc_b, ":geno/on-strand", F.col("strand"), False, I.XSD_STRING),
        _t(loc_b, ":geno/has-interval", int_b, True),
        _t(int_b, I.RDF_TYPE, ":geno/SequenceInterval", True),
        _t(int_b, ":geno/start-position", num("start").cast("string"), False,
           I.XSD_INTEGER),
        _t(int_b, ":geno/end-position", num("end").cast("string"), False,
           I.XSD_INTEGER),
    )
    return explode_triples_arr(
        rows.where(F.col("feature_type") == "gene"), F.lit(graph), arr
    )


def gene_score_triples(
    scores: DataFrame,
    score_class: str,
    org_url: str,
    gene_labels: DataFrame,
    import_date: str,
    graph: str,
) -> DataFrame:
    """Per-gene score rows (symbol, score) → SEPIO score nodes
    (common_score.clj:10-22 via hi_index.clj / loss_intolerance.clj):
    the gene resolves through the reference's ``symbol-query`` — a
    preferred-OR-hidden label union (common_score.clj:5) — here a
    BROADCAST join against ``gene_labels(label, gene_uri)``; unresolved
    symbols drop (the reference's nil guard). ``import_date`` is the
    deterministic stand-in for the reference's wall-clock
    ``date-time-now`` (injected so runs and oracles agree)."""
    # the reference takes the FIRST query hit per symbol (hi_index.clj:14
    # / loss_intolerance.clj:20 `(first ...)`) — an ambiguous label
    # (prev_symbols are reused across genes in real HGNC data) must
    # resolve to ONE gene, not multiply the score row; min(gene_uri) is
    # the deterministic stand-in for Jena's arbitrary iteration order
    one_per_label = gene_labels.groupBy("label").agg(
        F.min("gene_uri").alias("gene_uri")
    )
    joined = scores.join(
        F.broadcast(one_per_label),
        scores["symbol"] == one_per_label["label"],
    ).drop("label")
    sb = I.bnode(F.col("gene_uri"), F.lit(score_class), F.lit("score"))
    cb = I.bnode(F.col("gene_uri"), F.lit(score_class), F.lit("contrib"))
    ab = I.bnode(F.col("gene_uri"), F.lit(score_class), F.lit("agent"))
    arr = F.array(
        _t(sb, ":iao/is-about", F.col("gene_uri"), True),
        _t(sb, I.RDF_TYPE, score_class, True),
        _t(sb, ":sepio/confidence-score", F.col("score"), False,
           I.XSD_STRING),
        _t(sb, ":sepio/qualified-contribution", cb, True),
        _t(sb, ":sepio/has-contributor", ab, True),
        _t(cb, I.RDF_TYPE, ":sepio/Contribution", True),
        _t(cb, ":sepio/date-updated", F.lit(import_date), False,
           I.XSD_STRING),
        _t(cb, ":sepio/has-agent", ab, True),
        _t(ab, I.RDF_TYPE, ":foaf/Organization", True),
        _t(ab, ":skos/preferred-label", F.lit(org_url), False, I.XSD_STRING),
    )
    return explode_triples_arr(joined, F.lit(graph), arr)


def genemap2_pairs(rows: DataFrame) -> DataFrame:
    """OMIM genemap2 rows → (phenotype, gene) pairs
    (transform/omim.clj:35-44): every ≥4-digit MIM number in the
    phenotypes text column becomes one pair; rows without an NCBI gene
    id or without phenotypes drop. ``rows`` columns: ncbi_gene_id,
    phenotypes_text."""
    mims = F.regexp_extract_all(F.col("phenotypes_text"), F.lit(r"(\d{4,})"))
    return (
        rows.where(
            (F.length(F.col("ncbi_gene_id")) > 0) & (F.size(mims) > 0)
        )
        .select(
            F.explode(mims).alias("mim"),
            F.concat(F.lit(GENE_PREFIX), F.col("ncbi_gene_id")).alias("gene"),
        )
        .select(
            F.concat(F.lit(MIM_PREFIX), F.col("mim")).alias("phenotype"),
            "gene",
        )
    )


def omim_genetic_condition_triples(
    pairs: DataFrame, mondo_equiv: DataFrame, graph: str
) -> DataFrame:
    """(phenotype, gene) pairs → ``is-about-gene`` triples, plus — for
    SINGLE-gene phenotypes that have a MONDO equivalent-class — the
    MONDO condition typed ``:sepio/GeneticCondition``
    (transform/omim.clj:18-33). One grouped pass decides the
    single-member rule (map-side combinable count); the equivalence is
    a broadcast join (``mondo_equiv(omim_iri, mondo_iri)``)."""
    about = pairs.select(
        F.lit(graph).alias("graph"),
        F.col("phenotype").alias("subject"),
        F.lit(":sepio/is-about-gene").alias("predicate"),
        F.col("gene").alias("object"),
        F.lit(True).alias("object_is_iri"),
        F.lit(None).cast("string").alias("object_datatype"),
    )
    singles = (
        pairs.groupBy("phenotype")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") == 1)
        .join(
            F.broadcast(mondo_equiv),
            F.col("phenotype") == F.col("omim_iri"),
        )
        .select(
            F.lit(graph).alias("graph"),
            F.col("mondo_iri").alias("subject"),
            F.lit(I.RDF_TYPE).alias("predicate"),
            F.lit(":sepio/GeneticCondition").alias("object"),
            F.lit(True).alias("object_is_iri"),
            F.lit(None).cast("string").alias("object_datatype"),
        )
    )
    return about.unionByName(singles)


def affiliation_triples(rows: DataFrame, graph: str) -> DataFrame:
    """ClinGen affiliation CSV rows → agent labels
    (transform/affiliations.clj:8-30): each row carries up to three
    (id, label) pairs (base, VCEP, GCEP); empty ids/labels drop, labels
    trim. ``rows`` columns: aff_id, aff_label, vcep_id, vcep_label,
    gcep_id, gcep_label."""
    pair = lambda i, l: F.struct(
        F.col(i).alias("pid"), F.col(l).alias("plabel")
    )
    exploded = rows.select(
        F.explode(
            F.array(
                pair("aff_id", "aff_label"),
                pair("vcep_id", "vcep_label"),
                pair("gcep_id", "gcep_label"),
            )
        ).alias("p")
    ).where(
        (F.length(F.coalesce(F.col("p.pid"), F.lit(""))) > 0)
        & (F.length(F.coalesce(F.col("p.plabel"), F.lit(""))) > 0)
    )
    iri_c = F.concat(F.lit(AFFILIATION_PREFIX), F.col("p.pid"))
    arr = F.array(
        _t(iri_c, ":skos/preferred-label", F.trim(F.col("p.plabel")), False,
           I.XSD_STRING),
        _t(iri_c, I.RDF_TYPE, ":cg/Affiliation", True),
    )
    return explode_triples_arr(exploded, F.lit(graph), arr)
