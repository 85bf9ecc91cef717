"""End-to-end KG-construction pipeline.

The reference processes each event through a Pedestal interceptor chain
(``src/genegraph/sink/event.clj:100-137``): record lineage → add metadata
→ parse/transform to RDF → derive graph IRI → validate → extract subjects
→ infer action → write named graph → snapshot. Re-expressed as a linear
DataFrame plan (SURVEY §3.1):

    fixture vocabulary ──driver compile──▶ broadcast gazetteer + canonical map
    pages ──fused Arrow mapper (extract, tokenize, match, link, count)──▶
      slim rows (flags + per-page canonical mention arrays)
      slim ──quarantine split──▶ valid
      valid ──compact versions──▶ version heads (latest accepted row per url;
                                   run_to_store caches these)
      heads ──▶ live rows ──explode──▶ page triples
            ──▶ (graph, deleted, version) ──▶ per-graph facts
                                               (tombstones + watermark)
      page triples + per-graph facts (+ the dictionary graph and its row,
        only when the store lacks this version of it)
        ──MERGE by graph──▶ named-graph store (+ lineage)

Every stage is JVM-side except the single fused mapper
(:func:`..operators.mentions.make_page_mapper`).
"""

from __future__ import annotations

import hashlib
import inspect
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..functions import iri as I
from ..operators import mentions, triples as T, validate, versioned


@dataclass
class PipelineResult:
    pages: DataFrame
    quarantine: DataFrame
    linked: DataFrame
    #: page skeleton + mention triples, one named graph per live url
    page_triples: DataFrame
    #: (graph, deleted, version): one row per url's version head, the
    #: commit's per-graph facts — tombstoned graphs are deleted, and
    #: ``version`` is the incremental-ingest watermark. Derived from rows
    #: that PASSED shape validation, not raw input: recording the raw max
    #: would let a feed carrying v1 (valid) + v2 (quarantined) stamp
    #: watermark 2 while the store holds v1 content, silently skipping a
    #: later corrected redelivery of v2 in incremental mode.
    per_graph: DataFrame
    #: the accepted version heads (latest accepted row per url, tombstones
    #: included), the one frame the page triples and per-graph facts above
    #: derive from; :func:`run_to_store` persists it so a commit runs
    #: extraction once
    heads: DataFrame

    @property
    def triples(self) -> DataFrame:
        """The page triples and the dictionary graph."""
        return T.union_all([self.page_triples, dictionary_graph(self.pages.sparkSession)])


def construct_kg(
    spark: SparkSession,
    sf_dir: str,
    pages: DataFrame | None = None,
    use_golden_text: bool = False,
) -> PipelineResult:
    """Build the KG from the pages table (synthesized from sf_dir unless
    given). ``use_golden_text`` skips the pandas-UDF extraction (the
    fixture carries golden text) — used by oracle-facing queries so the
    DuckDB SQL side stays expressible; the extraction itself is verified
    byte-identical by its own query + tests.
    """
    if pages is None:
        pages = fixtures.pages_df(spark, sf_dir)

    # 0. compile the broadcast gazetteer on the driver from the fixture
    #    vocabulary (zero Spark jobs)
    canon_of = fixtures.canonical_map_py()
    alias_rows = [
        {"iri": iri, "label": lbl, "label_kind": kind}
        for iri, _, pref, alts, hiddens, _ in fixtures.ENTITIES
        for lbl, kind in (
            [(pref, "preferred")]
            + [(a, "alt") for a in alts]
            + [(h, "hidden") for h in hiddens]
        )
    ]
    by_label, e_to_c, canon_iris = mentions.gazetteer_payload(alias_rows, canon_of)

    # 1. the fused hot path (north-star shape): ONE Arrow-batched pass per
    #    page does extraction (byte-identical, functions.text), tombstone
    #    detection, gazetteer match + contextual link scoring against the
    #    broadcast dictionary — inside Python worker processes, which
    #    scale linearly (independent heaps), while the JVM only ever sees
    #    slim rows (url, ids, flags, int arrays). The page text never
    #    enters a shuffle.
    mapper = mentions.make_page_mapper(by_label, e_to_c, use_golden_text)
    # ONE partition probe decides the low-split (fixture/single-file)
    # regime for the whole pipeline — lake inputs arrive in >= parallelism
    # splits and skip both branches below. (Probing is a physical-planning
    # pass; do it on the scan-side frame once, never on post-shuffle
    # frames — see operators.partitioning.)
    dp = spark.sparkContext.defaultParallelism
    low_split = pages.rdd.getNumPartitions() < dp
    if low_split and not use_golden_text:
        # real html extraction is the expensive per-row stage; a single-
        # row-group fixture scan would run it in ONE Python worker. The
        # golden-text path skips this: its per-row work is light and the
        # extra tasks cost more than they save (measured 2.8s -> 3.5s on
        # kg_triples).
        pages = pages.repartition(dp, "url")
    mapped = pages.mapInPandas(mapper, mentions.MAP_SCHEMA)
    if low_split:
        # Pre-shuffle the slim mapper output by url to EXACTLY dp
        # partitions: the version-compaction window below is keyed on
        # url, so it reuses this exchange (no extra shuffle), and an
        # explicit user repartition is not AQE-byte-coalesced — without
        # it the window output collapses to ONE post-shuffle partition
        # at fixture scale and its ~60x triple/mention explode consumers
        # run single-threaded (measured 1.25s of kg_triples' 2.1s).
        mapped = mapped.repartition(dp, "url")

    # 2. root-type dispatch + declarative shape validation + version
    #    compaction over slim rows (formats.edn/shapes.edn registry,
    #    annotate.clj:19,30-36,72-132 — but quarantine, not chain-abort;
    #    ga4gh.clj:170-190 → newest version wins, tombstone head deletes).
    #    The registry compiles to one CASE projection — no join, no UDF.
    typed = mapped.withColumn(
        "root_type",
        F.when(F.col("is_del"), F.lit("TombstonePage")).otherwise(F.lit("WebPage")),
    )
    validated = validate.page_shape_registry().dispatch(typed)
    quarantine = validated.where(F.size("violations") > 0)
    accepted = validated.where(F.size("violations") == 0)
    heads = versioned.latest_version(
        accepted.drop("violations", "root_type"),
        key="url",
        version="version",
    )
    live_slim = heads.where(~F.col("is_del"))

    # 3. per-(page, canonical entity) mention records (lazy — only built
    #    if a consumer reads .linked): explode the int arrays, resolve the
    #    canonical IRI through a literal array (zero joins/broadcasts; the
    #    gazetteer is the curated fixture vocabulary). The triples share
    #    the same lookup Column.
    canon_lookup = F.array(*[F.lit(c) for c in canon_iris])
    linked_canon = (
        live_slim.select(
            "url", F.explode(F.arrays_zip("m_cidx", "m_cnt", "m_pos")).alias("m")
        )
        .select(
            "url",
            F.col("m.m_cnt").cast("long").alias("n_mentions"),
            F.col("m.m_pos").alias("first_pos"),
            F.element_at(canon_lookup, F.col("m.m_cidx") + 1).alias("canonical_iri"),
        )
    )

    # 4. triple materialization: page + mention triples in ONE explode off
    #    live_slim (single consumer of the Python stage — a branch per
    #    family re-executes extraction, measured 2× in the round-1 plan);
    #    the (tiny) dictionary graph is unioned on top by ``triples``.
    return PipelineResult(
        pages=pages,
        quarantine=quarantine,
        linked=linked_canon,
        page_triples=T.page_and_mention_triples(live_slim, canon_lookup),
        # the head's version is the max accepted version by construction
        per_graph=heads.selectExpr("url AS graph", "is_del AS deleted", "version"),
        heads=heads,
    )


def dictionary_graph(spark: SparkSession) -> DataFrame:
    """The dictionary graph: the curated vocabulary's triples. It does not
    depend on the pages; :func:`dictionary_content_version` versions it."""
    # ``canon`` stays a Python-list frame, not a pandas-built
    # LocalRelation: with both constant frames as LocalRelations, two
    # construct_kg calls build equal plans and the cache manager swaps
    # a persisted triples view into an uncached one.
    canon = spark.createDataFrame(
        sorted(fixtures.canonical_map_py().items()), "iri string, canonical_iri string"
    )
    return T.dictionary_triples(fixtures.dictionary_df(spark), canon)


def dictionary_content_version() -> int:
    """Content version of the dictionary graph: a 63-bit digest of the
    sources its triples are derived from — the vocabulary and canonical
    map (``fixtures``), the triple templates and the IRIs. Computed on
    the driver without a Spark job; any edit to those modules changes it
    and republishes the graph once."""
    h = hashlib.sha256()
    for module in (fixtures, T, I):
        h.update(inspect.getsource(module).encode())
    return int.from_bytes(h.digest()[:8], "big") >> 1


def run_to_store(
    spark: SparkSession,
    sf_dir: str,
    store_path: str,
    dry_run: bool = False,
    incremental: bool = False,
    **kw,
):
    """Full batch run: construct + MERGE into the named-graph store.

    ``dry_run`` truncates the chain before any side effect
    (abort-on-dry-run-interceptor, sink/event.clj:71-76): the plan is
    built and the would-be commit summarized (graphs / triples /
    deletes), but nothing is written — the store is untouched.

    ``incremental``: a page row is processed only when its ``version``
    exceeds its url's lineage watermark, the highest version a commit
    processed the url at (:meth:`NamedGraphStore.processed_versions`),
    or the watermark is null/absent (unknown → reprocess; whole-graph
    MERGE keeps that idempotent). Rows at or below the watermark are
    never re-extracted, so a feed cannot regress a graph to an older
    version. Each merge records the watermark via ``per_graph``, so
    successive incremental feeds pay extraction only for new or updated
    urls, and a feed the watermark skips entirely writes no commit — the
    Kafka-consumer catch-up loop
    (stream.clj:150-170) re-expressed as batch anti-join + MERGE. A
    restart of the same input therefore reprocesses only the pages the
    killed run never committed (the offset-file resume semantic at graph
    granularity, stream.clj:221-236).

    The commit persists the version heads (latest accepted row per url),
    not the validated rows: the page triples and the per-graph facts
    ``(graph, deleted, version)`` are narrow projections of that cache,
    and the merge's first action fills it. The dictionary graph (and its
    per-graph row) is merged only when the store's manifest does not
    record the current :func:`dictionary_content_version`."""
    from ..sinks.named_graph import NamedGraphStore

    store = NamedGraphStore(spark, store_path)
    pages = kw.pop("pages", None)
    if pages is None:
        pages = fixtures.pages_df(spark, sf_dir)
    if incremental and store.exists():
        # skip a page row iff its url was already processed at this
        # version or a later one: one broadcast anti-join against the
        # processed versions, with no aggregation on either side
        done = store.processed_versions().select(
            F.col("graph").alias("_done_url"), F.col("version").alias("_done_v")
        )
        pages = pages.join(
            done,
            (F.col("url") == F.col("_done_url")) & (F.col("version") <= F.col("_done_v")),
            "left_anti",
        )
    kw["pages"] = pages
    res = construct_kg(spark, sf_dir, **kw)
    # The dictionary graph is published only when the store does not hold
    # this version of it: a new store, a changed vocabulary, or a commit
    # since that deleted or replaced the graph.
    triples, per_graph = res.page_triples, res.per_graph
    if store.dictionary_version() != (dict_version := dictionary_content_version()):
        triples = res.triples
        per_graph = per_graph.unionByName(spark.createDataFrame(
            [(I.DICTIONARY_GRAPH, False, dict_version)],
            "graph string, deleted boolean, version bigint",
        ))
    # Extract the feed once: the triples and the per-graph facts (or the
    # dry-run counts) all read the cached version heads instead of
    # re-running the watermark anti-join and the mapper each; the first
    # action below fills the cache.
    heads = res.heads.persist()
    try:
        if dry_run:
            summary = {
                "dry_run": True,
                "would_commit": (
                    lc + 1 if (lc := store.last_commit()) is not None else 0
                ),
                "n_triples": triples.count(),
                "n_graphs": triples.select("graph").distinct().count(),
                "n_deleted_graphs": res.per_graph.where("deleted").count(),
            }
            return res, store, summary
        commit = store.merge(triples, per_graph=per_graph)
    finally:
        heads.unpersist()
    return res, store, commit
