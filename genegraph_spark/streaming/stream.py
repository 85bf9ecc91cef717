"""Structured Streaming ingest: the reference's Kafka consumer loop
re-expressed as readStream → transform → foreachBatch sink.

Reference analog: per-topic consumer threads with manual offset
management and catch-up detection (``src/genegraph/sink/stream.clj:106-360``).
Spark mapping: source offsets/checkpointing replace the hand-rolled
offset file (``stream.clj:221-236``); each micro-batch lands via
``foreachBatch`` as one idempotent write keyed by batch id (the
reference wraps each poll batch in one write tx,
``sink/event.clj:172-178``); ``Trigger.AvailableNow`` reproduces the
"consume to end offsets then stop" catch-up loop (``stream.clj:190-219``).

The page stream commits to the named-graph store by the batch rule,
``run_to_store(incremental=True)``: a page at or below its url's
processed version is skipped, so late data never regresses a graph and a
replayed micro-batch adds no commit.

Scale shape: the streaming query itself is stateless or
bounded-state (watermarked windows); per-batch results are appended to
an output *table* under ``batch=N`` directories — overwritten on replay
of the same batch id, so checkpoint + idempotent batch dirs give
exactly-once results. Nothing materializes on the driver (round 1 used
``outputMode("complete")`` + a memory sink — a driver-side collect of
the full aggregate every batch; gone).

The source is a file stream over a parquet directory; a Kafka
deployment replaces it with a ``format("kafka")`` reader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..functions.text import extract_text, is_tombstone
from ..operators import mentions
from ..operators.versioned import latest_version
from ..sinks.named_graph import TRIPLE_SCHEMA, NamedGraphStore

PAGE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "version int, doc_id long, tombstone boolean"
)

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def write_pages_source(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the pages table as a parquet directory usable as a
    file-stream source (one file per partition = multiple micro-batch
    splits)."""
    fixtures.pages_df(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(out_dir)
    return out_dir


def write_events_source(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the events table alone as a stream-source directory
    (the sf dir holds many tables; a file stream needs a homogeneous one)."""
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(out_dir)
    return out_dir


def write_events_source_with_dupes(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Events source with deterministic duplicate deliveries: every
    event_id divisible by 10 appears a second time, appended as separate
    files so the replay lands in a LATER micro-batch — the at-least-once
    redelivery shape (a Kafka consumer replaying past its last committed
    offset, stream.clj:150-170) the dedup stream must collapse."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(out_dir)
    ev.where(F.col("event_id") % 10 == 0).coalesce(1).write.mode("append").parquet(out_dir)
    return out_dir


def _drain(stream: DataFrame, batch_fn, checkpoint_dir: str, output_mode: str) -> None:
    """Run ``stream`` through ``batch_fn`` (foreachBatch) until every
    source file present at start is consumed, then stop (availableNow).
    Rerunning with the same checkpoint processes only NEW source files
    and runs no batch when none arrived."""
    stream.writeStream.outputMode(output_mode).foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    ).trigger(availableNow=True).start().awaitTermination()


def _batch_dir_writer(out_dir: str):
    """foreachBatch fn: write the micro-batch result to ``batch=N``,
    overwriting on checkpoint replay — idempotent exactly-once commits
    (the Iceberg-MERGE-per-batch analog at sandbox scale)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))

    return write_batch


def _read_batches(spark: SparkSession, out_dir: str, empty_schema: str) -> DataFrame:
    """Union of the committed batch dirs; a zero-batch run (empty source)
    yields an empty typed frame rather than a path error. The dirs are
    listed on the driver: a ``batch=*`` glob makes Spark look for a
    streaming-sink ``_spark_metadata`` dir at the glob path itself, which
    logs a ``FileNotFoundException`` warning on every read."""
    names = sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []
    paths = [os.path.join(out_dir, d) for d in names if d.startswith("batch=")]
    if not paths:
        return spark.createDataFrame([], empty_schema)
    return spark.read.option("basePath", out_dir).parquet(*paths)


def stream_mention_counts(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Streaming mention detection: file stream → extract → gazetteer
    broadcast join → per-batch partial per-entity counts appended via
    foreachBatch → final counts aggregate over batches.

    The in-stream plan is STATELESS (no streaming aggregation state);
    partial counts commute, so the final (iri, n_mentions) is independent
    of how the source splits into micro-batches. Runs with availableNow
    and returns the final aggregate as a batch DataFrame."""
    out_dir = out_dir or checkpoint_dir + "_out"
    src = spark.readStream.schema(PAGE_SCHEMA).parquet(source_dir)
    extracted = (
        src.withColumn("etext", extract_text(F.col("html")))
        .where(F.col("etext").isNotNull() & ~is_tombstone(F.col("html")))
    )
    alias = fixtures.alias_df(spark).where(F.col("label_kind") == "preferred")
    hits = mentions.detect_mentions(mentions.tokenize(extracted, text_col="etext"), alias)

    write = _batch_dir_writer(out_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write(batch_df.groupBy("iri").agg(F.count("*").alias("n_part")), batch_id)

    _drain(hits, write_batch, checkpoint_dir, "append")
    return (
        _read_batches(spark, out_dir, "iri string, n_part long, batch int")
        .groupBy("iri")
        .agg(F.sum("n_part").alias("n_mentions"))
    )


def stream_windowed_events(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Event-time windowed aggregation with a watermark (late-data
    handling the reference lacks — its ordering is offset-based):
    5-minute tumbling windows of event counts per type.

    outputMode("update") emits each window's refreshed aggregate; the
    foreachBatch sink lands them under ``batch=N`` and the final read
    takes the LATEST emission per (window, type) — the standard
    idempotent upsert-by-key pattern (at cluster scale: MERGE into a
    results table keyed by window)."""
    out_dir = out_dir or checkpoint_dir + "_out"
    src = spark.readStream.schema(EVENT_SCHEMA).parquet(source_dir)
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )
    _drain(agg, _batch_dir_writer(out_dir), checkpoint_dir, "update")
    return latest_version(
        _read_batches(
            spark, out_dir,
            "window_start timestamp, event_type string, n long, total double, batch int",
        ),
        ["window_start", "event_type"],
        "batch",
    ).select("window_start", "event_type", "n", "total")


def stream_dedup_events(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str | None = None,
) -> DataFrame:
    """Streaming exactly-once dedup: ``dropDuplicatesWithinWatermark``
    keyed on event_id — duplicate deliveries from an at-least-once
    source (offset replay after a crash) collapse to ONE emission, and
    the dedup state is EVICTED once the watermark passes an event's
    time, instead of growing forever (the unbounded ``dropDuplicates``
    state trap at 100 TB). The 35-day watermark delay must cover the
    source's redelivery horizon (Kafka retention / replay window); here
    it spans the whole fixture so the assertion is deterministic
    regardless of how files split into micro-batches (two per trigger)."""
    out_dir = out_dir or checkpoint_dir + "_out"
    src = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(source_dir)
    )
    dd = src.withWatermark("ts", "35 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    _drain(dd, _batch_dir_writer(out_dir), checkpoint_dir, "append")
    return _read_batches(spark, out_dir, EVENT_SCHEMA + ", batch int").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# -- custom stateful operator (applyInPandasWithState) -----------------------

def stream_user_running_totals(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-user running event count /
    value total carried across micro-batches in GroupState — the
    ``applyInPandasWithState`` pattern for operators Structured
    Streaming's built-in aggregations can't express (arbitrary
    per-key state machines; the reference's nearest analog is its
    per-entity RocksDB snapshot accumulation).

    Emits the refreshed (user_id, n_events, total) row per touched user
    per batch to ``batch=N`` dirs; the final read is latest-per-user.
    Micro-batches take two source files each, as in
    :func:`stream_dedup_events`. State is partitioned by user — one
    shuffle per batch, state store local to each partition, exactly the
    layout RocksDB-backed state uses on a cluster."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_dir = out_dir or checkpoint_dir + "_out"
    src = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(source_dir)
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total": [total]})

    updated = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _drain(updated, _batch_dir_writer(out_dir), checkpoint_dir, "update")
    return latest_version(
        _read_batches(spark, out_dir, "user_id long, n_events long, total double, batch int"),
        ["user_id"],
        "batch",
    ).select("user_id", "n_events", F.round("total", 4).alias("total"))


def stream_pages_to_store(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
) -> dict:
    """The reference's PRIMARY event loop, streamed end to end: page
    events from a file-stream source → per-micro-batch KG construction
    (the full fused extraction + gazetteer linking + triple
    materialization plan of :func:`~genegraph_spark.plans.pipeline.construct_kg`)
    → :class:`NamedGraphStore` MERGE — one store commit per micro-batch
    (``stream.clj:150-236``: consume → add-model → replaceNamedModel,
    with the streaming checkpoint playing the offset file's role).

    Delivery semantics (matches the reference's offset-commit window):
    the streaming checkpoint advances AFTER the batch function returns,
    so a crash between merge and checkpoint replays the batch. Each
    micro-batch commits by the batch rule, ``run_to_store(incremental=True)``:
    a page at or below the version its url was last processed at is
    skipped, so a replayed batch — or committed pages delivered again as
    new source files — adds no commit, and a late older version never
    regresses a url (a v1 arriving after the v3 tombstone leaves the url
    deleted). Which micro-batch a page lands in therefore does not
    change the final store.

    Returns {"batches": n, "last_commit": id}. availableNow trigger:
    drains everything present, then stops — rerunning with the same
    checkpoint processes only NEW source files (catch-up semantics)."""
    from ..plans.pipeline import run_to_store

    batches = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        run_to_store(spark, sf_dir, store_path, pages=batch_df, incremental=True)
        batches.append(batch_id)

    pages = spark.readStream.schema(PAGE_SCHEMA).parquet(source_dir)
    _drain(pages, sink, checkpoint_dir, "append")
    store = NamedGraphStore(spark, store_path)
    return {"batches": len(batches), "last_commit": store.last_commit()}


def stream_gdm_to_store(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    query_dir: str,
    dictionary: DataFrame,
    names: dict | None = None,
    entrez_map: DataFrame | None = None,
    constructs: list[str] | None = None,
) -> dict:
    """The reference's gene-validity PRIMARY loop, streamed: curation
    event MODELS (triple rows, graph = curation IRI) from a file-stream
    source → per-micro-batch :func:`~genegraph_spark.operators.gdm_chain.
    transform_gdm_corpus` (EVERY curation in the batch flows through the
    22-construct chain in ONE set of graph-scoped jobs — the corpus-mode
    payoff applied to streaming: the reference transforms one event at a
    time, stream.clj:150-236 + transform-gdm) → NamedGraphStore MERGE,
    one commit per micro-batch.

    The checkpoint advances after the batch function, as in
    :func:`stream_pages_to_store`, but curation models carry no version,
    so the merge has no watermark to apply: a curation's LAST delivery
    wins, and a replayed batch rewrites the same graphs with the same
    content in one more commit.

    ``constructs`` narrows the chain to a subset of CONSTRUCT_ORDER for
    wiring diagnostics/tests — production callers leave it None (the
    full chain; its correctness is pinned by the batch-mode tests)."""
    from ..operators.gdm_chain import transform_gdm_corpus

    batches = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform_gdm_corpus(
            batch_df,
            query_dir,
            dictionary,
            names=names,
            entrez_map=entrez_map,
            constructs=constructs,
        )
        # the merge reads its triples twice: run the chain once
        out = out.persist()
        try:
            NamedGraphStore(spark, store_path).merge(out)
        finally:
            out.unpersist()
        batches.append(batch_id)

    events = spark.readStream.schema(TRIPLE_SCHEMA).parquet(source_dir)
    _drain(events, sink, checkpoint_dir, "append")
    store = NamedGraphStore(spark, store_path)
    return {"batches": len(batches), "last_commit": store.last_commit()}
