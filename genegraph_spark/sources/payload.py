"""Event payload parsing: schema'd JSON columns, including the
double-encoded nested-content pattern, and the batch event-archive
envelope.

Reference analogs: every transform begins by parsing the event's JSON
``value`` (``cheshire/parse-string`` throughout); ClinVar events carry
double-encoded nested JSON — the payload's ``content`` field is itself
a JSON *string* that must be parsed again
(``src/genegraph/transform/clinvar/core.clj:17-26``,
``parse-nested-content``). Batch archives replay JSONL event envelopes
(``src/genegraph/sink/batch.clj:24-67``) with the consumer-record
fields (``sink/stream.clj:59-73``: key, value, timestamp, topic,
partition, offset).

Spark-first: ``from_json`` with an explicit schema — JVM-side, Jackson
under codegen, no Python. Ragged/adversarial payloads: ``from_json``
yields null on parse failure (mode PERMISSIVE), so unparsable rows are
a null-filter away from the quarantine split (operators/validate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the consumer-record envelope (stream.clj:59-73)
ENVELOPE_SCHEMA = (
    "key string, value string, timestamp timestamp, topic string, "
    "partition int, offset long"
)


def parse_nested_content(
    df: DataFrame, col: str, outer_schema: str, content_field: str, content_schema: str
) -> DataFrame:
    """Double-encoded payloads (clinvar core.clj:17-26): parse the outer
    JSON, then parse the inner JSON *string* held in ``content_field``.

    Returns df + ``outer`` (struct) + ``content`` (struct). Both parses
    are JVM-side from_json; unparsable levels yield nulls."""
    out = df.withColumn("outer", F.from_json(F.col(col), outer_schema))
    return out.withColumn(
        "content", F.from_json(F.col("outer")[content_field], content_schema)
    )


def read_event_archive(spark: SparkSession, path: str) -> DataFrame:
    """Batch replay of a JSONL event-archive (sink/batch.clj:24-67):
    explicit envelope schema (no runtime inference scan — at 100 TB,
    schema-on-read inference is a full extra pass)."""
    return spark.read.schema(ENVELOPE_SCHEMA).json(path)


def write_event_archive(df: DataFrame, path: str) -> None:
    """Dump events as a JSONL archive in envelope form (the GCS tarball
    analog; used by tests and the archive round-trip query)."""
    df.write.mode("overwrite").json(path)
