"""Batch sources.

Reference analogs: the base-data manifest loader (``sink/base.clj:41-59``
— ~30 pinned files fetched and transformed into their own named graphs),
batch event archives (``sink/batch.clj:24-67``) and the Kafka consumer
(``sink/stream.clj``). In this engine every batch source is a
``spark.read`` against the lake; the Kafka path is represented by the
streaming module (``streaming.stream``) and, in batch form, by reading a
topic dump table.

At cluster scale the pages table is Iceberg
(``spark.read.table("pages")`` with partition pruning on ingest date);
the sandbox substitutes parquet dirs + the deterministic fixture
generator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The authoritative input table (url, warc_ts, html, text, lang,
    version, doc_id, tombstone) — synthesized deterministically in the
    sandbox (fixtures), an Iceberg scan in production."""
    from .. import fixtures

    return fixtures.pages_df(spark, sf_dir)
