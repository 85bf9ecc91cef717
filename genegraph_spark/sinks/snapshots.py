"""Per-entity-type versioned snapshot tables — the document-store sinks.

Reference analog: each ClinVar entity type keeps a RocksDB snapshot
store keyed by versioned IRI ``<prefix><id>.<release_date>`` so prefix
scans enumerate versions in order (``src/genegraph/rocksdb.clj:51-64``,
``src/genegraph/sink/document_store.clj:6-48``; per-type stores at
``transform/clinvar/variation.clj:478-480``,
``clinical_assertion.clj:119-121,193-195,700-702``, ``submitter.clj:10-12``).

Spark mapping: one table per entity type, rows keyed
``(is_version_of, version)``; the RocksDB prefix scan becomes a
key-partitioned window, "latest as-of" is the top-1-per-key idiom
(``transform/clinvar/common.clj:209-258``). Batches land under
``snapshot=N`` dirs — replaying a snapshot id overwrites it (the same
idempotent-commit contract as the named-graph store). At cluster
scale each table is Iceberg with a sort order on (is_version_of,
version) so the as-of read is a merge-scan, not a full shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class SnapshotStore:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = base_path
        os.makedirs(base_path, exist_ok=True)

    def _dir(self, entity_type: str) -> str:
        return os.path.join(self.base, entity_type)

    def _snapshots(self, entity_type: str) -> list[int]:
        d = self._dir(entity_type)
        if not os.path.isdir(d):
            return []
        return sorted(int(x.split("=")[1]) for x in os.listdir(d) if x.startswith("snapshot="))

    def write(self, entity_type: str, docs: DataFrame, snapshot: int | None = None) -> int:
        """Append one batch of versioned docs for an entity type.
        Re-writing the same snapshot id overwrites (idempotent replay)."""
        if snapshot is None:
            existing = self._snapshots(entity_type)
            snapshot = (existing[-1] + 1) if existing else 0
        docs.write.mode("overwrite").parquet(
            os.path.join(self._dir(entity_type), f"snapshot={snapshot}")
        )
        return snapshot

    def read(self, entity_type: str) -> DataFrame:
        """All snapshots of a type (version history; dedup is the
        reader's window, like the reference's prefix scan + take-last).
        Raises a clear error for a never-written type (its doc schema is
        caller-defined, so no empty frame can be synthesized). The dirs are
        listed on the driver: a ``snapshot=*`` glob makes Spark log a
        warning while it looks for a streaming-sink metadata dir there."""
        snapshots = self._snapshots(entity_type)
        if not snapshots:
            raise ValueError(f"no snapshots written for entity type {entity_type!r}")
        d = self._dir(entity_type)
        return self.spark.read.option("basePath", d).parquet(
            *(os.path.join(d, f"snapshot={s}") for s in snapshots)
        )

    def latest_as_of(
        self,
        entity_type: str,
        cutoff,
        key: str = "is_version_of",
        version: str = "version",
    ) -> DataFrame:
        """Max version ≤ cutoff per unversioned key
        (clinical_assertion.clj:612-627 prefix scan + filter + last).
        Later snapshots win ties (re-published same version)."""
        df = self.read(entity_type).where(F.col(version) <= cutoff)
        w = Window.partitionBy(key).orderBy(F.desc(version), F.desc("snapshot"))
        return (
            df.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
        )
