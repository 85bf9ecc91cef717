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
(``transform/clinvar/common.clj:209-258``). Each table commits through
:class:`commit.CommitLog`, as the named-graph store does: a write lands
in a fresh ``data/cNNNNNNNN/snapshot=N`` dir and publishes a manifest
mapping every snapshot id to its dir, so a killed write lists no snapshot and replaying
a snapshot id replaces it without touching the files readers hold. A
table written before manifests existed reads its ``snapshot=N`` dirs. At
cluster scale each table is Iceberg with a sort order on (is_version_of,
version) so the as-of read is a merge-scan, not a full shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .commit import CommitLog, tag


class SnapshotStore:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = base_path

    def _log(self, entity_type: str) -> CommitLog:
        return CommitLog(os.path.join(self.base, entity_type), ("data",),
                         lambda meta: {os.path.dirname(d) for d in meta["snapshots"].values()})

    def _snapshots(self, log: CommitLog) -> dict[str, str]:
        """Snapshot id → data dir, as the head publishes them; a table
        written before manifests existed lists its ``snapshot=N`` dirs."""
        meta = log.latest()
        if meta is not None:
            return meta["snapshots"]
        names = os.listdir(log.path) if os.path.isdir(log.path) else []
        return {x.split("=")[1]: x for x in names if x.startswith("snapshot=")}

    def write(self, entity_type: str, docs: DataFrame, snapshot: int | None = None) -> int:
        """Append one batch of versioned docs for an entity type as the
        next free snapshot id, or as ``snapshot``: re-writing a snapshot id
        replaces it (idempotent replay)."""
        log = self._log(entity_type)
        with log.commit(log.head()) as commit:
            snapshots = self._snapshots(log)
            if snapshot is None:
                snapshot = max(map(int, snapshots), default=-1) + 1
            data_dir = f"data/{tag(commit)}/snapshot={snapshot}"
            docs.write.mode("overwrite").parquet(os.path.join(log.path, data_dir))
            log.publish(commit, {"snapshots": {**snapshots, str(snapshot): data_dir}})
            log.expire(keep_last=1)
        return snapshot

    def read(self, entity_type: str) -> DataFrame:
        """All snapshots of a type as one scan, each row tagged with the
        ``snapshot`` id its dir is named for (version history; dedup is the
        reader's window, like the reference's prefix scan + take-last).
        Raises a clear error for a never-written type (its doc schema is
        caller-defined, so no empty frame can be synthesized)."""
        log = self._log(entity_type)
        snapshots = self._snapshots(log)
        if not snapshots:
            raise ValueError(f"no snapshots written for entity type {entity_type!r}")
        df = self.spark.read.parquet(*(os.path.join(log.path, d) for d in snapshots.values()))
        return df.withColumn(
            "snapshot",
            F.regexp_extract("_metadata.file_path", r"/snapshot=(\d+)/[^/]*$", 1).cast("int"),
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
