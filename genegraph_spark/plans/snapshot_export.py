"""Snapshot export row set — the latest version of every entity in a
versioned entity store.

Reference: ``source/snapshot/core.clj`` ``write-snapshots`` exports,
per dataset, the LATEST version of every entity from its RocksDB
store with deleted-latest entries dropped; the as-of row-set query
``variation_descriptor.clj:20-39`` (``?version <= ?until_version`` with
a NOT EXISTS over newer replacements) is, on a versioned table, exactly
"max version ≤ until per entity".

Spark-first shape: ``latest-versions-seq-all`` (ga4gh.clj:179-200) is a
RocksDB prefix-scan + partition-by in the reference; here it is ONE
per-key window over the snapshot table — fully distributed, one shuffle
on the entity key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_versions(
    docs: DataFrame,
    key: str = "is_version_of",
    version: str = "version",
    until=None,
    deleted_col: str = "deleted",
) -> DataFrame:
    """The export row set: max ``version`` (≤ ``until`` if given) per
    entity ``key``; when the frame has ``deleted_col``, entities whose
    LATEST in-window version is deleted are dropped — ``latest-versions-seq-all``'s :filter-deleted
    (ga4gh.clj:190-199) composed with the as-of filters of
    ``variation_descriptor.clj:20-39`` (the NOT EXISTS over newer
    replacements ≡ "is the max"). One window, one shuffle on the key."""
    df = docs
    if until is not None:
        df = df.where(F.col(version) <= until)
    order = [F.desc(version)]
    if "snapshot" in df.columns:  # later re-publishes of a version win
        order.append(F.desc("snapshot"))
    w = Window.partitionBy(key).orderBy(*order)
    out = df.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
    if deleted_col in df.columns:
        out = out.where(~F.coalesce(F.col(deleted_col), F.lit(False)))
    return out
