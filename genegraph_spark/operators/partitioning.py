"""Scan-parallelism repair for unsplittable inputs.

A parquet file is splittable only at row-group boundaries; a table
written as one row group scans as ONE non-empty task no matter what
``spark.sql.files.maxPartitionBytes`` says. Any operator that does
heavy map-side work directly over such a scan (JSON parse, shingle
explode, pandas-UDF extraction) then runs single-threaded while the
rest of the cluster idles — the "one huge unsplittable file" input-skew
case of the optimization playbook (§2.5: *fix at the source if you can;
otherwise repartition immediately after the read*).

:func:`fan_out` is that repartition, made scale-adaptive: it is a no-op
whenever the scan already yields at least the session's default
parallelism (the 100 TB case — lake tables arrive in thousands of
splits), and only low-split scans pay the one small exchange. Keyed
repartition (hash on a stable id) is preferred over round-robin: the
row→partition assignment is deterministic under task retry (SPARK-38388)
and skips round-robin's sort-before-repartition pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` up to the session's ``defaultParallelism``
    partitions when its current plan yields fewer — otherwise return it
    unchanged.

    Intended for SCANS and other cheap-to-shuffle frames feeding
    map-heavy stages; the partition probe forces physical planning of
    ``df`` (milliseconds for a scan — do not call it on frames with
    expensive plans, fan out their slim inputs instead).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)
