"""Skew handling: salting utilities for Zipf-hot keys.

Net-new relative to the reference (single-node, no shuffle —
SURVEY §4); required at 100 TB where BRCA1-class entities concentrate
orders of magnitude more rows on one key than the median. AQE's skew
join (`spark.sql.adaptive.skewJoin.enabled`, on in session.py) splits
oversized *partitions* after the fact; salting removes the hot key at
the *logical* level, which also covers top-k — a case AQE's join-only
splitter does not.

All salts are deterministic (hash of a disambiguating column, never
rand()) so retries and resume recompute identical partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Slices a hot key's top-k sort is spread over.
N_SALTS = 8


def salted_top_k(
    df: DataFrame,
    key: str,
    order_col: str,
    k: int,
    salt_by: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Top-k rows per key (``order_col`` descending) without a single-task
    sort of a hot key: stage 1 takes the top-k within each (key, salt)
    slice, stage 2 merges the ≤ k·N_SALTS survivors per key. Identical
    results to the direct window; the hot key's sort spreads across
    :data:`N_SALTS` tasks."""
    order = [F.desc(order_col)]
    if tiebreak:
        order.append(F.asc(tiebreak))
    s = df.withColumn("_salt", F.pmod(F.xxhash64(salt_by), F.lit(N_SALTS)).cast("int"))
    w1 = Window.partitionBy(key, "_salt").orderBy(*order)
    stage1 = s.withColumn("_rn", F.row_number().over(w1)).where(F.col("_rn") <= k)
    w2 = Window.partitionBy(key).orderBy(*order)
    return (
        stage1.drop("_rn", "_salt")
        .withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .withColumnRenamed("_rn", "rank")
    )
