"""Versioned-entity idioms: latest-as-of, as-of joins, version chains,
sessionization.

These re-express the single most important query idiom in the reference
(SURVEY §2.3): ``ORDER BY DESC(?release_date) LIMIT 1`` per unversioned
key (``src/genegraph/transform/clinvar/common.clj:209-258``), the RocksDB
prefix-scan + take-last (``clinical_assertion.clj:612-627``), and the
predecessor chain that
emits ``dc:replaces`` / ``dc:isReplacedBy``
(``common.clj:235-272`` ``mark-prior-replaced``).

Spark-first: every one is a window over ``partitionBy(key)`` — a single
shuffle on the key, map-side safe, AQE-skew-splittable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_version(df: DataFrame, key: str, version: str) -> DataFrame:
    """Top-1-per-key: the newest version of each entity."""
    w = Window.partitionBy(key).orderBy(F.desc(version))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def latest_as_of(df: DataFrame, key: str, version: str, cutoff: Column | str) -> DataFrame:
    """Max version ≤ cutoff per key (the as-of join half).

    The reference compares ISO-date strings lexicographically
    (``common.clj:216-218``); we accept any orderable column.
    """
    cutoff_col = F.lit(cutoff) if isinstance(cutoff, str) else cutoff
    return latest_version(df.where(F.col(version) <= cutoff_col), key, version)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_on: str,
    right_on: str,
    right_cols: list[str],
) -> DataFrame:
    """Two-table as-of equi-join: attach to each left row the right row
    with the greatest ``right_on`` ≤ ``left_on`` for the same ``key``
    (left outer: no candidate → nulls).

    Reference analog: resolving an assertion's variation *descriptor* as
    of the assertion's release date
    (``transform/clinvar/clinical_assertion.clj:306-348,711-713``).

    Scale shape: NOT the naive ``join ON key AND version <= t`` +
    window (which multiplies each left row by every candidate version
    before pruning). Instead the union-merge trick: tag and union both
    sides, sort within key by (time, side), and carry the last-seen
    right payload forward with ``last(..., ignorenulls)`` — ONE shuffle
    on the key, linear in |left| + |right|, no multiplicative blow-up
    on hot keys."""
    # right payload travels as ONE struct so the matched columns always
    # come from the SAME right row (per-column carry-forward would mix
    # fields across versions whenever a payload column is NULL); rows
    # with a NULL right_on can never satisfy <= and are dropped
    r = right.where(F.col(right_on).isNotNull()).select(
        F.col(key),
        F.col(right_on).alias("_ord"),
        F.lit(1).alias("_is_r"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_r"),
    )
    l_cols = [c for c in left.columns]
    l = left.select(
        F.col(key),
        F.col(left_on).alias("_ord"),
        F.lit(0).alias("_is_r"),
        F.lit(None).cast(r.schema["_r"].dataType).alias("_r"),
        F.struct(*l_cols).alias("_l"),
    )
    r = r.withColumn("_l", F.lit(None).cast(l.schema["_l"].dataType))
    # right rows sort BEFORE left rows at equal ord so version == cutoff
    # is visible (≤ semantics)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_ord"), F.desc("_is_r"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = l.unionByName(r).select(
        "*", F.last("_r", ignorenulls=True).over(w).alias("_m")
    )
    out = merged.where(F.col("_is_r") == 0).select(
        *[F.col(f"_l.{c}").alias(c) for c in l_cols],
        *[F.col(f"_m.{c}").alias(c) for c in right_cols],
    )
    return out


def version_chain(df: DataFrame, key: str, version: str, id_col: str) -> DataFrame:
    """Predecessor links: (id, replaces, is_replaced_by) per version row
    via lag/lead — the ``mark-prior-replaced`` self as-of join without a
    second scan."""
    w = Window.partitionBy(key).orderBy(version)
    return df.select(
        key,
        version,
        F.col(id_col).alias("id"),
        F.lag(id_col).over(w).alias("replaces"),
        F.lead(id_col).over(w).alias("is_replaced_by"),
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds ``gap_minutes`` — the event-stream grouping
    the reference's offset-ordered consumers imply but never materialize
    (stream.clj processes per-event; analytics needs the session rollup).

    Two windows over ONE shuffle on ``user_col``: lag to find gap starts,
    running sum to number sessions; then the per-session aggregate reuses
    the same partitioning. Timestamp math in integer MICROSECONDS
    (``unix_micros``) so the cross-engine oracle is exact — no float
    epoch seconds. Ties order deterministically on ``id_col``.

    Returns (user, session_no, n_events, session_start, session_end).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    # cast for unix_micros: the fixture tables carry TIMESTAMP_NTZ and the
    # session is pinned to UTC, so the cast is value-preserving
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = us - F.lag(us).over(w)
    starts = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    numbered = events.withColumn(
        "session_no",
        F.sum(starts).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy(user_col, "session_no").agg(
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )
