"""Replicates the driver's correctness gate locally: runs every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_cell(v):
    """Canonicalize one cell the way the DRIVER does, typing drift included.

    Round-3 lesson (VERDICT r3 "What's wrong" #1/#4): the driver renders a
    DuckDB HUGEINT sum as a float ("3.0"), so an oracle `sum(CASE ...)` that
    isn't pinned with CAST(... AS BIGINT) hash-mismatches a Spark long even
    when values agree. The old replica coerced integral floats to int strings
    and MASKED that class of bug twice (agg_pivot_wide, ver_sessionize).
    Rules now: floats stay floats (repr-style, no int coercion); ints stay
    ints. Oracle rows must be fetched via .arrow() (see main) so DuckDB's
    HUGEINT -> double conversion happens exactly as at the driver, while
    DATE / nullable-BIGINT keep their types (a pandas fetch would not).
    """
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return str(v)  # shortest-roundtrip repr: 3.0 -> "3.0", never "3"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from genegraph_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    try:
        for name, fn in qs.items():
            if only and name not in only:
                continue
            t0 = time.time()
            try:
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
            except Exception as e:
                print(f"FAIL  {name}: spark error: {e}")
                n_fail += 1
                continue
            if name not in oracles:
                print(f"rows- {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
                n_rows_only += 1
                continue
            try:
                # Fetch via .arrow(), not fetchall(): the Arrow export turns
                # DuckDB HUGEINT into double exactly as the driver sees it
                # (fetchall() returns Python ints and hides the typing drift —
                # that masking is how the r3 agg_pivot_wide / ver_sessionize
                # oracle bugs shipped), while DATE stays date and nullable
                # BIGINT stays int (a pandas fetch would midnight-ify dates and
                # float-ify nullable ints, which the driver demonstrably does
                # NOT do — those five queries are driver-green).
                otab = con.execute(oracles[name]).arrow()
                ocols = list(otab.column_names)
                ocells = [col.to_pylist() for col in otab.columns]
                orows = list(zip(*ocells)) if ocells else []
            except Exception as e:
                print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
                n_fail += 1
                continue
            problems = []
            if len(srows) != len(orows):
                problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
            if sorted(scols) != sorted(ocols):
                problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
            if not problems:
                hs, ho = table_hash(scols, srows), table_hash(ocols, orows)
                if hs != ho:
                    problems.append("value-hash mismatch")
                    # show a sample diff
                    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                    order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                    set_s = {tuple(canon_cell(r[i]) for i in order_s) for r in srows}
                    set_o = {tuple(canon_cell(r[i]) for i in order_o) for r in orows}
                    for x in list(set_s - set_o)[:3]:
                        problems.append(f"  spark-only: {x}")
                    for x in list(set_o - set_s)[:3]:
                        problems.append(f"  duck-only:  {x}")
            if problems:
                print(f"FAIL  {name}: " + "; ".join(problems[:8]))
                n_fail += 1
            else:
                print(f"pass  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
                n_pass += 1
    finally:
        E.clear_query_caches()  # the index, snapshot and stream dirs the queries made
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
