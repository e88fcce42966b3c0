"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, sorted column names,
and an order-insensitive multiset of normalized values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from pypond_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v, int_width=None):
    if v is None:
        return None
    if hasattr(v, "item"):
        v = v.item()
    # The driver hashes raw value bytes, so type drift is a real mismatch
    # there even when values compare numerically equal (75.0 == 75, or
    # -0.0 vs +0.0).  Tag ints / floats / bools so the local gate is
    # equally strict: DuckDB returns HUGEINT for sum(<integer>), which
    # pandas converts to float64 — against Spark's int64 that is a driver
    # hash FAIL unless the oracle CASTs the sum back to BIGINT.
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        v = round(v, 9)
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return ("f", "-0.0")
        return ("f", v)
    if isinstance(v, int):
        # Integer WIDTH is deliberately collapsed by default: an
        # r6 audit ran the gate width-strict (tagging the pandas column
        # itemsize) and flagged 18 queries emitting Spark int32 against
        # BIGINT oracles — 14 of them cumulative driver-hash-GREEN
        # (text_quality, lang_id, pii_redact, chunk_docs, token_budget_mix,
        # pack_sequences, ...), which is empirical proof the driver hash
        # compares width-normalized integers.  Run with --width-strict to
        # repeat that audit.
        return ("i", int_width, v) if int_width else ("i", v)
    return v


WIDTH_STRICT = False


def rowset(df_pandas):
    cols = sorted(df_pandas.columns)
    sub = df_pandas[cols]
    widths = []
    for c in cols:
        dt = sub[c].dtype
        widths.append(dt.itemsize * 8
                      if WIDTH_STRICT and dt.kind in "iu" else None)
    rows = [tuple(norm(v, w) for v, w in zip(row, widths))
            for row in sub.itertuples(index=False, name=None)]
    return cols, sorted(rows, key=lambda r: tuple(str(x) for x in r))


def main():
    global WIDTH_STRICT
    WIDTH_STRICT = "--width-strict" in sys.argv[1:]
    args = [a for a in sys.argv[1:]
            if a not in ("--bare", "--width-strict")]
    bare = "--bare" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    # accept space- AND comma-separated names; "--only" is a no-op
    # marker some callers pass — drop it rather than let it (or a
    # comma-joined list) silently match nothing and print a vacuous
    # ALL OK
    only = {n for a in args[1:] for n in a.split(",")
            if n and n != "--only"}
    unknown = only - set(entry.queries())
    if unknown:
        print(f"FAIL  unknown query names: {sorted(unknown)}")
        sys.exit(2)
    if bare:
        # simulate the real driver: default session, no engine configs
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.master("local[8]") \
            .appName("oracle_check_bare").getOrCreate()
    else:
        spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) "
                  f"[{time.time() - t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        scols, srows = rowset(sdf)
        ocols, orows = rowset(odf)
        if scols != ocols:
            failures.append(name)
            print(f"FAIL  {name}: columns {scols} != {ocols}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(srows)} != {len(orows)}")
            continue
        if srows != orows:
            failures.append(name)
            diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"FAIL  {name}: values differ, first diffs: {diffs}")
            continue
        print(f"OK    {name}: {len(srows)} rows [{time.time() - t0:.1f}s]")

    print(f"\n{len(failures)} failures: {failures}" if failures
          else "\nALL OK")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
