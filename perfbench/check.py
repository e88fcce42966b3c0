"""Output check: an order-insensitive row digest computed the same way on
Spark and on DuckDB.

A row is rendered as one canonical string (columns in name order, floats
as 9-digit decimals, NULL as ``\\N``); the digest is the row count plus
two 32-bit sums of the row strings' md5.  Both engines spell every step
identically, so a Spark call's digest must equal the digest of its DuckDB
oracle twin (``__spark_entry__.oracle_sql``) over the same shard.  The
Spark side is one extra aggregate over the call's output; it is the
action that runs the call.

The same aggregate also digests the rows that name none of the shard's
messy documents (NULL, empty or edge-character texts) or their
near-duplicates.  The library and the oracle twins disagree on some of
those texts, so the full digest of the MinHash calls differs; the second
digest keeps every call checked on the other rows.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEP = "\x1f"
NULL = "\\N"


def _spark_text(name: str, dtype: T.DataType) -> Column:
    c = F.col(f"`{name}`")
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        text = (F.when(F.isnan(c), F.lit("NaN"))
                .otherwise(c.try_cast("decimal(38,9)").cast("string")))
    elif isinstance(dtype, (T.IntegralType, T.BooleanType, T.StringType,
                            T.DecimalType)):
        text = c.cast("string")
    else:
        raise TypeError(f"no canonical text for column {name}: {dtype}")
    return F.coalesce(text, F.lit(NULL))


def spark_clean(id_cols: tuple[str, ...], bad_ids: list[int]) -> Column:
    """True on rows whose id columns name no document in ``bad_ids``."""
    bad = F.lit(False)
    for c in id_cols if bad_ids else ():
        bad = bad | F.coalesce(F.col(c).isin(bad_ids), F.lit(False))
    return ~bad


def spark_digest(df: DataFrame, clean: Column | None = None,
                 extra: tuple[Column, ...] = ()) -> DataFrame:
    """One-row frame ``(n, h1, h2, cn, ch1, ch2, *extra)``: the digest of
    ``df`` and the digest of its rows where ``clean`` holds."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    row = F.md5(F.concat_ws(SEP, *[_spark_text(f.name, f.dataType)
                                   for f in fields]))
    part = (lambda lo: F.conv(F.substring(row, lo, 8), 16, 10)
            .cast("bigint"))
    keep = F.col("c")

    def total(c: Column) -> Column:
        return F.coalesce(F.sum(c), F.lit(0))

    return df.select(part(1).alias("h1"), part(9).alias("h2"),
                     (F.lit(True) if clean is None else clean).alias("c"),
                     *[e.alias(f"x{i}") for i, e in enumerate(extra)]
                     ).agg(F.count(F.lit(1)).alias("n"),
                           total("h1").alias("h1"), total("h2").alias("h2"),
                           total(keep.cast("long")).alias("cn"),
                           total(F.when(keep, F.col("h1"))).alias("ch1"),
                           total(F.when(keep, F.col("h2"))).alias("ch2"),
                           *[F.sum(f"x{i}").alias(f"x{i}")
                             for i in range(len(extra))])


def _duck_text(name: str, dtype: str) -> str:
    c = f'"{name}"'
    t = dtype.upper()
    if t in ("DOUBLE", "FLOAT", "REAL"):
        text = (f"CASE WHEN isnan({c}) THEN 'NaN' "
                f"ELSE CAST(TRY_CAST({c} AS DECIMAL(38,9)) AS VARCHAR) END")
    elif (t in ("BOOLEAN", "VARCHAR", "BIGINT", "INTEGER", "SMALLINT",
                "TINYINT", "HUGEINT", "UBIGINT", "UINTEGER")
          or t.startswith("DECIMAL")):
        text = f"CAST({c} AS VARCHAR)"
    else:
        raise TypeError(f"no canonical text for column {name}: {dtype}")
    return f"coalesce({text}, '{NULL}')"


def duck_digest(con: duckdb.DuckDBPyConnection, sql: str,
                id_cols: tuple[str, ...] = (),
                bad_ids: list[int] = ()) -> tuple:
    """``(n, h1, h2, cn, ch1, ch2)`` of the oracle query ``sql``, as
    ``spark_digest`` with ``spark_clean(id_cols, bad_ids)``."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    row = ("md5(concat_ws(chr(31), "
           + ", ".join(_duck_text(n, t) for n, t in cols) + "))")
    ids = ", ".join(str(int(i)) for i in bad_ids)
    clean = " AND ".join([f'NOT coalesce("{c}" IN ({ids}), false)'
                          for c in id_cols if ids] or ["true"])
    part = (lambda lo: f"('0x' || substr(r, {lo}, 8))::BIGINT")
    out = con.execute(
        f"SELECT count(*), coalesce(sum({part(1)}), 0), "
        f"coalesce(sum({part(9)}), 0), "
        f"count(*) FILTER (WHERE c), "
        f"coalesce(sum({part(1)}) FILTER (WHERE c), 0), "
        f"coalesce(sum({part(9)}) FILTER (WHERE c), 0) "
        f"FROM (SELECT {row} AS r, {clean} AS c FROM ({sql}) q)").fetchone()
    return tuple(int(v) for v in out)


def reference_digests(shard: str, oracles: dict[str, str],
                      checks: dict[str, tuple[str, ...]],
                      bad_ids: list[int]) -> dict[str, list[int]]:
    """Digest of each oracle twin named in ``checks`` over one shard
    directory; ``checks`` maps it to its output's document-id columns."""
    con = duckdb.connect()
    try:
        for table in ("events", "documents"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{shard}/{table}.parquet'")
        return {n: list(duck_digest(con, oracles[n], ids, bad_ids))
                for n, ids in sorted(checks.items())}
    finally:
        con.close()
