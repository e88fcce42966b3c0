"""Time and validity kernel.

Re-expresses the reference's time handling (``pypond/util.py``) for a Spark
engine:

- canonical time unit is **epoch milliseconds** (reference ``util.py:224-244``
  ``ms_from_dt`` / ``util.py:69-82`` ``dt_from_ms``);
- datetimes are aware UTC; naive datetimes are rejected
  (reference ``event.py:256-264``), non-UTC aware datetimes are coerced to UTC
  (reference ``sanitize_dt`` ``util.py:247-278``);
- a value is *invalid* if it is None, NaN, or ``''``
  (reference ``is_valid`` ``util.py:641-654``).

The column-expression duals (``is_valid_col`` etc.) are the ones used in the
hot path — they stay inside Catalyst / whole-stage codegen.
"""

from __future__ import annotations

import datetime
import math
import warnings
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

# ---------------------------------------------------------------------------
# python-side time conversions (driver-side only: wire codec, index grammar)
# ---------------------------------------------------------------------------


def is_aware(dtime: datetime.datetime) -> bool:
    return dtime.tzinfo is not None and dtime.tzinfo.utcoffset(dtime) is not None


def sanitize_dt(dtime: datetime.datetime) -> datetime.datetime:
    """Reject naive datetimes; coerce aware non-UTC to UTC (with a warning)."""
    if not isinstance(dtime, datetime.datetime):
        raise TypeError(f"expected datetime, got {type(dtime)!r}")
    if not is_aware(dtime):
        raise ValueError("naive datetime not allowed; pass aware UTC datetimes")
    if dtime.utcoffset() != datetime.timedelta(0):
        warnings.warn("non-UTC aware datetime coerced to UTC", stacklevel=2)
    return dtime.astimezone(datetime.timezone.utc)


def ms_from_dt(dtime: datetime.datetime) -> int:
    """Aware UTC datetime -> epoch ms (truncating sub-ms precision)."""
    dtime = sanitize_dt(dtime)
    return int(dtime.timestamp() * 1000 + 0.5) if dtime >= EPOCH else int(
        round(dtime.timestamp() * 1000))


def dt_from_ms(msec: int) -> datetime.datetime:
    """Epoch ms -> aware UTC datetime."""
    return EPOCH + datetime.timedelta(milliseconds=int(msec))


def ms_from_any(value: Any) -> int:
    """Accept epoch-ms int, aware datetime, or ISO string -> epoch ms."""
    if isinstance(value, bool):
        raise TypeError("bool is not a timestamp")
    if isinstance(value, (int, float)):
        return int(value)
    if isinstance(value, datetime.datetime):
        return ms_from_dt(value)
    if isinstance(value, str):
        dtime = datetime.datetime.fromisoformat(value.replace("Z", "+00:00"))
        if not is_aware(dtime):
            dtime = dtime.replace(tzinfo=datetime.timezone.utc)
        return ms_from_dt(dtime)
    raise TypeError(f"cannot interpret {type(value)!r} as a timestamp")


def is_valid_value(val: Any) -> bool:
    """Reference tri-state invalidity: None, NaN, '' are invalid."""
    if val is None:
        return False
    if isinstance(val, float) and math.isnan(val):
        return False
    if isinstance(val, str) and val == "":
        return False
    return True


# ---------------------------------------------------------------------------
# column-expression duals (the hot path — JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------


def is_valid_col(col: Column | str, dtype: T.DataType | None = None) -> Column:
    """Column dual of ``is_valid_value``: NOT (NULL | NaN | '').

    ``isnan`` only applies to float/double and ``!= ''`` only to strings, so we
    type-dispatch when the dtype is known; when not known we use the numeric
    form (NaN check), which is the common case for payload values.
    """
    col = F.col(col) if isinstance(col, str) else col
    if dtype is not None:
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            return col.isNotNull() & ~F.isnan(col)
        if isinstance(dtype, T.StringType):
            return col.isNotNull() & (col != F.lit(""))
        return col.isNotNull()
    # dtype unknown (e.g. deep path): NaN check via try_cast (ANSI-safe),
    # empty-string check via string render
    num = col.try_cast(T.DoubleType())
    return (col.isNotNull()
            & ~F.coalesce(F.isnan(num), F.lit(False))
            & (col.cast(T.StringType()) != F.lit("")))


def valid_or_null(col: Column | str, dtype: T.DataType | None = None) -> Column:
    """Normalize: invalid values (NaN/'') -> NULL so SQL agg null-skip applies."""
    col = F.col(col) if isinstance(col, str) else col
    return F.when(is_valid_col(col, dtype), col)


# ---------------------------------------------------------------------------
# deep-path helpers (reference "deep paths" like direction.in,
# bases.py:87-110) — native struct access, no UDF
# ---------------------------------------------------------------------------


def timed_events(df, time_col: str):
    """The NULL-time law of the time-ordered operators, batch and stream
    (``streaming.stream._keyed_state``): a row whose time is NULL is no
    event, so it is dropped at entry."""
    return df.where(F.col(time_col).isNotNull())


def field_dtype(schema: T.StructType, path: str) -> T.DataType | None:
    """Resolve the dtype at a dotted path; None if not resolvable."""
    parts = path.split(".")
    cur: T.DataType = schema
    for part in parts:
        if not isinstance(cur, T.StructType) or part not in cur.fieldNames():
            return None
        cur = cur[part].dataType
    return cur


def set_field(df, path: str, col: Column):
    """Set a (possibly nested) field to a column expression.

    Top-level -> withColumn; nested -> withField on the root struct (dot
    notation handles deeper nesting).
    """
    if "." not in path:
        return df.withColumn(path, col)
    root, rest = path.split(".", 1)
    return df.withColumn(root, F.col(root).withField(rest, col))
