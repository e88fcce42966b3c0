"""Index string codec: string ⇄ time range, python-side and column-expr duals.

The reference's two index grammars (``pypond/index.py:217-350``):

- calendar: ``"2015"`` (year), ``"2015-07"`` (month), ``"2015-07-14"`` (day).
  Range is [start-of-period, start-of-next-period - 1s] (reference subtracts one
  second, ``index.py:280``, ``index.py:330``, ``index.py:349``).
- fixed: ``"<n><s|m|h|d>-<pos>"`` e.g. ``"5m-4754394"``: bucket ``pos`` of width
  ``n * unit`` ms since epoch; range is [pos*len, (pos+1)*len]
  (``index.py:306-312``).

The column-expression duals are what the engine uses per-row at scale: bucket
assignment is ``floor(epoch_ms / dur_ms)`` (``index.py:385-405``) — pure
arithmetic inside whole-stage codegen, no UDF.
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .util import dt_from_ms, ms_from_dt, sanitize_dt

UNIT_MS = {"s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}

_FIXED_RE = re.compile(r"^([0-9]+)([smhd])$")
CALENDAR_KINDS = ("daily", "monthly", "yearly")


def window_duration_ms(win: str) -> int | None:
    """Parse ``"30s" | "5m" | "1h" | "1d"`` -> duration in ms; None if not fixed."""
    match = _FIXED_RE.match(win)
    if not match:
        return None
    return int(match.group(1)) * UNIT_MS[match.group(2)]


def window_position(win: str, ms: int) -> int:
    """Bucket position = floor(ms / dur) — floor for negative ms too, so the
    bucket always contains the instant and python agrees with the column dual
    (the reference truncates toward zero pre-epoch, ``index.py:403-405``,
    which is self-inconsistent with its own range parsing — documented
    deviation)."""
    dur = window_duration_ms(win)
    if dur is None:
        raise ValueError(f"not a fixed window spec: {win!r}")
    return int(ms // dur)


def window_position_from_date(win: str, dtime: datetime.datetime) -> int:
    """Bucket position for an aware datetime — the date-argument variant of
    :func:`window_position` (reference ``index.py:386-405``
    ``Index.window_position_from_date``)."""
    return window_position(win, ms_from_dt(dtime))


def get_index_string(win: str, dtime: datetime.datetime) -> str:
    """``('5m', 2015-03-14T07:32:22Z) -> '5m-4754394'``."""
    return f"{win}-{window_position(win, ms_from_dt(dtime))}"


def get_index_string_list(win: str, begin: datetime.datetime,
                          end: datetime.datetime) -> list[str]:
    """All fixed-bucket index strings covering [begin, end]."""
    pos1 = window_position(win, ms_from_dt(begin))
    pos2 = window_position(win, ms_from_dt(end))
    return [f"{win}-{pos}" for pos in range(pos1, pos2 + 1)]


def parse_index(idx_str: str) -> tuple[str, int, int]:
    """Index string -> (kind, begin_ms, end_ms).

    kind in {'index', 'day', 'month', 'year'}; calendar ends are
    start-of-next-period minus 1s, fixed ends are exact bucket end.
    Raises ValueError naming the argument on malformed strings
    (reference IndexException, ``index.py:89-92``).
    """
    try:
        return _parse_index(idx_str)
    except (ValueError, TypeError) as exc:
        raise ValueError(
            f"could not determine timerange/index type from {idx_str!r}"
        ) from exc


_FIXED_FULL_RE = re.compile(r"^([0-9]+)([smhd])-(-?[0-9]+)$")


def _parse_index(idx_str: str) -> tuple[str, int, int]:
    utc = datetime.timezone.utc
    fixed = _FIXED_FULL_RE.match(idx_str)
    if fixed:
        length = int(fixed.group(1)) * UNIT_MS[fixed.group(2)]
        pos = int(fixed.group(3))
        return "index", pos * length, (pos + 1) * length
    parts = idx_str.split("-")
    if len(parts) > 3:
        raise ValueError(f"malformed index string {idx_str!r}")
    if len(parts) == 3:
        begin = datetime.datetime(int(parts[0]), int(parts[1]), int(parts[2]), tzinfo=utc)
        end = begin + datetime.timedelta(days=1) - datetime.timedelta(seconds=1)
        return "day", ms_from_dt(begin), ms_from_dt(end)
    if len(parts) == 2:
        year, month = int(parts[0]), int(parts[1])
        begin = datetime.datetime(year, month, 1, tzinfo=utc)
        nxt = datetime.datetime(year + (month == 12), month % 12 + 1, 1, tzinfo=utc)
        return "month", ms_from_dt(begin), ms_from_dt(nxt) - 1000
    year = int(parts[0])
    begin = datetime.datetime(year, 1, 1, tzinfo=utc)
    end = datetime.datetime(year + 1, 1, 1, tzinfo=utc)
    return "year", ms_from_dt(begin), ms_from_dt(end) - 1000


def get_daily_index_string(date: datetime.datetime) -> str:
    date = sanitize_dt(date)
    return f"{date.year}-{date:%m}-{date:%d}"


def get_monthly_index_string(date: datetime.datetime) -> str:
    date = sanitize_dt(date)
    return f"{date.year}-{date:%m}"


def get_yearly_index_string(date: datetime.datetime) -> str:
    return str(sanitize_dt(date).year)


# ---------------------------------------------------------------------------
# column-expression duals — these run per-row, JVM-side
# ---------------------------------------------------------------------------


def fixed_index_cols(win: str, pos: Column) -> list[Column]:
    """The fixed-window Index law at bucket position ``pos`` (a long
    column, ``floor(epoch_ms / dur)``): ``index = "<win>-<pos>"``,
    ``begin = pos * dur``, ``end = (pos + 1) * dur``, aliased ``index``,
    ``begin`` and ``end``."""
    dur = window_duration_ms(win)
    if dur is None:
        raise ValueError(f"not a fixed window spec: {win!r}")
    return [F.concat(F.lit(win + "-"), pos.cast("string")).alias("index"),
            F.timestamp_millis(pos * dur).alias("begin"),
            F.timestamp_millis((pos + 1) * dur).alias("end")]


def index_begin_col(index_col_: Column | str) -> Column:
    """Index-string column -> begin timestamp column (both grammars).

    Pure SQL expression (no UDF): dispatch on shape, fixed buckets via
    arithmetic, calendar via to_timestamp.
    """
    col = F.col(index_col_) if isinstance(index_col_, str) else index_col_
    num = F.regexp_extract(col, r"^([0-9]+)([smhd])-(-?[0-9]+)$", 1)
    unit = F.regexp_extract(col, r"^([0-9]+)([smhd])-(-?[0-9]+)$", 2)
    pos = F.regexp_extract(col, r"^([0-9]+)([smhd])-(-?[0-9]+)$", 3)
    unit_ms = (
        F.when(unit == "s", F.lit(1000))
        .when(unit == "m", F.lit(60_000))
        .when(unit == "h", F.lit(3_600_000))
        .otherwise(F.lit(86_400_000))
    )
    fixed_begin = F.timestamp_millis(
        (pos.cast("long") * num.cast("long") * unit_ms).cast("long"))
    cal_begin = (
        F.when(col.rlike(r"^\d{4}-\d{2}-\d{2}$"), F.to_timestamp(col, "yyyy-MM-dd"))
        .when(col.rlike(r"^\d{4}-\d{2}$"), F.to_timestamp(col, "yyyy-MM"))
        .when(col.rlike(r"^\d{4}$"), F.to_timestamp(col, "yyyy"))
    )
    return F.when(unit != "", fixed_begin).otherwise(cal_begin)


def index_end_col(index_col_: Column | str) -> Column:
    """Index-string column -> end timestamp (calendar: next-period - 1s)."""
    col = F.col(index_col_) if isinstance(index_col_, str) else index_col_
    num = F.regexp_extract(col, r"^([0-9]+)([smhd])-(-?[0-9]+)$", 1)
    unit = F.regexp_extract(col, r"^([0-9]+)([smhd])-(-?[0-9]+)$", 2)
    pos = F.regexp_extract(col, r"^([0-9]+)([smhd])-(-?[0-9]+)$", 3)
    unit_ms = (
        F.when(unit == "s", F.lit(1000))
        .when(unit == "m", F.lit(60_000))
        .when(unit == "h", F.lit(3_600_000))
        .otherwise(F.lit(86_400_000))
    )
    fixed_end = F.timestamp_millis(
        ((pos.cast("long") + 1) * num.cast("long") * unit_ms).cast("long"))
    begin = index_begin_col(col)
    cal_end = (
        F.when(col.rlike(r"^\d{4}-\d{2}-\d{2}$"),
               F.timestamp_millis(F.unix_millis(begin + F.expr("INTERVAL 1 DAY")) - 1000))
        .when(col.rlike(r"^\d{4}-\d{2}$"),
              F.timestamp_millis(F.unix_millis(begin + F.expr("INTERVAL 1 MONTH")) - 1000))
        .when(col.rlike(r"^\d{4}$"),
              F.timestamp_millis(F.unix_millis(begin + F.expr("INTERVAL 1 YEAR")) - 1000))
    )
    return F.when(unit != "", fixed_end).otherwise(cal_end)
