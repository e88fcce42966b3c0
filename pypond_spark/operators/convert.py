"""Event-kind converters (reference ``pypond/processor/converter.py:23-234``).

Pure column expressions deriving time/begin/end/index from one another:

- point -> range: duration + alignment ``front|center|behind``
  (``converter.py:104-126``);
- range -> point: ``lag|center|lead`` picks begin/midpoint/end
  (``converter.py:150-165``);
- point -> indexed: the fixed-window index string containing the point;
- indexed -> point/range: bucket begin / [begin, end];
- range -> indexed: an error in the reference (``converter.py:167-169``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import (fixed_index_cols, index_begin_col, index_end_col,
                     window_duration_ms)


def _payload(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in ("time", "begin", "end", "index")]


def events_to_timerange_events(df: DataFrame, duration: str,
                               alignment: str = "center") -> DataFrame:
    dur = window_duration_ms(duration)
    if dur is None:
        raise ValueError(f"bad duration {duration!r}")
    ms = F.unix_millis(F.col("time"))
    if alignment == "front":
        begin, end = ms, ms + dur
    elif alignment == "center":
        begin, end = ms - dur // 2, ms + (dur - dur // 2)
    elif alignment == "behind":
        begin, end = ms - dur, ms
    else:
        raise ValueError(f"alignment must be front|center|behind, got {alignment!r}")
    return df.select(F.timestamp_millis(begin).alias("begin"),
                     F.timestamp_millis(end).alias("end"), *_payload(df))


def events_to_indexed_events(df: DataFrame, duration: str) -> DataFrame:
    dur = window_duration_ms(duration)
    if dur is None:
        raise ValueError(f"bad duration {duration!r}")
    # begin/end by bucket arithmetic (pos*dur), not a string round-trip
    pos = F.floor(F.unix_millis(F.col("time")) / F.lit(dur)).cast("long")
    return df.select(*fixed_index_cols(duration, pos), *_payload(df))


def timerange_events_to_events(df: DataFrame, alignment: str = "center") -> DataFrame:
    bms, ems = F.unix_millis(F.col("begin")), F.unix_millis(F.col("end"))
    if alignment == "lag":
        ms = bms
    elif alignment == "center":
        ms = ((bms + ems) / 2).cast("long")
    elif alignment == "lead":
        ms = ems
    else:
        raise ValueError(f"alignment must be lag|center|lead, got {alignment!r}")
    return df.select(F.timestamp_millis(ms).alias("time"), *_payload(df))


def indexed_events_to_events(df: DataFrame, alignment: str = "lag") -> DataFrame:
    base = df
    if "begin" not in df.columns:
        idx = F.col("index")
        base = df.select(index_begin_col(idx).alias("begin"),
                         index_end_col(idx).alias("end"), *_payload(df))
    return timerange_events_to_events(base, alignment)


def indexed_events_to_timerange_events(df: DataFrame) -> DataFrame:
    if "begin" in df.columns:
        return df.select("begin", "end", *_payload(df))
    idx = F.col("index")
    return df.select(index_begin_col(idx).alias("begin"),
                     index_end_col(idx).alias("end"), *_payload(df))
