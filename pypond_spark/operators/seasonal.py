"""Seasonal (time-of-week) profiles and profile-relative anomaly scoring.

A natural extension of the reference's calendar rollups
(``pypond/pipeline.py`` windowing + ``functions.py`` reducers): instead of
bucketing by *which* hour, bucket by *what kind* of hour — (day-of-week,
hour-of-day) — to learn the weekly rhythm of a series, then score every
event against its slot's mean/σ. This is the classic ops-analytics
"is this Tuesday-3pm value weird for a Tuesday 3pm?" query.

Scale design: the profile is at most ``groups × 168`` rows no matter how
big the input (one partial-aggregated shuffle), so the anomaly join is
always broadcast — the scoring pass is a map-side hash join at scan speed
with zero additional shuffles.

Day-of-week is Sunday-based 0..6 (``dayofweek() - 1``) to agree with
DuckDB/ISO tooling.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import timed_events


def _slot_cols(time_col: str, tz: str = "UTC"):
    t = (F.col(time_col) if tz == "UTC"
         else F.from_utc_timestamp(time_col, tz))
    return ((F.dayofweek(t) - 1).alias("dow"), F.hour(t).alias("hod"))


def seasonal_profile(
    df: DataFrame,
    field: str = "value",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    tz: str = "UTC",
) -> DataFrame:
    """Mean / population-σ / count of ``field`` per (group, day-of-week,
    hour-of-day) slot. NULL/NaN samples drop (``ignore_missing``).
    ``tz`` names the local zone whose rhythm is being learned (a "Tuesday
    3pm" in New York is not one in UTC) — same convention as the calendar
    rollups' ``tz=``."""
    keys = list(partition_by)
    col = F.col(field).cast("double")
    valid = col.isNotNull() & ~F.isnan(col)
    dow, hod = _slot_cols(time_col, tz)
    return (timed_events(df, time_col).where(valid)
            .groupBy(*keys, dow, hod)
            .agg(F.avg(col).alias("mean"),
                 F.stddev_pop(col).alias("std"),
                 F.count(col).alias("n")))


def seasonal_anomaly(
    df: DataFrame,
    field: str = "value",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    min_n: int = 2,
    profile: DataFrame | None = None,
    tz: str = "UTC",
) -> DataFrame:
    """Score each event against its seasonal slot: appends ``slot_mean``,
    ``slot_std`` and ``deviation`` ((value − mean) / σ; NULL when the slot
    has fewer than ``min_n`` samples or zero variance).

    Two passes over the scan, one broadcast join, zero extra shuffles.

    ``profile=`` scores against a PRE-TRAINED profile (a
    ``seasonal_profile`` result) instead of re-deriving one — the
    train-in-batch / score-on-stream pattern: the scoring side is a
    stateless broadcast join + expressions, so ``df`` may be a streaming
    DataFrame (stream-static join).
    """
    keys = list(partition_by)
    df = timed_events(df, time_col)
    prof = (profile if profile is not None
            else seasonal_profile(df, field, keys, time_col, tz))
    # internal names for the profile's stat columns: the event side may
    # legitimately carry 'mean'/'std'/'n' (every rollup emits 'n'), and an
    # unqualified reference after the join would be ambiguous
    prof = prof.withColumnsRenamed(
        {"mean": "__sm", "std": "__ss", "n": "__sn"})
    dow, hod = _slot_cols(time_col, tz)
    scored = df.select("*", dow, hod).join(
        F.broadcast(prof), on=[*keys, "dow", "hod"], how="left")
    dev = F.when(
        (F.col("__sn") >= min_n) & (F.col("__ss") > 0),
        (F.col(field).cast("double") - F.col("__sm")) / F.col("__ss"))
    return (scored
            .withColumn("deviation", dev)
            .withColumnsRenamed({"__sm": "slot_mean", "__ss": "slot_std"})
            .drop("__sn"))
