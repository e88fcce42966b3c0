"""Windowed + grouped aggregation (reference ``pypond/processors/aggregator.py``).

The reference buckets events one at a time into per-(window, group) collections
(``io/output.py:109-131``) and reduces each with ``functions.py`` reducers.
Here the whole thing is one ``groupBy().agg()``:

- fixed windows ``"30s"/"5m"/"1h"/"1d"`` group on the epoch-anchored bucket
  position ``floor(epoch_ms / dur_ms)`` (``index.py:385-405``) — a LONG key,
  cheaper to shuffle than the index string, which is derived *after* the agg;
- calendar windows group on ``date_trunc`` (UTC or a named tz);
- global window is a plain ``df.groupBy(groups).agg()`` emitting one
  time-range row spanning the data extents (``aggregator.py:157-163``).

Scale notes: partial aggregation (map-side combine) applies automatically;
the only shuffle is on (bucket, group) keys which are high-cardinality and
uniform for time buckets, so no skew handling is needed here.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functools import reduce as _reduce

from ..functions import compile_agg_spec_split
from ..index import CALENDAR_KINDS, fixed_index_cols, window_duration_ms


def _group_cols(group_by) -> list[str]:
    if group_by is None:
        return []
    if isinstance(group_by, str):
        return [group_by]
    return list(group_by)


def _group_exprs(groups: list[str]):
    """Grouping exprs + output names: deep paths ('direction.status') group
    on the struct field and surface as the leaf name."""
    exprs = [F.col(g).alias(g.split(".")[-1]) for g in groups]
    names = [g.split(".")[-1] for g in groups]
    return exprs, names


def _grouped_agg(df: DataFrame, key_exprs: list, key_names: list[str],
                 spec: dict, time_col: str, extra_aggs: Sequence = ()
                 ) -> DataFrame:
    """groupBy().agg() that tolerates custom (pandas-UDAF) reducers.

    Spark rejects pandas UDAFs mixed with builtin aggregates in one agg()
    (INVALID_PANDAS_UDF_PLACEMENT), so a mixed spec runs as two aggregations
    over the same keys joined back null-safely. Both sides aggregate first —
    the join touches only the (small) per-group result frames, and the
    second aggregation reuses the same shuffle keys.
    """
    named, custom = compile_agg_spec_split(spec, time_col)
    named = list(extra_aggs) + named
    if not custom:
        return df.groupBy(*key_exprs).agg(*named)
    if not named:
        return df.groupBy(*key_exprs).agg(*custom)
    a = df.groupBy(*key_exprs).agg(*named)
    b = df.groupBy(*key_exprs).agg(*custom)
    if not key_names:
        return a.crossJoin(b)  # global aggregation: one row each
    cond = _reduce(lambda x, y: x & y,
                   [a[k].eqNullSafe(b[k]) for k in key_names])
    return a.join(b, cond).drop(*[b[k] for k in key_names])


def windowed_aggregate(
    df: DataFrame,
    spec: dict,
    window: str | None = None,
    group_by: str | Sequence[str] | None = None,
    utc: bool = True,
    tz: str = "UTC",
    time_col: str = "time",
    end_col: str | None = None,
) -> DataFrame:
    """Aggregate ``df`` per (window bucket, group).

    Returns, per window kind:

    - fixed/calendar: columns ``index, begin, end, *groups, *agg_outputs``
      (IndexedEvent rows);
    - ``window=None`` (global): ``begin, end, *groups, *agg_outputs``
      (one TimeRangeEvent row per group, spanning the group's extents;
      ``end_col`` names the interval-end column for range/index input so the
      extent ends at max(end), not max(begin)).
    """
    groups = _group_cols(group_by)
    gexprs, gnames = _group_exprs(groups)

    if window is None:
        out = _grouped_agg(
            df, gexprs, gnames, spec, time_col,
            extra_aggs=[F.min(time_col).alias("begin"),
                        F.max(end_col or time_col).alias("end")])
        return out.select("begin", "end", *gnames,
                          *[r for r in spec])

    if window in CALENDAR_KINDS:
        tcol = F.col(time_col)
        local = tcol if utc else F.from_utc_timestamp(tcol, tz)
        trunc_unit = {"daily": "day", "monthly": "month", "yearly": "year"}[window]
        bucket = F.date_trunc(trunc_unit, local).alias("__bucket")
        out = _grouped_agg(df, [bucket, *gexprs], ["__bucket"] + gnames,
                           spec, time_col)
        fmt = {"daily": "yyyy-MM-dd", "monthly": "yyyy-MM", "yearly": "yyyy"}[window]
        interval = {"daily": "INTERVAL 1 DAY", "monthly": "INTERVAL 1 MONTH",
                    "yearly": "INTERVAL 1 YEAR"}[window]
        begin_local = F.col("__bucket")
        end_local = F.timestamp_millis(
            F.unix_millis(begin_local + F.expr(interval)) - 1000)
        begin = begin_local if utc else F.to_utc_timestamp(begin_local, tz)
        end = end_local if utc else F.to_utc_timestamp(end_local, tz)
        return out.select(
            F.date_format("__bucket", fmt).alias("index"),
            begin.alias("begin"), end.alias("end"),
            *gnames, *[r for r in spec])

    dur = window_duration_ms(window)
    if dur is None:
        raise ValueError(f"bad window spec {window!r}")
    pos = F.floor(F.unix_millis(F.col(time_col)) / F.lit(dur)).cast("long")
    out = _grouped_agg(df, [pos.alias("__pos"), *gexprs],
                       ["__pos"] + gnames, spec, time_col)
    return out.select(*fixed_index_cols(window, F.col("__pos")),
                      *gnames, *[r for r in spec])


def densify_rollup(rollup: DataFrame, window: str,
                   group_by: str | Sequence[str] | None = None,
                   fill: dict | None = None) -> DataFrame:
    """Emit EVERY bucket in each group's [first, last] range, not just
    the occupied ones — the rollup-level dual of event-level ``fill``
    (a dashboard or a downstream join wants the 03:00 outage hour as an
    explicit zero row, not an absent row).

    ``rollup`` is a fixed-window rollup output (``index/begin/end``,
    groups, measures); ``fill`` maps measure columns to the literal for
    scaffolded buckets (``{"v_sum": 0.0, "n": 0}``); unmapped measures
    stay NULL (the honest value for avg/min/max of nothing).

    Scale shape: everything runs on the ROLLUP frame (buckets x groups),
    never the fact table — per-group extents are one groupBy of that
    frame, the scaffold is sequence+explode bounded by the group's own
    span, and the left join is scaffold-sized. A group spanning the full
    retention window at 1-minute buckets is ~525k rows/year — still
    rollup-sized.
    """
    dur = window_duration_ms(window)
    if dur is None:
        raise ValueError(f"densify_rollup needs a fixed window spec, "
                         f"got {window!r}")
    groups = _group_cols(group_by)
    measures = [c for c in rollup.columns
                if c not in ("index", "begin", "end", *groups)]
    bad = set(fill or ()) - set(measures)
    if bad:
        raise ValueError(f"fill names non-measure columns: {sorted(bad)}")
    pos = (F.unix_millis(F.col("begin")) / F.lit(dur)).cast("long")
    flat = rollup.select(pos.alias("__pos"), *groups, *measures)
    spans = (flat.groupBy(*groups)
             .agg(F.min("__pos").alias("__lo"), F.max("__pos").alias("__hi")))
    scaffold = spans.select(
        *groups,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__pos"))
    joined = scaffold.join(flat, [*groups, "__pos"], "left")
    vals = [F.coalesce(F.col(c), F.lit(fill[c])).alias(c)
            if fill and c in fill else F.col(c) for c in measures]
    return joined.select(*fixed_index_cols(window, F.col("__pos")),
                         *groups, *vals)


def sliding_window_aggregate(
    df: DataFrame,
    spec: dict,
    window: str,
    slide: str,
    group_by: str | Sequence[str] | None = None,
    time_col: str = "time",
) -> DataFrame:
    """Sliding (hopping) windows — beyond the reference's tumbling-only
    windowing (``pipeline.py:407-498``), free from ``F.window``.

    Output: ``begin, end, *groups, *agg_outputs`` — one row per (window
    instance, group). Epoch-anchored like the fixed windows.
    """
    dur_ms = window_duration_ms(window)
    slide_ms = window_duration_ms(slide)
    if dur_ms is None or slide_ms is None:
        raise ValueError(f"bad window/slide spec {window!r}/{slide!r}")
    groups = _group_cols(group_by)
    gexprs, gnames = _group_exprs(groups)
    win = F.window(F.col(time_col), f"{dur_ms // 1000} seconds",
                   f"{slide_ms // 1000} seconds")
    out = _grouped_agg(df, [win.alias("__w"), *gexprs], ["__w"] + gnames,
                       spec, time_col)
    return out.select(F.col("__w.start").alias("begin"),
                      F.col("__w.end").alias("end"), *gnames, *list(spec))


def session_window_aggregate(
    df: DataFrame,
    spec: dict,
    gap: str,
    group_by: str | Sequence[str] | None = None,
    time_col: str = "time",
) -> DataFrame:
    """Session windows (gap-based) — another beyond-reference bonus
    (SURVEY §2.9 notes session windows as a Spark freebie)."""
    gap_ms = window_duration_ms(gap)
    if gap_ms is None:
        raise ValueError(f"bad session gap spec {gap!r}")
    groups = _group_cols(group_by)
    gexprs, gnames = _group_exprs(groups)
    win = F.session_window(F.col(time_col), f"{gap_ms // 1000} seconds")
    out = _grouped_agg(df, [win.alias("__w"), *gexprs], ["__w"] + gnames,
                       spec, time_col)
    return out.select(F.col("__w.start").alias("begin"),
                      F.col("__w.end").alias("end"), *gnames, *list(spec))


def collect_by_fixed_window(df: DataFrame, window: str,
                            time_col: str = "time") -> DataFrame:
    """Bucket events per fixed window without aggregating
    (reference ``series.py:1459-1478``): adds ``index``/``begin``/``end``
    columns so the result is a well-formed index-kind series (the original
    ``time`` stays as a payload column)."""
    dur = window_duration_ms(window)
    if dur is None:
        raise ValueError(f"bad window spec {window!r}")
    pos = F.floor(F.unix_millis(F.col(time_col)) / F.lit(dur)).cast("long")
    return df.withColumns(dict(zip(("index", "begin", "end"),
                                   fixed_index_cols(window, pos))))


def pivot_rollup(df: DataFrame, window: str, field: str,
                 pivot_col: str, values: Sequence[str],
                 agg: str = "avg", time_col: str = "time") -> DataFrame:
    """Windowed rollup pivoted WIDE: one row per window bucket, one
    column per ``values`` entry — the wire-format-friendly shape (the
    reference's wire columns are one-per-series), ready to chart or
    ``to_wire`` directly where the long form needs a client-side pivot.

    ``values`` must be the explicit category list: a deterministic
    output schema (no discovery scan, no data-dependent columns) is what
    lets the plan stay ONE partial-aggregable groupBy on the bucket key
    — each output column is a conditional aggregate, so this costs
    exactly what the long-form rollup costs, with no second pivot
    shuffle. Unlisted categories are simply not aggregated.

    ``agg``: avg | sum | min | max | count (empty cells NULL for
    avg/min/max, 0 for count; sum keeps the reference's empty->0
    convention via the long-form twin's semantics).
    """
    fns = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
           "count": F.count}
    if agg not in fns:
        raise ValueError(f"agg must be one of {sorted(fns)}, got {agg!r}")
    dur = window_duration_ms(window)
    if dur is None:
        raise ValueError(f"bad window spec {window!r}")
    pos = F.floor(F.unix_millis(F.col(time_col)) / F.lit(dur)).cast("long")
    col = F.col(field).cast("double")

    def cell(v):
        a = fns[agg](F.when(F.col(pivot_col) == F.lit(v), col))
        if agg == "sum":  # reference empty->0 convention (functions.py sum)
            a = F.coalesce(a, F.lit(0.0))
        return a.alias(str(v))

    aggs = [cell(v) for v in values]
    return (df.groupBy(pos.alias("__pos"))
            .agg(*aggs)
            .select(*fixed_index_cols(window, F.col("__pos")),
                    *[F.col(str(v)) for v in values]))
