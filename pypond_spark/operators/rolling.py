"""Per-event trailing-window aggregates and anomaly scores.

``rolling`` gives every event the aggregate of its series over the
trailing ``window`` (inclusive of the event itself) — moving averages,
trailing counts, rolling extremes. It compiles the same agg-spec language
as the bucketed rollups (`functions.compile_agg`) but evaluates each
reducer ``.over()`` a RANGE window frame on epoch-ms, so an event at t
sees exactly the events in ``(t - window, t]`` regardless of sampling
irregularity.

Scale shape: one exchange (hash-partition on the series key) and one sort
per partition — identical physical cost to align/rate/fill. The RANGE
frame is evaluated incrementally by Spark's window operator (no per-event
rescans for the running reducers: sum/avg/count/min/max).

``zscore`` flags events that sit more than ``threshold`` standard
deviations from their series' mean — the whole-series variant uses an
unframed partition window (two passes over each partition, no shuffle
beyond the partitioning); pass ``window=`` to score against the trailing
window instead (streaming-friendly: no future leakage).
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import _prefilter, normalize_agg_spec
from ..index import window_duration_ms
from ..util import timed_events


def _range_window(window: str, partition_by: Sequence[str], time_col: str,
                  exclude_current: bool = False):
    dur = window_duration_ms(window)
    if dur is None:
        raise ValueError(f"rolling needs a fixed window spec, got {window!r}")
    ms = F.unix_millis(F.col(time_col))
    return (Window.partitionBy(*partition_by).orderBy(ms)
            .rangeBetween(-(dur - 1), -1 if exclude_current else 0))


# filters whose rewrite happens BEFORE the aggregate (column rewrites that
# compose with .over()); propagate_missing / none_if_empty are post-agg
# rewrites compile_agg applies around the aggregate, which a window frame
# cannot express — rolling rejects them instead of silently ignoring them
_ROLLING_FILTERS = ("keep_missing", "ignore_missing", "zero_missing")


def _sorted_frame(col, w):
    """The window frame's valid values as a sorted array per row. Spark
    refuses median()/percentile() over a frame
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so exact frame quantiles
    materialize the frame instead — keep frames modest: an exact order
    statistic fundamentally needs the frame's contents, unlike the
    incremental sum/min/max reducers."""
    return F.array_sort(F.collect_list(col).over(w))  # drops NULLs


def _quantile_of_sorted(arr, q: float | None):
    """Quantile from a sorted array column. ``q=None`` -> median (mean
    of the two middles for even counts); otherwise linear interpolation
    at rank ``q * (n-1)`` — the same convention as the bucketed
    'linear' percentile and quantile_cont."""
    n = F.size(arr)
    if q is None:
        odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
        even = (F.element_at(arr, (n / 2).cast("int"))
                + F.element_at(arr, (n / 2 + 1).cast("int"))) / F.lit(2.0)
        return (F.when(n == 0, F.lit(None).cast("double"))
                .when(n % 2 == 1, odd).otherwise(even))
    rank = (n - 1).cast("double") * F.lit(float(q))
    lo = F.floor(rank).cast("int")
    frac = rank - lo
    lo_v = F.element_at(arr, lo + 1)
    hi_v = F.element_at(arr, F.least(lo + F.lit(2), n))
    return F.when(n == 0, F.lit(None).cast("double")) \
        .otherwise(lo_v + (hi_v - lo_v) * frac)


def _over(func, col, flt, w):
    """Window-frame twin of the named reducers. compile_agg's columns wrap
    the aggregate in coalesce/when rewrites that `.over()` cannot apply to,
    so the rolling path compiles the window-function form directly."""
    simple = {"sum": F.sum, "avg": F.avg, "max": F.max, "min": F.min,
              "count": F.count, "stddev": F.stddev_pop}
    if isinstance(func, (tuple, list)):
        name, q, *rest = list(func) + []
        if name != "percentile" or rest:
            raise ValueError(
                f"rolling supports ('percentile', q) tuples, got {func!r}")
        return _quantile_of_sorted(_sorted_frame(col.cast("double"), w),
                                   q / 100.0)
    if func == "median":
        return _quantile_of_sorted(_sorted_frame(col.cast("double"), w),
                                   None)
    if func == "difference":
        return F.max(col).over(w) - F.min(col).over(w)
    if func in ("first", "last"):
        # match the bucketed reducers: first/last of the VALID values under
        # ignore_missing (F.first alone would return the frame's first row,
        # null or not); keep_missing keeps the positional semantics
        fn = F.first if func == "first" else F.last
        return fn(col, ignorenulls=(flt == "ignore_missing")).over(w)
    if func not in simple:
        raise ValueError(
            f"rolling supports "
            f"{sorted(simple) + ['difference', 'first', 'last', 'median', 'percentile']},"
            f" got {func!r}")
    return simple[func](col).over(w)


def rolling(df: DataFrame, window: str, aggregation: dict,
            partition_by: Sequence[str] = (),
            time_col: str = "time") -> DataFrame:
    """Append one column per agg-spec entry holding the trailing-window
    aggregate at each event.

    Spec language is that of the bucketed rollups, restricted to the named
    reducers listed in ``_over`` and the pre-aggregate missing-value
    filters (``keep_missing`` / ``ignore_missing`` / ``zero_missing``) —
    the post-aggregate filters (``propagate_missing``, ``none_if_empty``)
    have no window-frame form and raise rather than silently degrade.
    """
    w = _range_window(window, partition_by, time_col)
    specs = normalize_agg_spec(aggregation)
    for out, _, _, flt in specs:
        if flt not in _ROLLING_FILTERS:
            raise ValueError(
                f"rolling supports filters {_ROLLING_FILTERS}, got {flt!r}"
                f" for {out!r}")
    df = timed_events(df, time_col)

    def _is_quantile(func):
        return func == "median" or (
            isinstance(func, (tuple, list)) and func
            and func[0] == "percentile")

    # a spec asking for several quantiles of the same (column, filter)
    # buffers and sorts the frame ONCE, not once per entry — the sorted
    # array is the dominant per-row cost of the exact-quantile path
    shared = {}
    for out, in_col, func, flt in specs:
        if _is_quantile(func) and (in_col, flt) not in shared:
            shared[(in_col, flt)] = _sorted_frame(
                _prefilter(F.col(in_col), flt).cast("double"), w)
    cols = []
    for out, in_col, func, flt in specs:
        if _is_quantile(func):
            q = None if func == "median" else func[1] / 100.0
            cols.append(_quantile_of_sorted(shared[(in_col, flt)], q)
                        .alias(out))
        else:
            cols.append(_over(func, _prefilter(F.col(in_col), flt),
                              flt, w).alias(out))
    return df.select(*df.columns, *cols)


def cumulative(df: DataFrame, aggregation: dict,
               partition_by: Sequence[str] = (),
               time_col: str = "time",
               tiebreak: str | None = None) -> DataFrame:
    """Append running (since-series-start) aggregates at each event — the
    accumulating-counter view of a series (cumsum, running max, running
    count...). Same agg-spec language and reducer set as ``rolling``, with
    an unbounded-preceding ROWS frame instead of a trailing RANGE frame.

    Pass ``tiebreak=`` (a unique column) when duplicate timestamps are
    possible — the frame is row-ordered, so equal times need a total
    order for deterministic prefixes.

    Scale: one window shuffle on the series key, identical shape to
    ``rolling``; no state beyond the frame Spark streams through.
    """
    df = timed_events(df, time_col)
    order = [time_col, tiebreak] if tiebreak else [time_col]
    w = (Window.partitionBy(*partition_by).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cols = []
    for out, in_col, func, flt in normalize_agg_spec(aggregation):
        if flt not in _ROLLING_FILTERS:
            raise ValueError(
                f"cumulative supports filters {_ROLLING_FILTERS}, got "
                f"{flt!r} for {out!r}")
        cols.append(
            _over(func, _prefilter(F.col(in_col), flt), flt, w).alias(out))
    return df.select(*df.columns, *cols)


def _f64(pdf, col: str) -> np.ndarray:
    """A value column as float64 with NaN for missing (None/NaN alike)."""
    return pdf[col].to_numpy(dtype="float64", na_value=math.nan)


def _t_ms(pdf, time_col: str) -> np.ndarray:
    """Event times as int64 epoch-ms, floored like Spark's ``unix_millis``
    (an int64 view is ns-since-epoch for naive and tz-aware pandas
    datetime columns alike)."""
    return pdf[time_col].to_numpy(dtype="int64") // 10**6


# The four smoothing folds below are the ONE implementation of their
# recurrences: the batch operators run them through ``_keyed_scan`` and the
# streaming twins (streaming/stream.py) through ``_keyed_state``. A kernel
# takes one series' contiguous, time-sorted run of arrays plus the state
# carried from the run before it, and returns ``(outputs, state)``. NaN in
# a float state means "no valid sample yet"; NaN/None samples carry the
# state forward unchanged. Each loop writes its recurrence verbatim over
# Python floats: it rounds at every step, so any reassociated closed form
# (pandas ``ewm``'s normalized weights, ``ewma_scan``'s affine compose)
# drifts in the last ulp, while a fold in any engine (the DuckDB oracle's
# ``list_reduce`` / recursive CTEs) reproduces this one bit-for-bit.

def _ewma_fold(xs: Sequence[np.ndarray], alpha: float,
               accs: Sequence[float]):
    """EWMA over one float64 array per field; ``accs`` is the accumulator
    per field."""
    outs, new = [], []
    for x, s in zip(xs, accs):
        out = []
        for v in x.tolist():
            if not math.isnan(v):
                s = v if math.isnan(s) else alpha * v + (1.0 - alpha) * s
            out.append(s)
        outs.append(out)
        new.append(s)
    return outs, new


def _holt_fold(x: np.ndarray, alpha: float, beta: float, state):
    """Holt level + trend; ``state`` is ``(l, b)``."""
    lv, bt = state
    lev, trd = [], []
    for v in x.tolist():
        if not math.isnan(v):
            if math.isnan(lv):
                lv, bt = v, 0.0
            else:
                new_l = alpha * v + (1.0 - alpha) * (lv + bt)
                bt = beta * (new_l - lv) + (1.0 - beta) * bt
                lv = new_l
        lev.append(lv)
        trd.append(bt)
    return (lev, trd), (lv, bt)


def _hw_fold(x: np.ndarray, period: int, alpha: float, beta: float,
             gamma: float, state):
    """Holt-Winters additive; ``state`` is ``(l, b, sv, k, seas)``: level,
    trend, the last seasonal written, the count of valid samples (the
    phase is ``k % period``) and the ``period`` seasonal slots."""
    lv, bt, sv, k, seas = state
    seas = list(seas)
    lev, trd, sea = [], [], []
    for v in x.tolist():
        if not math.isnan(v):
            p = k % period
            if math.isnan(lv):
                lv, bt = v, 0.0
            else:
                new_l = alpha * (v - seas[p]) + (1.0 - alpha) * (lv + bt)
                bt = beta * (new_l - lv) + (1.0 - beta) * bt
                lv = new_l
            sv = gamma * (v - lv) + (1.0 - gamma) * seas[p]
            seas[p] = sv
            k += 1
        lev.append(lv)
        trd.append(bt)
        sea.append(sv)
    return (lev, trd, sea), (lv, bt, sv, k, seas)


def _throttle_fold(t: np.ndarray, gap_ms: int, last: int | None):
    """Greedy keep over sorted int64 epoch-ms ``t``; ``last`` is the last
    KEPT time (None before the first). The rule "keep iff cur - last >=
    gap" admits exactly this next-fit chain, so Python is re-entered once
    per KEPT event (``searchsorted`` jumps to the next time >= last + gap;
    side='left' skips the equal-time peers of a kept event), not once per
    event."""
    n = len(t)
    keep = np.zeros(n, dtype=bool)
    i = 0 if last is None else int(np.searchsorted(t, last + gap_ms,
                                                   side="left"))
    while i < n:
        keep[i] = True
        last = int(t[i])
        i = int(np.searchsorted(t, last + gap_ms, side="left"))
    return (keep,), last


def _run_starts(pdf, keys: Sequence[str]) -> np.ndarray:
    """The run splitter of the keyed shells (``_keyed_scan`` here, the
    stream's bucket shell): over rows sorted by ``keys``, True where a
    row's key differs from the row before it (row 0 is left False).

    NULL keys form one series, as Spark's ``groupBy`` and SQL
    ``PARTITION BY`` treat them. A NULL numeric key reaches pandas as NaN,
    which equals nothing, so NULL-ness is compared first."""
    new = np.zeros(len(pdf), dtype=bool)
    for k in keys:
        v, na = pdf[k].to_numpy(), pdf[k].isna().to_numpy()
        new[1:] |= (v[1:] != v[:-1]) & ~(na[1:] & na[:-1])
    return new


def _keyed_scan(df: DataFrame, partition_by: Sequence[str], time_col: str,
                tiebreak: str | None, out_fields: list, columns, fold,
                fresh) -> DataFrame:
    """The batch shell of the smoothing folds: appends ``out_fields`` to
    ``df`` by running ``fold(columns(pdf)[run], state) -> (outputs,
    state)`` over every series' time-ordered run, from state ``fresh``.

    Hash-partition on the series key (no key: one global series, one
    partition), sort each partition by (key, time, tiebreak), then ONE
    ``mapInPandas`` pass that splits each Arrow batch into runs of equal
    key (:func:`_run_starts`, whose NULL-key law this shares) and carries
    the state across batch boundaries.
    """
    keys = list(partition_by)
    df = timed_events(df, time_col)
    tb = [tiebreak] if tiebreak else []
    parts = (df.repartition(*[F.col(k) for k in keys]) if keys
             else df.coalesce(1)).sortWithinPartitions(*keys, time_col, *tb)

    def per_partition(batches):
        prev_key, state = object(), fresh
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            new = _run_starts(pdf, keys)
            first, last = [], []
            for k in keys:
                v, na = pdf[k].to_numpy(), pdf[k].isna().to_numpy()
                first.append(None if na[0] else v[0])
                last.append(None if na[-1] else v[-1])
            new[0] = tuple(first) != prev_key
            prev_key = tuple(last)
            ins = columns(pdf)
            bounds = [*np.flatnonzero(new).tolist(), n]
            if bounds[0]:  # the run carried over from the last batch
                bounds.insert(0, 0)
            pieces = [[] for _ in out_fields]
            for lo, hi in zip(bounds, bounds[1:]):
                if new[lo]:
                    state = fresh
                outs, state = fold([a[lo:hi] for a in ins], state)
                for acc, o in zip(pieces, outs):
                    acc.append(o)
            for fld, acc in zip(out_fields, pieces):
                pdf[fld.name] = np.concatenate(acc)
            yield pdf

    return parts.mapInPandas(
        per_partition, T.StructType(list(df.schema.fields) + out_fields))


def ewma(df: DataFrame, field_spec: str = "value", alpha: float = 0.5,
         partition_by: Sequence[str] = (),
         time_col: str = "time",
         tiebreak: str | None = None) -> DataFrame:
    """Exponentially weighted moving average per series:
    ``s_0 = x_0; s_t = alpha * x_t + (1 - alpha) * s_{t-1}`` in time order.

    The recurrence is inherently sequential, which no window frame can
    express without numerically explosive ``(1-alpha)^-t`` rescaling — so
    this is the Arrow escape hatch: hash-partition on the series key,
    sort each partition by (key, time), then ONE ``mapInPandas`` pass that
    carries the per-key accumulator across Arrow batch boundaries. This
    beats per-group ``applyInPandas`` ~2x here because corpora have many
    small series and the per-group Arrow round trip dominates; the
    single-pass form touches each row once regardless of group count.
    The loop writes the recurrence verbatim — not pandas ``ewm``, whose
    normalized form ``(w_old*s + w_new*x)/(w_old+w_new)`` rounds
    differently — so a fold in any engine (e.g. the DuckDB oracle's
    ``list_reduce``) reproduces results bit-for-bit. NaN/None samples
    carry the previous EWMA forward unchanged.

    Output: input columns plus ``<field>_ewma``. Events sharing a
    timestamp process in arbitrary shuffle order, which changes the
    result — pass ``tiebreak=`` (e.g. an event-id column) to pin the
    order whenever ties are possible.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
    return _keyed_scan(
        df, partition_by, time_col, tiebreak,
        [T.StructField(f"{f}_ewma", T.DoubleType()) for f in fields],
        lambda pdf: [_f64(pdf, f) for f in fields],
        lambda xs, accs: _ewma_fold(xs, alpha, accs),
        [math.nan] * len(fields))


def holt(df: DataFrame, field: str = "value", alpha: float = 0.5,
         beta: float = 0.5, partition_by: Sequence[str] = (),
         time_col: str = "time",
         tiebreak: str | None = None) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend) per
    series — the forecasting step up from :func:`ewma` for drifting
    signals, where single smoothing lags a trend by ``(1-alpha)/alpha``
    steps:

    ``l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})``;
    ``b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}``;
    first valid sample initializes ``l = x, b = 0``.

    Same Arrow escape hatch and scale shape as :func:`ewma` (the
    recurrence is inherently sequential per key): hash-partition on the
    series key, one sorted ``mapInPandas`` pass, accumulators carried
    across Arrow batches, O(1) state per key. The loop writes the
    recurrence verbatim, so a fold in any engine reproduces it — for
    dyadic ``alpha``/``beta`` (0.5, 0.25, ...) every multiply is an
    exact IEEE scaling and results are bit-identical cross-engine.
    NaN/None samples carry level and trend forward unchanged. Appends
    ``<field>_level`` and ``<field>_trend``; the one-step-ahead forecast
    is ``level + trend``.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    return _keyed_scan(
        df, partition_by, time_col, tiebreak,
        [T.StructField(f"{field}_level", T.DoubleType()),
         T.StructField(f"{field}_trend", T.DoubleType())],
        lambda pdf: [_f64(pdf, field)],
        lambda xs, st: _holt_fold(xs[0], alpha, beta, st),
        (math.nan, math.nan))


def throttle(df: DataFrame, min_spacing: str | int = "1m",
             partition_by: Sequence[str] = (),
             time_col: str = "time",
             tiebreak: str | None = None) -> DataFrame:
    """Greedy rate-limit / debounce per series: an event is KEPT iff at
    least ``min_spacing`` has passed since the last KEPT event — the
    alert-dedup / notification-throttle primitive. Unlike dedup-last or
    sampling, keep depends on the previous KEPT event, so the recurrence
    is inherently sequential (no window frame expresses it); like
    :func:`ewma`/:func:`holt` it runs as one sorted Arrow pass per key
    partition with a single long of carried state. Integer-ms state
    means the fold is BIT-EXACT in any engine — the oracle replays it as
    a recursive CTE. Appends ``throttle_keep``; first event per key is
    always kept; an event at exactly ``min_spacing`` is kept.

    Scale note (same contract as keyless ``ewma``/``holt``): with empty
    ``partition_by`` the recurrence is one global sequence, so the input
    coalesces to a SINGLE partition — inherently serial and memory-bound
    by that one task. Corpus-sized inputs need a ``partition_by`` key
    (throttling is almost always per alert-source anyway); keyless is
    for one-series frames.
    """
    gap_ms = (window_duration_ms(min_spacing)
              if isinstance(min_spacing, str) else int(min_spacing))
    if gap_ms is None or gap_ms <= 0:
        raise ValueError(f"min_spacing must be a positive fixed window, "
                         f"got {min_spacing!r}")
    return _keyed_scan(
        df, partition_by, time_col, tiebreak,
        [T.StructField("throttle_keep", T.BooleanType())],
        lambda pdf: [_t_ms(pdf, time_col)],
        lambda ts, last: _throttle_fold(ts[0], gap_ms, last),
        None)


def anomaly_ensemble(df: DataFrame, field: str = "value",
                     partition_by: Sequence[str] = (),
                     time_col: str = "time",
                     z_threshold: float = 3.0,
                     robust_threshold: float = 3.5,
                     seasonal_threshold: float = 3.0,
                     min_votes: int = 2, tz: str = "UTC") -> DataFrame:
    """Majority-vote anomaly detection: three detectors with disjoint
    failure modes — mean/sigma z-score (cheap, but outliers inflate their
    own baseline), median/MAD robust z (breakdown-resistant), and the
    seasonal-profile deviation (catches "normal value, wrong hour") —
    each votes, and ``min_votes`` of 3 flags the event. A single fat-tail
    burst fools the z-score; a corpus-wide level shift fools the
    seasonal profile; requiring agreement suppresses each detector's
    solo false-positive mode.

    Composition of three already-oracled operators, so the plan is their
    union: one whole-partition window (z), two bounded quantile
    aggregations broadcast back (robust), one slot-profile aggregation
    broadcast back (seasonal) — the event table is never shuffled, only
    scanned. A detector that abstains (NULL score: zero variance, thin
    slot) contributes no vote, not a veto. Appends the three scores,
    ``votes`` and ``ensemble_anomaly``.
    """
    from .seasonal import seasonal_anomaly as seasonal_op

    out = zscore(df, field, window=None, partition_by=partition_by,
                 time_col=time_col, threshold=z_threshold)
    out = robust_zscore(out, field, partition_by, robust_threshold)
    out = seasonal_op(out, field, partition_by, time_col, tz=tz)
    votes = (
        F.coalesce(F.col(f"{field}_anomaly").cast("int"), F.lit(0))
        + F.coalesce(F.col(f"{field}_outlier").cast("int"), F.lit(0))
        + F.coalesce((F.abs(F.col("deviation"))
                      > F.lit(float(seasonal_threshold))).cast("int"),
                     F.lit(0)))
    return (out.withColumn("votes", votes)
            .withColumn("ensemble_anomaly",
                        F.col("votes") >= F.lit(int(min_votes))))


def holt_winters(df: DataFrame, field: str = "value", period: int = 24,
                 alpha: float = 0.5, beta: float = 0.5, gamma: float = 0.5,
                 partition_by: Sequence[str] = (),
                 time_col: str = "time",
                 tiebreak: str | None = None) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing (level + trend
    + ``period``-slot seasonal) per series — :func:`holt` for signals
    with a repeating cycle. The phase advances one slot per VALID sample
    (sample-indexed, like the rest of the smoothing family — irregular
    series smooth their sample sequence, not wall-clock):

    ``l_t = alpha*(x_t - s_{t-m}) + (1-alpha)*(l_{t-1} + b_{t-1})``;
    ``b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}``;
    ``s_t = gamma*(x_t - l_t) + (1-gamma)*s_{t-m}``;
    seasonal slots start at 0.0 and the first valid sample initializes
    ``l = x, b = 0`` (so its seasonal update writes exactly 0.0 — the
    zero-init variant, deterministic and cross-engine foldable; classic
    HW warm-starts the seasonal from the first cycle's means instead,
    which is a presentation choice this engine leaves to the caller).

    Same Arrow escape hatch and scale shape as :func:`holt`: one sorted
    ``mapInPandas`` pass per key partition, O(period) state per key.
    Dyadic ``alpha``/``beta``/``gamma`` make every multiply an exact
    IEEE scaling — bit-identical to the DuckDB recursive-CTE fold the
    driver oracle runs. NaN/None samples carry level/trend/seasonal
    forward unchanged (phase does not advance). Appends
    ``<field>_level``, ``<field>_trend``, ``<field>_seasonal`` (the slot
    just written; the one-step forecast is ``level + trend +
    s[next phase]``).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    if not 0.0 <= gamma <= 1.0:
        raise ValueError(f"gamma must be in [0, 1], got {gamma}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    return _keyed_scan(
        df, partition_by, time_col, tiebreak,
        [T.StructField(f"{field}_level", T.DoubleType()),
         T.StructField(f"{field}_trend", T.DoubleType()),
         T.StructField(f"{field}_seasonal", T.DoubleType())],
        lambda pdf: [_f64(pdf, field)],
        lambda xs, st: _hw_fold(xs[0], period, alpha, beta, gamma, st),
        (math.nan, math.nan, math.nan, 0, [0.0] * period))


def zscore(df: DataFrame, field_spec: str = "value",
           window: str | None = None,
           partition_by: Sequence[str] = (),
           time_col: str = "time",
           threshold: float = 3.0) -> DataFrame:
    """Append ``<field>_zscore`` and ``<field>_anomaly`` per field.

    ``window=None`` scores against the whole series (population stddev,
    self-inclusive — the classic z-score); a fixed window scores against
    the trailing window EXCLUDING the current event and any events
    sharing its exact timestamp (a RANGE frame bounds by ORDER BY value,
    so equal-ms peers fall outside the ``-1`` upper bound too — the
    conservative choice: a burst of simultaneous events cannot vouch for
    itself), so a spike cannot inflate its own baseline and nothing leaks
    from the future (the streaming-safe form). Series/windows with zero variance yield NULL
    z-scores (and ``false`` anomaly flags) rather than a division error.
    """
    fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
    if window is None:
        w = Window.partitionBy(*partition_by)
    else:
        w = _range_window(window, partition_by, time_col,
                          exclude_current=True)
    out = timed_events(df, time_col)
    for f in fields:
        col = F.col(f).cast("double")
        z = F.try_divide(col - F.avg(col).over(w),
                         F.stddev_pop(col).over(w))
        out = out.withColumn(f"{f}_zscore", z) \
            .withColumn(f"{f}_anomaly",
                        F.coalesce(F.abs(z) > F.lit(float(threshold)),
                                   F.lit(False)))
    return out


def ewma_scan(df: DataFrame, field_spec: str = "value", alpha: float = 0.5,
              time_col: str = "time", n_chunks: int | None = None,
              tiebreak: str | None = None) -> DataFrame:
    """Parallel EWMA over ONE giant unkeyed series — the scale path for
    the case :func:`ewma` documents as its single-partition fallback.

    The recurrence ``s' = alpha*x + (1-alpha)*s`` is an affine map of the
    carried state, and affine maps compose associatively — the classic
    parallel-scan trick for linear recurrences (Blelloch scans). So:

    1. range-partition the series by time into ``n_chunks`` ordered chunks;
    2. pass 1 folds each chunk SYMBOLICALLY into 4 numbers:
       ``(A, B)`` with "exit state = A * entry + B" (NaN samples are the
       identity map, so gaps compose for free), plus ``D`` (exit state if
       the chunk has no entry state) and ``has_valid``;
    3. a driver-side prefix fold over the k chunk summaries (k floats, not
       rows) yields each chunk's true entry state;
    4. pass 2 re-folds each chunk concretely from its entry state.

    Cost: two ordered scans + one k-row collect, plus one materialization
    of the chunked series (localCheckpoint) so both passes see identical
    chunk boundaries — wall-clock drops from O(n) sequential to
    O(n / n_chunks). Numerical caveat: composing
    ``(1-alpha)^m`` multiplies in a different order than the sequential
    fold, so results can differ from :func:`ewma` in the last ulp —
    equal to ~1e-12 relative, not bit-for-bit; the sequential operator
    remains the oracle-checked form. Pass ``tiebreak=`` (e.g. an
    event-id column) whenever equal timestamps are possible — it joins
    both the range partitioning and the in-chunk sort, pinning the fold
    order exactly like :func:`ewma`'s tiebreak.

    Output: input columns + ``<field>_ewma``, in series order.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if isinstance(field_spec, (list, tuple)):
        if len(field_spec) != 1:
            raise ValueError("ewma_scan takes a single field")
        field_spec = field_spec[0]
    f = field_spec
    spark = df.sparkSession
    if n_chunks is not None and n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    n = n_chunks if n_chunks is not None \
        else spark.sparkContext.defaultParallelism
    # tiebreak joins BOTH the range partitioning and the in-chunk sort:
    # equal timestamps would otherwise land in arbitrary chunks/positions
    # and make the fold order (hence every later value) nondeterministic
    order_cols = [F.col(time_col)] + ([F.col(tiebreak)] if tiebreak else [])
    parts = (df.repartitionByRange(n, *order_cols)
             .sortWithinPartitions(*order_cols)
             .withColumn("__pid", F.spark_partition_id()))
    parts = parts.localCheckpoint()  # pin partitioning across the 2 passes

    def summarize(batches):
        import pandas as pd
        pid = None
        A, B, D = 1.0, 0.0, math.nan
        has_valid = False
        for pdf in batches:
            if len(pdf):
                pid = int(pdf["__pid"].iloc[0])
                for v in _f64(pdf, f):
                    if not math.isnan(v):
                        A *= (1.0 - alpha)
                        B = alpha * v + (1.0 - alpha) * B
                        D = v if not has_valid else alpha * v + (1.0 - alpha) * D
                        has_valid = True
        if pid is None:
            yield pd.DataFrame({"pid": pd.Series(dtype="int32"),
                                "a": pd.Series(dtype="float64"),
                                "b": pd.Series(dtype="float64"),
                                "d": pd.Series(dtype="float64"),
                                "hv": pd.Series(dtype="bool")})
        else:
            yield pd.DataFrame({"pid": [pid], "a": [A], "b": [B],
                                "d": [D], "hv": [has_valid]})

    summaries = sorted(
        parts.mapInPandas(
            summarize,
            "pid int, a double, b double, d double, hv boolean").collect(),
        key=lambda r: r["pid"])
    entry: dict[int, float | None] = {}
    state: float | None = None
    for r in summaries:
        entry[r["pid"]] = state
        if state is not None:
            state = r["a"] * state + r["b"]
        elif r["hv"]:
            state = r["d"]

    out_schema = T.StructType(
        [fld for fld in parts.schema.fields if fld.name != "__pid"]
        + [T.StructField(f"{f}_ewma", T.DoubleType())])
    out_cols = [fld.name for fld in out_schema.fields]

    def apply_scan(batches):
        s = None
        for pdf in batches:
            if not len(pdf):
                continue
            if s is None:
                s = entry.get(int(pdf["__pid"].iloc[0]))
                s = math.nan if s is None else s
            (out,), (s,) = _ewma_fold([_f64(pdf, f)], alpha, [s])
            pdf = pdf.drop(columns=["__pid"])
            pdf[f"{f}_ewma"] = out
            yield pdf[out_cols]

    return parts.mapInPandas(apply_scan, out_schema)


def winsorize(df: DataFrame, field: str = "value",
              lower: float = 0.01, upper: float = 0.99,
              partition_by: Sequence[str] = (),
              ) -> DataFrame:
    """Clip ``field`` to its per-group [lower, upper] exact percentiles —
    the outlier-capping preprocessing step (winsorization). Appends
    ``<field>_w`` plus the cut points.

    Shape: one percentile aggregation per group (groups x 2 floats) then
    a BROADCAST join back — the event side never shuffles. The whole
    computation is order-independent (sort-based percentiles, min/max
    clips), so results are bit-identical cross-engine. At huge-group
    scale swap the exact percentile for ``approx_percentile`` (sketch
    state; same shape).
    """
    if not 0 <= lower < upper <= 1:
        raise ValueError(f"need 0 <= lower < upper <= 1, got "
                         f"{lower}, {upper}")
    keys = list(partition_by)
    col = F.col(field).cast("double")
    valid = col.isNotNull() & ~F.isnan(col)
    cuts = (df.where(valid).groupBy(*keys)
            .agg(F.percentile(col, F.lit(lower)).alias("__lo"),
                 F.percentile(col, F.lit(upper)).alias("__hi")))
    joined = (df.join(F.broadcast(cuts), keys, "left") if keys
              else df.crossJoin(F.broadcast(cuts)))
    clipped = F.when(valid, F.least(F.greatest(col, F.col("__lo")),
                                    F.col("__hi")))
    return (joined.withColumn(f"{field}_w", clipped)
            .withColumnsRenamed({"__lo": f"{field}_lo",
                                 "__hi": f"{field}_hi"}))


def robust_zscore(df: DataFrame, field: str = "value",
                  partition_by: Sequence[str] = (),
                  threshold: float = 3.5) -> DataFrame:
    """Median/MAD anomaly score: ``0.6745 * (x - median) / MAD`` (the
    classic robust z — Iglewicz & Hoaglin's modified z-score), immune to
    the outliers it is hunting, unlike the mean/σ ``zscore``.

    Appends ``<field>_rz`` (NULL when MAD is 0 or the value invalid) and
    ``<field>_outlier``. Two bounded aggregations (median, then median
    absolute deviation) + broadcast joins; the event side never
    shuffles, and every statistic is sort-based (order-independent →
    cross-engine exact).
    """
    keys = list(partition_by)
    col = F.col(field).cast("double")
    valid = col.isNotNull() & ~F.isnan(col)
    med = (df.where(valid).groupBy(*keys)
           .agg(F.percentile(col, F.lit(0.5)).alias("__med")))
    j1 = (df.join(F.broadcast(med), keys, "left") if keys
          else df.crossJoin(F.broadcast(med)))
    mad = (j1.where(valid).groupBy(*keys)
           .agg(F.percentile(F.abs(col - F.col("__med")), F.lit(0.5))
                .alias("__mad")))
    j2 = (j1.join(F.broadcast(mad), keys, "left") if keys
          else j1.crossJoin(F.broadcast(mad)))
    rz = F.when(valid & (F.col("__mad") > 0),
                F.lit(0.6745) * (col - F.col("__med")) / F.col("__mad"))
    return (j2.withColumn(f"{field}_rz", rz)
            .withColumn(f"{field}_outlier",
                        F.coalesce(F.abs(F.col(f"{field}_rz"))
                                   > F.lit(float(threshold)), F.lit(False)))
            .drop("__med", "__mad"))


def rank_normalize(df: DataFrame, field: str = "value",
                   partition_by: Sequence[str] = (),
                   tiebreak: str | None = None) -> DataFrame:
    """Quantile-uniform transform: replace each value by its per-group
    percent rank in [0, 1] — the distribution-free normalization that
    makes heterogeneous signals comparable (e.g. mixing quality scores
    with different scales before a weighted sample).

    Appends ``<field>_pr``. Invalid samples get NULL. Ranks are over the
    VALUE order; ``tiebreak`` only stabilizes which physical row carries
    which rank when values tie (percent_rank gives ties equal rank
    regardless). One window shuffle on the group key.
    """
    keys = list(partition_by)
    col = F.col(field).cast("double")
    valid = col.isNotNull() & ~F.isnan(col)
    order = [col, F.col(tiebreak)] if tiebreak else [col]
    w = Window.partitionBy(*keys).orderBy(*order)
    pr = F.when(valid, F.percent_rank().over(w))
    # rank only the valid rows: NULLs sort first and would shift ranks
    ranked = (df.where(valid)
              .withColumn(f"{field}_pr", pr))
    invalid = df.where(~valid).withColumn(
        f"{field}_pr", F.lit(None).cast("double"))
    return ranked.unionByName(invalid)


def rolling_robust_zscore(df: DataFrame, window: str,
                          field: str = "value",
                          partition_by: Sequence[str] = (),
                          threshold: float = 3.5,
                          time_col: str = "time") -> DataFrame:
    """Trailing-window modified z-score: ``0.6745 * (x - med) / MAD``
    where med/MAD come from the ``(t - window, t]`` frame — the
    streaming-friendly variant of :func:`robust_zscore` (no future
    leakage, adapts to regime changes), immune to the outliers it hunts.

    The frame's sorted array materializes ONCE per row (see
    ``_sorted_frame``); the deviation array derives from it with a
    frame-bounded ``transform`` — no second window pass, no extra
    shuffle beyond the one series-key exchange every rolling stat pays.
    Appends ``<field>_rrz`` (NULL when the frame's MAD is 0 or the value
    invalid) and ``<field>_outlier``.
    """
    w = _range_window(window, partition_by, time_col)
    col = F.col(field).cast("double")
    valid = col.isNotNull() & ~F.isnan(col)
    base = timed_events(df, time_col).withColumn(
        "__rarr", _sorted_frame(F.when(valid, col), w))
    base = base.withColumn("__rmed",
                           _quantile_of_sorted(F.col("__rarr"), 0.5))
    dev = F.array_sort(F.transform(
        F.col("__rarr"), lambda x: F.abs(x - F.col("__rmed"))))
    base = base.withColumn("__rmad", _quantile_of_sorted(dev, 0.5))
    rz = F.when(valid & (F.col("__rmad") > 0),
                F.lit(0.6745) * (col - F.col("__rmed")) / F.col("__rmad"))
    return (base.withColumn(f"{field}_rrz", rz)
            .withColumn(f"{field}_outlier",
                        F.coalesce(F.abs(F.col(f"{field}_rrz"))
                                   > F.lit(float(threshold)), F.lit(False)))
            .drop("__rarr", "__rmed", "__rmad"))


def cusum(df: DataFrame, field: str = "value",
          target: float | None = None, slack: float = 0.0,
          threshold: float | None = None,
          partition_by: Sequence[str] = (), time_col: str = "time",
          tiebreak: str | None = None, side: str = "upper") -> DataFrame:
    """CUSUM change detection (Page 1954): per series,
    ``C_k = max(0, C_{k-1} + x_k - target - slack)`` (upper side; the
    lower side accumulates ``target - x_k``); an alarm fires where the
    statistic exceeds ``threshold``. The standard sequential drift
    detector for "has this metric shifted?".

    The recurrence LOOKS sequential, but has the closed form
    ``C_k = P_k - min(0, min_{j<=k} P_j)`` with ``P`` the running sum of
    the drift — so each side is two incremental window aggregates
    (running sum + running min) over ONE hash-partition + sort, the
    exact physical shape of ``cumulative``; no Python, no second
    shuffle (``side='both'`` shares the same sort), and the per-row
    state Spark's window operator carries is O(1). ``target=None`` uses
    each series' own mean (one bounded aggregation broadcast back, like
    ``zscore``). Invalid samples (NULL/NaN) contribute zero drift — the
    detector holds its level across gaps, matching the reference's
    treatment of missing points as "no information".

    Appends ``<field>_cusum`` (upper), ``<field>_cusum_dn`` (lower), or
    both for ``side='both'``; with ``threshold``, ``<field>_alarm``
    fires on whichever sides were computed.
    """
    if side not in ("upper", "lower", "both"):
        raise ValueError(f"side must be upper|lower|both, got {side!r}")
    keys = list(partition_by)
    df = timed_events(df, time_col)
    col = F.col(field).cast("double")
    valid = col.isNotNull() & ~F.isnan(col)
    if target is None:
        stats = (df.where(valid).groupBy(*keys)
                 .agg(F.avg(col).alias("__target")))
        if keys:
            df = df.join(F.broadcast(stats), keys, "left")
        else:
            df = df.crossJoin(F.broadcast(stats))
        tcol = F.col("__target")
    else:
        tcol = F.lit(float(target))
    order = [F.col(time_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (Window.partitionBy(*keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    def stat(drift_expr):
        p = F.sum(F.when(valid, drift_expr).otherwise(0.0)).over(w)
        return p - F.least(F.lit(0.0), F.min(p).over(w))

    out = df
    alarms = []
    if side in ("upper", "both"):
        out = out.withColumn(f"{field}_cusum",
                             stat(col - tcol - F.lit(float(slack))))
        alarms.append(F.col(f"{field}_cusum"))
    if side in ("lower", "both"):
        out = out.withColumn(f"{field}_cusum_dn",
                             stat(tcol - col - F.lit(float(slack))))
        alarms.append(F.col(f"{field}_cusum_dn"))
    if target is None:
        out = out.drop("__target")
    if threshold is not None:
        fired = alarms[0] > F.lit(float(threshold))
        for a in alarms[1:]:
            fired = fired | (a > F.lit(float(threshold)))
        out = out.withColumn(f"{field}_alarm", fired.cast("boolean"))
    return out
