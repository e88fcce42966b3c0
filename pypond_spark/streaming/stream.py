"""Streaming semantics (reference SURVEY §2.9) on Structured Streaming.

Mapping of the reference's push-based stream mode:

- ``Stream.add_event`` push chain -> micro-batch source (file/kafka/rate);
- ``emit_on`` trigger policies (``io/output.py:176-187``) -> output modes:
  ``eachEvent`` (re-emit running aggregates) -> ``update``;
  ``discard`` (emit a window once closed) -> ``append`` + watermark;
  ``flush`` (emit at end of batch) -> ``complete`` with availableNow;
- the reference has NO late-data support — "window closes on first
  out-of-window event" (``pipeline.py:603-606``); we default to a 0-second
  watermark (strictest) and let callers opt into real watermarks, a strict
  improvement Structured Streaming gives for free;
- stateful processors (Rate/Filler keep previous-event state,
  ``rate.py:56``, ``filler.py:64-72``) -> ``applyInPandasWithState`` with the
  carried (last_ts, last_value) state per series key, so state survives
  micro-batch boundaries exactly like the reference's long-lived processor
  objects.

All Python stream state runs through one ``applyInPandasWithState``
shell, ``_bucketed_state``: one state row per bucket of the key hash, each
holding an Arrow table with a row per key, and one Python call per touched
bucket per micro-batch. ``_keyed_state`` runs the fifteen keyed processors
(rate, gaps, sessions, throttle, transitions, cumulative, align, fill, ewma,
holt, holt_winters, rolling, zscore, cusum, xchart) on it, one step call
per key; the smoothing steps (ewma, holt, holt_winters, throttle) call the
batch operators' fold kernels in ``operators/rolling.py``, so a drained
stream and the batch operator agree bit-for-bit, NULL keys included.
``_first_seen_claims`` runs the three dedup gates (first-seen, SimHash,
MinHash) on it, one vectorized step per bucket.

State width: every state partition costs a state store and a Python state
start per micro-batch, and AQE is off inside streaming queries. So every
``availableNow`` drain starts in ``_drain_available_now``, which gives a
new query ``min(spark.sql.shuffle.partitions, defaultParallelism)`` state
partitions. The checkpoint pins the width a query first ran with, and the
bucket count it was written with.
"""

from __future__ import annotations

import json
import uuid
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..datapipe._util import py_word_tokens
from ..functions import compile_agg_spec
from ..index import window_duration_ms
from ..operators.rolling import (_ewma_fold, _f64, _holt_fold, _hw_fold,
                                 _run_starts, _t_ms, _throttle_fold)
from ..session import shuffle_width
from ..util import timed_events

OUTPUT_MODE = {"eachEvent": "update", "discard": "append", "flush": "complete"}


def _dur_str(window: str) -> str:
    if window == "daily":
        # UTC calendar days == epoch-anchored 1d fixed windows
        window = "1d"
    ms = window_duration_ms(window)
    if ms is None:
        raise ValueError(
            f"streaming windows need a fixed spec or 'daily', got {window!r}")
    return f"{ms // 1000} seconds"


def windowed_stream_aggregate(
    sdf: DataFrame,
    spec: dict,
    window: str,
    group_by: str | Sequence[str] | None = None,
    time_col: str = "time",
    emit_on: str = "eachEvent",
    watermark: str | None = None,
) -> tuple[DataFrame, str]:
    """Tumbling-window streaming aggregate.

    Returns (streaming DataFrame, output mode for writeStream). ``discard``
    requires a watermark (default '0 seconds' = reference strictness).
    """
    groups = [group_by] if isinstance(group_by, str) else list(group_by or [])
    if emit_on not in OUTPUT_MODE:
        raise ValueError(
            f"bad emit_on trigger {emit_on!r}; expected one of "
            f"{tuple(OUTPUT_MODE)}")
    mode = OUTPUT_MODE[emit_on]
    if watermark is not None:
        # an EXPLICIT horizon applies in every mode (bounds state for
        # update/complete too); only the 0s reference-strictness default
        # is discard-specific
        sdf = sdf.withWatermark(time_col, watermark)
    elif emit_on == "discard":
        sdf = sdf.withWatermark(time_col, "0 seconds")
    from ..functions import is_custom_reducer, normalize_agg_spec
    for out, _in, func, _flt in normalize_agg_spec(spec):
        if is_custom_reducer(func):
            # fail at compile time with an actionable message — Spark would
            # otherwise reject the grouped-agg pandas UDF deep inside query
            # start ("Streaming aggregation doesn't support group aggregate
            # pandas UDF" / INVALID_PANDAS_UDF_PLACEMENT)
            raise ValueError(
                f"custom callable reducer for {out!r} is not supported in "
                "streaming aggregation (Spark disallows grouped-agg pandas "
                "UDFs over streaming state); use a named spec, or drain to "
                "batch and aggregate there")
    aggs = compile_agg_spec(spec, time_col=time_col)
    win = F.window(F.col(time_col), _dur_str(window))
    out = (sdf.groupBy(win.alias("__w"), *groups)
           .agg(*aggs)
           .select(F.col("__w.start").alias("begin"),
                   F.col("__w.end").alias("end"), *groups, *list(spec)))
    return out, mode


#: Python stream state lives in this many state rows per operator, one per
#: bucket ``pmod(xxhash64(keys), STATE_BUCKETS)``, each holding the Arrow
#: table of its keys' state. Every micro-batch rewrites each touched
#: bucket's whole table, so the value trades Python calls per batch against
#: bytes rewritten per touched key (SCALE.md, "State buckets"). A checkpoint
#: records the value it was written with and refuses any other.
STATE_BUCKETS = 64


class _KeyState:
    """One key's row of a bucket's state table, as a keyed step sees it:
    the ``exists`` / ``get`` / ``update`` part of ``GroupState``."""

    def __init__(self, value):
        self.get, self.new, self.exists = value, None, value is not None

    def update(self, value) -> None:
        self.get = self.new = tuple(value)
        self.exists = True


def _bucketed_state(sdf: DataFrame, keys: list[str], sort_cols: list[str],
                    exact: Sequence[str], out_schema: T.StructType,
                    state_fields: list, step,
                    ttl: bool = False) -> DataFrame:
    """The one ``applyInPandasWithState`` shell of the stream tier.

    The JVM groups on ``pmod(__h, STATE_BUCKETS)``, ``__h = xxhash64(keys)``.
    A bucket's state is an Arrow IPC table of (``__h``, keys,
    ``state_fields``), one row per key. Python gets the whole bucket,
    stable-sorted by (``keys``, ``sort_cols``) and split into key runs by
    :func:`_run_starts` (NULL keys form one series), and calls
    ``step(pdf, starts, run_keys, prior, wm) -> (frames, states)`` with each
    run's stored state tuple (None: new key); a None new state leaves the
    key's row as it was. Numeric keys, ``sort_cols`` and ``exact`` columns
    cross as a coalesced value plus a NULL flag and reach ``step`` as pandas
    masked arrays, since pandas would hold a numeric column with a NULL as
    float64 (rounding a long above 2**53). A NaN double key is its own
    series, as in Spark's ``groupBy``, but ``step`` sees a NaN in these
    columns as NULL and so emits NULL, as the batch twins do.

    ``ttl``: a ``deadline`` field holds each key's event-time deadline and
    the bucket's timer is the smallest one. A key with no rows in the batch
    whose deadline is below the watermark is removed, in the batch where a
    per-key timer would fire; a key with rows stays, and ``step`` re-arms it.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    types = {f.name: f.dataType for f in sdf.schema.fields}
    enc = [c for c in dict.fromkeys([*keys, *sort_cols, *exact])
           if isinstance(types[c], (T.IntegralType, T.FloatType,
                                     T.DoubleType))]
    sdf = sdf.select(
        *[F.coalesce(F.col(c), F.lit(0).cast(types[c])).alias(c)
          if c in enc else F.col(c) for c in sdf.columns],
        *[F.col(c).isNull().alias(f"__null_{c}") for c in enc],
        F.xxhash64(*keys).alias("__h")).withColumn(
            "__b", F.pmod(F.col("__h"), F.lit(STATE_BUCKETS)))
    def flagged(cs):  # an encoded column sorts and splits on (flag, value)
        return [x for c in cs for x in ([f"__null_{c}", c] if c in enc
                                        else [c])]
    split, order = flagged(keys), flagged([*keys, *sort_cols])
    names = [f.name for f in state_fields]
    buckets = str(STATE_BUCKETS)
    schema = pa.schema(
        [pa.field("__h", pa.int64())]
        + [pa.field(f"__k{i}", to_arrow_type(types[k]))
           for i, k in enumerate(keys)]
        + [pa.field(f.name, to_arrow_type(f.dataType)) for f in state_fields],
        metadata={"buckets": buckets})
    nk = len(keys)

    def fn(_bucket, pdfs: Iterator[pd.DataFrame], state: GroupState):
        old = None
        if state.exists:
            old = pa.ipc.open_stream(pa.py_buffer(state.get[0])).read_all()
            got = old.schema.metadata.get(b"buckets", b"?").decode()
            if got != buckets:
                raise ValueError(f"checkpoint state has {got} buckets, "
                                 f"this build {buckets}")
        wm = state.getCurrentWatermarkMs() if ttl else None
        drop = np.zeros(old.num_rows if old is not None else 0, dtype=bool)
        frames, parts = [], []
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True) if len(chunks) > 1
                   else chunks[0])
            pdf = pdf.sort_values(order, kind="stable")
            new = _run_starts(pdf, split)
            new[0] = True
            starts = np.flatnonzero(new)
            nan = {}
            for c in enc:
                mask = pdf.pop(f"__null_{c}").to_numpy()
                v = pdf[c].to_numpy()
                if v.dtype.kind == "f":
                    nan[c] = v, mask | np.isnan(v)
                pdf[c] = (pd.arrays.FloatingArray if v.dtype.kind == "f"
                          else pd.arrays.IntegerArray)(v, mask)
            h = pdf["__h"].to_numpy()[starts]
            karr = [pa.Array.from_pandas(pdf[k].iloc[starts],
                                         type=schema.field(i + 1).type)
                    for i, k in enumerate(keys)]
            run_keys = list(zip(*(a.to_pylist() for a in karr)))
            for c, (v, m) in nan.items():  # the state keys hold NaN apart
                pdf[c] = pd.arrays.FloatingArray(v, m)
            prior, row = [None] * len(starts), {}
            if old is not None:
                cand = np.flatnonzero(np.isin(old["__h"].to_numpy(), h))
                sub = old.take(cand)
                at = {_nan_key(k): i for i, k in enumerate(run_keys)}
                sts = [sub[n].to_pylist() for n in names]
                for j, k in enumerate(zip(*(sub[f"__k{i}"].to_pylist()
                                            for i in range(nk)))):
                    i = at.get(_nan_key(k))
                    if i is not None:
                        prior[i] = tuple(c[j] for c in sts)
                        row[i] = cand[j]
            frames, states = step(pdf, starts, run_keys, prior, wm)
            upd = [i for i, s in enumerate(states) if s is not None]
            drop[[row[i] for i in upd if i in row]] = True
            if upd:
                parts.append(pa.Table.from_arrays(
                    [pa.array(h[upd])] + [a.take(upd) for a in karr]
                    + [pa.array([states[i][j] for i in upd],
                                type=schema.field(nk + 1 + j).type)
                       for j in range(len(names))], schema=schema))
        if old is not None:
            if ttl:
                drop |= old["deadline"].to_numpy() < wm
            parts.insert(0, old.filter(~drop))
        tbl = pa.concat_tables(parts) if parts else None
        if tbl is None or not tbl.num_rows:
            state.remove()
        else:
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, schema) as w:
                w.write_table(tbl)
            state.update((sink.getvalue().to_pybytes(),))
            if ttl:
                state.setTimeoutTimestamp(
                    int(tbl["deadline"].to_numpy().min()))
        yield from frames

    return sdf.groupBy("__b").applyInPandasWithState(
        fn, outputStructType=out_schema,
        stateStructType=T.StructType(
            [T.StructField("tbl", T.BinaryType())]),
        outputMode="append",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout if ttl
                     else GroupStateTimeout.NoTimeout))


def _nan_key(key: tuple) -> tuple:
    """A key tuple as a dict key: NaN (a double key) equals nothing, so it
    is swapped for a token that equals itself."""
    return tuple("\0nan" if x != x else x for x in key)


def _keyed_state(sdf: DataFrame, partition_by: Sequence[str], time_col: str,
                 out_fields: list, state_fields: list, make_step,
                 tiebreak: str | None = None, exact: Sequence[str] = (),
                 reads: Sequence[str] = ()) -> DataFrame:
    """The shell of every keyed, timeout-free state operator below: the
    constant ``__k`` key (and its drop), the output schema (key fields +
    ``out_fields``) and the per-key adapter over :func:`_bucketed_state`.
    ``make_step(keys)`` returns ``step(key, pdf, state)``, a generator of
    output frames called once per key with rows, with the key's run
    (stable-sorted by time then ``tiebreak``) and its :class:`_KeyState`.
    Only the keys, time, ``tiebreak``, ``reads`` (value columns) and
    ``exact`` (pass-through columns, kept lossless) reach Python. A row
    with NULL time is dropped on the JVM side, as the batch twins drop it.
    """
    sdf = timed_events(sdf, time_col)
    keys, dummy = list(partition_by), not partition_by
    if dummy:
        # with no series key, one constant key (one state bucket)
        sdf, keys = sdf.withColumn("__k", F.lit(0)), ["__k"]
    step = make_step(keys)
    out_schema = T.StructType([sdf.schema[k] for k in keys] + out_fields)
    tb = [tiebreak] if tiebreak else []
    sdf = sdf.select(*dict.fromkeys([*keys, time_col, *tb, *reads, *exact]))

    def per_key(pdf, starts, run_keys, prior, _wm):
        frames, states = [], []
        for lo, hi, key, st in zip(starts.tolist(),
                                   [*starts[1:].tolist(), len(pdf)],
                                   run_keys, prior):
            view = _KeyState(st)
            frames.extend(step(key, pdf.iloc[lo:hi], view))
            states.append(view.new)
        return frames, states

    out = _bucketed_state(sdf, keys, [time_col, *tb], exact, out_schema,
                          state_fields, per_key)
    return out.drop("__k") if dummy else out


def _key_frame(key, keys: list[str], n: int, cols: dict) -> pd.DataFrame:
    """Output frame builder: the group key broadcast over ``n`` rows,
    followed by the value columns (all length ``n``) in ``cols`` order."""
    data = {k: np.full(n, kv, dtype=object) for k, kv in zip(keys, key)}
    data.update(cols)
    return pd.DataFrame(data)


def _with_last(pdf: pd.DataFrame, state: _KeyState, fields: list[str],
               time_col: str):
    """The (last time, last values) state of rate and align: the run's
    epoch-ms times and float64 values with the stored last event in front
    (a stored None value reads as NaN), after storing the run's last one."""
    t = _t_ms(pdf, time_col)
    vals = {f: _f64(pdf, f) for f in fields}
    if state.exists:
        t = np.r_[np.int64(state.get[0]), t]
        vals = {f: np.r_[np.nan if p is None else p, vals[f]]
                for f, p in zip(fields, state.get[1:])}
    state.update((int(t[-1]), *(None if np.isnan(v[-1]) else float(v[-1])
                                for v in vals.values())))
    return t, vals


def _rate_state_fn(fields: list[str], keys: list[str], time_col: str,
                   allow_negative: bool, counter_wrap: float | None = None):
    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        """Vectorized: consecutive-pair rates via shifted numpy arrays
        (state-prepended), elementwise IEEE-identical to the former
        per-row loop ((cv - pv) / ((cur - prev) / 1000.0), same wrap
        add), so drained output is bit-for-bit unchanged."""
        t_all, v_all = _with_last(pdf, state, fields, time_col)
        if len(t_all) < 2:
            return  # yield nothing: no output rows for this group
        begin, end = t_all[:-1], t_all[1:]
        dt_sec = (end - begin) / 1000.0
        out_cols = {"begin_ms": begin, "end_ms": end}
        with np.errstate(divide="ignore", invalid="ignore"):
            for f in fields:
                pv, cv = v_all[f][:-1], v_all[f][1:]
                delta = cv - pv
                if counter_wrap is not None:
                    delta = np.where(delta < 0, delta + counter_wrap, delta)
                r = delta / dt_sec
                bad = np.isnan(pv) | np.isnan(cv) | (dt_sec == 0)
                if not allow_negative:
                    bad |= ~np.isnan(r) & (r < 0)
                out_cols[f"{f}_rate"] = np.where(bad, np.nan, r)
        yield _key_frame(key, keys, len(begin), out_cols)

    return fn


def stream_rate(
    sdf: DataFrame,
    field_spec: str | Sequence[str] = "value",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    allow_negative: bool = True,
    counter_wrap: int | float | None = None,
) -> DataFrame:
    """Cross-batch stateful rate: the streaming twin of operators.rate.

    State per series key = (last_ts_ms, last_values...). Output rows span
    micro-batch boundaries exactly like the reference's persistent Rate
    processor. ``counter_wrap`` mirrors the batch operator's SNMP-counter
    wrap correction (mutually exclusive with ``allow_negative=False``).
    """
    if counter_wrap is not None and not allow_negative:
        raise ValueError("counter_wrap corrects negative deltas; "
                         "allow_negative=False would mask the correction")
    fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
    wrap = float(counter_wrap) if counter_wrap is not None else None
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("begin_ms", T.LongType()),
         T.StructField("end_ms", T.LongType())]
        + [T.StructField(f"{f}_rate", T.DoubleType()) for f in fields],
        [T.StructField("ts", T.LongType())]
        + [T.StructField(f"v{i}", T.DoubleType()) for i in range(len(fields))],
        lambda keys: _rate_state_fn(fields, keys, time_col, allow_negative,
                                    wrap), reads=fields)


def _gaps_state_fn(keys: list[str], time_col: str, gap_ms: int):
    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        """Vectorized: one ``np.diff`` over the state-prepended sorted
        times replaces the former per-row loop — integer arithmetic, so
        output is identical by construction."""
        t_all, _ = _with_last(pdf, state, [], time_col)
        d = np.diff(t_all)
        idx = np.nonzero(d > gap_ms)[0]
        yield _key_frame(key, keys, len(idx),
                         {"gap_start_ms": t_all[idx],
                          "gap_end_ms": t_all[idx + 1],
                          "gap_ms": d[idx]})

    return fn


def stream_gaps(
    sdf: DataFrame,
    min_gap: str | int = "15m",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Cross-batch stateful gap detection: the streaming twin of
    ``operators.gaps.find_gaps`` — outage alerts as the events arrive.

    State per series key is ONE long (the last-seen timestamp), so state
    size is flat regardless of throughput; a silence that spans micro-batch
    boundaries is still detected because the last-seen instant survives in
    the state store. (A silence ONGOING at stream end is not emitted —
    detection needs the next event; pair with a processing-time timeout if
    open-ended alerting is required.)
    """
    gap_ms = (window_duration_ms(min_gap)
              if isinstance(min_gap, str) else int(min_gap))
    if gap_ms is None:
        raise ValueError(f"min_gap needs a fixed window spec, got {min_gap!r}")
    if gap_ms <= 0:
        raise ValueError(f"min_gap must be positive, got {min_gap!r}")
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("gap_start_ms", T.LongType()),
         T.StructField("gap_end_ms", T.LongType()),
         T.StructField("gap_ms", T.LongType())],
        [T.StructField("ts", T.LongType())],
        lambda keys: _gaps_state_fn(keys, time_col, gap_ms))


def _sessions_state_fn(keys: list[str], time_col: str, gap_ms: int,
                       fields: list[str]):
    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        """Vectorized (r10): session breaks come from one ``np.diff``
        (strictly greater than the gap — an event at EXACTLY last+gap
        still joins, matching Spark's native session_window boundary);
        Python re-enters once per SEGMENT (closed session + the one
        left open), not once per event. Per-segment field sums keep
        the sequential left-fold order by seeding a ``np.cumsum`` with
        the carried state sum (missing samples add an exact 0.0), so
        drained output is bit-identical to the former per-row loop."""
        if state.exists:
            begin, last, n0 = state.get[0], state.get[1], state.get[2]
            sums0 = list(state.get[3:])
        else:
            begin, last, n0 = None, None, 0
            sums0 = [0.0] * len(fields)
        nr = len(pdf)
        t = _t_ms(pdf, time_col)
        vals = {f: _f64(pdf, f) for f in fields}
        zvals = {f: np.where(np.isnan(v), 0.0, v)
                 for f, v in vals.items()}
        # segment boundaries WITHIN the batch
        cuts = (np.nonzero(np.diff(t) > gap_ms)[0] + 1)
        starts = np.r_[0, cuts]
        ends = np.r_[cuts, nr]
        outs_b, outs_e, outs_n = [], [], []
        outs_s = {f: [] for f in fields}
        held_open = last is not None
        if held_open and t[0] - last > gap_ms:
            # the held session closes before the batch's first event
            outs_b.append(begin)
            outs_e.append(last + gap_ms)
            outs_n.append(n0)
            for i, f in enumerate(fields):
                outs_s[f].append(sums0[i])
            held_open = False
        for si in range(len(starts)):
            s, e = int(starts[si]), int(ends[si])
            merged = held_open and si == 0
            seg_begin = begin if merged else int(t[s])
            seg_n = (n0 if merged else 0) + (e - s)
            seg_sums = []
            for i, f in enumerate(fields):
                seed = sums0[i] if merged else 0.0
                seg_sums.append(float(np.cumsum(
                    np.concatenate([[seed], zvals[f][s:e]]))[-1]))
            if si < len(starts) - 1:
                outs_b.append(seg_begin)
                outs_e.append(int(t[e - 1]) + gap_ms)
                outs_n.append(seg_n)
                for f, v in zip(fields, seg_sums):
                    outs_s[f].append(v)
            else:
                state.update((seg_begin, int(t[-1]), seg_n, *seg_sums))
        out_cols = {"begin_ms": np.array(outs_b, dtype=np.int64),
                    "end_ms": np.array(outs_e, dtype=np.int64),
                    "n": np.array(outs_n, dtype=np.int64)}
        for f in fields:
            out_cols[f"{f}_sum"] = np.array(outs_s[f], dtype=np.float64)
        yield _key_frame(key, keys, len(outs_b), out_cols)

    return fn


def stream_sessions(
    sdf: DataFrame,
    window: str | int = "1h",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    field_spec: str | Sequence[str] = (),
) -> DataFrame:
    """Cross-batch stateful sessionization: the streaming twin of
    ``TimeSeries.session_window_rollup`` — a session is a run of events
    per key with inter-event silence <= ``window`` (an event at exactly
    ``last + window`` still joins: Spark's native session_window end is
    inclusive, and the batch operator inherits that); ``end`` extends
    the last event by the session window, matching the batch operator
    exactly.

    State per key is THREE longs (session begin, last-seen ts, event
    count) plus one running double per ``field_spec`` field (emitted as
    ``<field>_sum``; invalid samples contribute nothing) — flat
    regardless of throughput or session length, so a million-key stream
    holds state proportional to keys, not events.
    A session is emitted when it CLOSES: the first event >= ``window``
    after its predecessor both emits the previous session and opens the
    next, even across micro-batch boundaries (the open session rides the
    state store). The session still OPEN at stream end is not emitted —
    closure needs the next event; pair with a processing-time timeout
    for open-ended session expiry in production alerting.
    """
    gap_ms = (window_duration_ms(window)
              if isinstance(window, str) else int(window))
    if gap_ms is None:
        raise ValueError(f"window needs a fixed window spec, got {window!r}")
    if gap_ms <= 0:
        raise ValueError(f"window must be positive, got {window!r}")
    fields = ([field_spec] if isinstance(field_spec, str)
              else list(field_spec))
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("begin_ms", T.LongType()),
         T.StructField("end_ms", T.LongType()),
         T.StructField("n", T.LongType())]
        + [T.StructField(f"{f}_sum", T.DoubleType()) for f in fields],
        [T.StructField("begin", T.LongType()),
         T.StructField("last", T.LongType()),
         T.StructField("n", T.LongType())]
        + [T.StructField(f"s{i}", T.DoubleType())
           for i in range(len(fields))],
        lambda keys: _sessions_state_fn(keys, time_col, gap_ms, fields),
        reads=fields)


def _throttle_state_fn(keys: list[str], time_col: str, gap_ms: int):
    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        t = _t_ms(pdf, time_col)
        (keep,), last = _throttle_fold(
            t, gap_ms, state.get[0] if state.exists else None)
        if last is not None:
            state.update((last,))
        yield _key_frame(key, keys, len(t), {"t_ms": t,
                                             "throttle_keep": keep})

    return fn


def stream_throttle(
    sdf: DataFrame,
    min_spacing: str | int = "1m",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    tiebreak: str | None = None,
) -> DataFrame:
    """Cross-batch greedy rate-limit: the streaming twin of
    ``operators.rolling.throttle`` — ONE long of state per key (last
    KEPT timestamp), so a suppression window spanning micro-batch
    boundaries still suppresses; integer-ms state makes the drained
    stream bit-identical to the batch fold.
    """
    gap_ms = (window_duration_ms(min_spacing)
              if isinstance(min_spacing, str) else int(min_spacing))
    if gap_ms is None or gap_ms <= 0:
        raise ValueError(f"min_spacing must be a positive fixed window, "
                         f"got {min_spacing!r}")
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType()),
         T.StructField("throttle_keep", T.BooleanType())],
        [T.StructField("last", T.LongType())],
        lambda keys: _throttle_state_fn(keys, time_col, gap_ms), tiebreak)


def _transitions_state_fn(keys: list[str], time_col: str, type_col: str):
    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        """Vectorized: (prev, cur) pairs via a shifted object array with
        the cross-batch state prepended. A NULL type value is a REAL
        observation: it participates as both `to_type` and the next
        row's `from_type` (the batch lead()-pairs semantics), so the
        only row without an edge is each key's very first event — state
        carries an explicit `seen` flag to tell "no predecessor yet"
        apart from "predecessor was null" (the r10 review found the
        per-row version silently bridging over null events across
        micro-batch boundaries, fabricating never-adjacent edges)."""
        seen = state.exists and bool(state.get[1])
        prev = state.get[0] if state.exists else None
        t = _t_ms(pdf, time_col)
        cur = pdf[type_col].to_numpy(dtype=object, na_value=None)
        prevs = np.empty(len(cur), dtype=object)
        prevs[1:] = cur[:-1]
        prevs[0] = prev
        state.update((cur[-1], True))
        if not seen:                 # first event ever has no edge
            t, prevs, cur = t[1:], prevs[1:], cur[1:]
        yield _key_frame(key, keys, len(t),
                         {"t_ms": t, "from_type": prevs,
                          "to_type": cur})

    return fn


def stream_transitions(
    sdf: DataFrame,
    type_col: str = "event_type",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    tiebreak: str | None = None,
) -> DataFrame:
    """Cross-batch event-sequence edges: one (from, to) row per
    consecutive pair within each key — the streaming feed of the batch
    transition matrix (count/pivot the drained edges, or window-agg them
    downstream). State per key is ONE string (the last seen type) plus a
    seen flag, so a pair spanning a micro-batch boundary is still
    emitted and a NULL type is reported as a real edge endpoint rather
    than bridged over (filter ``from_type/to_type IS NOT NULL``
    downstream for the oracle's lead()-pairs view).
    """
    t = sdf.schema[type_col].dataType
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType()),
         T.StructField("from_type", t), T.StructField("to_type", t)],
        [T.StructField("prev", t), T.StructField("seen", T.BooleanType())],
        lambda keys: _transitions_state_fn(keys, time_col, type_col),
        tiebreak, [type_col])


def _cum_state_fn(rows_spec, keys: list[str], time_col: str,
                  carry: list[str]):
    in_cols = list(dict.fromkeys(r[1] for r in rows_spec))

    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        """Vectorized (r10): every cumulative reducer is a prefix scan
        — state-seeded ``np.cumsum`` for sum/count (sequential
        left-to-right, bit-identical to the former per-row ``+=``),
        ``np.minimum/maximum.accumulate`` with ±inf for invalid samples
        — so the whole batch is a handful of C scans, zero per-row
        Python."""
        # state per input column: (sum, count, min, max) over VALID values
        if state.exists:
            st = list(state.get)
            acc = {c: list(st[4 * i:4 * i + 4])
                   for i, c in enumerate(in_cols)}
        else:
            acc = {c: [0.0, 0, None, None] for c in in_cols}
        scans: dict = {}
        for c in in_cols:
            v = _f64(pdf, c)
            ok = ~np.isnan(v)
            s0, n0, mn0, mx0 = acc[c]
            cs = np.cumsum(np.concatenate(
                [[s0], np.where(ok, v, 0.0)]))[1:]
            cn = n0 + np.cumsum(ok.astype(np.int64))
            cmn = np.minimum.accumulate(np.concatenate(
                [[np.inf if mn0 is None else mn0],
                 np.where(ok, v, np.inf)]))[1:]
            cmx = np.maximum.accumulate(np.concatenate(
                [[-np.inf if mx0 is None else mx0],
                 np.where(ok, v, -np.inf)]))[1:]
            scans[c] = (cs, cn, cmn, cmx)
            acc[c] = [float(cs[-1]), int(cn[-1]),
                      None if cn[-1] == 0 else float(cmn[-1]),
                      None if cn[-1] == 0 else float(cmx[-1])]
        out_cols = {"t_ms": _t_ms(pdf, time_col)}
        for c in carry:
            out_cols[c] = pdf[c].array
        for out, in_col, func, _flt in rows_spec:
            cs, cn, cmn, cmx = scans[in_col]
            if func == "count":
                out_cols[out] = cn
                continue
            empty = cn == 0
            if func == "sum":
                vals = cs
            elif func in ("avg", "mean"):
                with np.errstate(invalid="ignore", divide="ignore"):
                    vals = cs / cn
            elif func == "min":
                vals = cmn
            else:  # max
                vals = cmx
            out_cols[out] = np.where(empty, np.nan, vals)
        state.update(tuple(x for c in in_cols for x in acc[c]))
        yield _key_frame(key, keys, len(pdf), out_cols)

    return fn


_CUM_FUNCS = {"sum", "count", "min", "max", "avg", "mean"}


def stream_cumulative(
    sdf: DataFrame,
    aggregation: dict,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    tiebreak: str | None = None,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Cross-batch running aggregates: the streaming twin of
    ``operators.rolling.cumulative`` for the reducers whose running state
    is CONSTANT size (sum/count/min/max/avg) — four floats per input
    column per key, flat in throughput, unlike the buffer-window state of
    ``stream_rolling``. NULL/NaN samples are skipped (ignore_missing),
    matching the batch operator; ``count`` counts valid values.

    Output: series keys, ``t_ms``, carry columns, one column per spec
    entry (NULL until the first valid sample, count 0).
    """
    from ..functions import normalize_agg_spec
    rows_spec = []
    for out, in_col, func, flt in normalize_agg_spec(aggregation):
        if func not in _CUM_FUNCS:
            raise ValueError(
                f"stream_cumulative supports {sorted(_CUM_FUNCS)} "
                f"(constant running state), got {func!r} for {out!r}")
        if flt not in ("ignore_missing", "keep_missing"):
            raise ValueError(
                f"stream_cumulative supports ignore_missing only, got "
                f"{flt!r} for {out!r}")
        rows_spec.append((out, in_col, func, flt))
    carry = list(carry_cols)
    in_cols = list(dict.fromkeys(r[1] for r in rows_spec))
    state_fields = []
    for i, c in enumerate(in_cols):
        state_fields += [
            T.StructField(f"s{i}", T.DoubleType()),
            T.StructField(f"c{i}", T.LongType()),
            T.StructField(f"mn{i}", T.DoubleType()),
            T.StructField(f"mx{i}", T.DoubleType())]
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType())]
        + [sdf.schema[c] for c in carry]
        + [T.StructField(r[0], T.LongType() if r[2] == "count"
                         else T.DoubleType()) for r in rows_spec],
        state_fields,
        lambda keys: _cum_state_fn(rows_spec, keys, time_col, carry),
        tiebreak, carry, in_cols)


def _align_state_fn(fields: list[str], keys: list[str], time_col: str,
                    dur_ms: int, method: str, limit: int | None):
    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        """Vectorized (r11): boundary synthesis per consecutive pair via
        np.repeat over per-gap boundary counts; the interpolation
        ``pv + (cv - pv) * (b - prev) / (cur - prev)`` runs elementwise
        in float64 with int64 time deltas promoted exactly, so every
        emitted value is IEEE-identical to the former per-row loop."""
        fresh = not state.exists
        t_all, v_all = _with_last(pdf, state, fields, time_col)
        head = None
        if fresh and int(t_all[0]) % dur_ms == 0:  # first event, aligned
            head = (int(t_all[0]), {f: v_all[f][0] for f in fields})
        pos = t_all // dur_ms
        nb = pos[1:] - pos[:-1] if len(t_all) > 1 \
            else np.zeros(0, dtype=np.int64)
        total = int(nb.sum())
        n_head = 1 if head is not None else 0
        if total + n_head == 0:
            return  # yield nothing: no output rows for this group
        out_cols: dict[str, np.ndarray] = {}
        if total:
            gi = np.repeat(np.arange(len(nb)), nb)
            base = np.repeat(np.cumsum(nb) - nb, nb)
            off = np.arange(total) - base
            b_ms = (pos[:-1][gi] + off + 1) * dur_ms
            over = np.zeros(len(nb), dtype=bool) if limit is None \
                else nb > limit
            o = over[gi]
            pms, cms = t_all[:-1][gi], t_all[1:][gi]
            with np.errstate(divide="ignore", invalid="ignore"):
                for f in fields:
                    pv, cv = v_all[f][:-1][gi], v_all[f][1:][gi]
                    if method == "linear":
                        res = pv + (cv - pv) * (b_ms - pms) / (cms - pms)
                        bad = o | np.isnan(pv) | np.isnan(cv)
                    else:
                        res = pv
                        bad = o | np.isnan(pv)
                    out_cols[f] = np.where(bad, np.nan, res)
            t_out = b_ms
        else:
            t_out = np.zeros(0, dtype=np.int64)
            for f in fields:
                out_cols[f] = np.zeros(0)
        if head is not None:
            t_out = np.concatenate(
                [np.array([head[0]], dtype=np.int64), t_out])
            for f in fields:
                out_cols[f] = np.concatenate(
                    [np.array([head[1][f]]), out_cols[f]])
        yield _key_frame(key, keys, len(t_out),
                         {"t_ms": t_out, **{f: out_cols[f]
                                            for f in fields}})

    return fn


def stream_align(
    sdf: DataFrame,
    window: str,
    field_spec: str | Sequence[str] = "value",
    method: str = "linear",
    limit: int | None = None,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Cross-batch stateful align: streaming twin of operators.align.

    Boundary synthesis spans micro-batch boundaries via the carried
    (last_ts, last_values) state, mirroring the reference's persistent Align
    processor (``align.py:60``).
    """
    if method not in ("linear", "hold"):
        raise ValueError(f"align method must be linear|hold, got {method!r}")
    dur = window_duration_ms(window)
    if dur is None:
        raise ValueError(f"align needs a fixed window spec, got {window!r}")
    fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType())]
        + [T.StructField(f, T.DoubleType()) for f in fields],
        [T.StructField("ts", T.LongType())]
        + [T.StructField(f"v{i}", T.DoubleType()) for i in range(len(fields))],
        lambda keys: _align_state_fn(fields, keys, time_col, dur, method,
                                     limit), reads=fields)


def _fill_state_fn(fields: list[str], keys: list[str], time_col: str,
                   method: str, fill_limit: int | None):
    """Streaming fill state machine (reference filler.py semantics):

    - pad: LOCF with a per-column consecutive-fill counter (reset on valid;
      beyond ``fill_limit`` left invalid) — ``filler.py:125-160``;
    - zero: same counter, fills 0;
    - linear: per-column cache of pending invalid rows until the next valid
      value closes the run, then interpolate and emit; a run reaching
      ``fill_limit`` is emitted unfilled and the anchor resets
      (``filler.py:197-276``). Output order across a closed run follows
      event time (rows are emitted when their run closes, append-mode).
    """

    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        n = len(fields)
        if state.exists:
            snap = state.get
            last = list(snap[0:n])
            counts = list(snap[n:2 * n])
            last_ms = list(snap[2 * n:3 * n])
            cache = json.loads(snap[3 * n]) if method == "linear" else \
                [[] for _ in range(n)]
        else:
            last = [None] * n          # last valid value per column
            counts = [0] * n           # consecutive fills per column
            last_ms = [None] * n       # ts of last valid value (linear)
            cache = [[] for _ in range(n)]  # pending (ms, row_id) per column

        rows: dict[int, list] = {}     # ms -> output values per column

        def slot(ms):
            return rows.setdefault(ms, [None] * n)

        t_arr = _t_ms(pdf, time_col)
        v_arrs = [_f64(pdf, f) for f in fields]
        if method in ("pad", "zero") and \
                len(np.unique(t_arr)) == len(t_arr):
            # vectorized LOCF (r11): last-valid index via
            # np.maximum.accumulate; the consecutive-fill counter has
            # the closed form cnt_j = j - last_valid_idx_j, with the
            # carried counter extending a leading invalid run as a
            # virtual valid at index -(1 + carried).  Pure copies and
            # integer compares — no float arithmetic — so output is
            # trivially identical to the loop.  Duplicate timestamps
            # fall through to the sequential slot()-merging path (the
            # legacy per-ms overwrite semantics).
            m = len(t_arr)
            idx = np.arange(m, dtype=np.int64)
            out_cols = {}
            for i in range(n):
                x = v_arrs[i]
                valid = ~np.isnan(x)
                lv = np.where(valid, idx, np.int64(-1))
                np.maximum.accumulate(lv, out=lv)
                has_carry = last[i] is not None
                lastval = np.where(
                    lv >= 0, x[np.clip(lv, 0, None)],
                    last[i] if has_carry else np.nan)
                cnt = np.where(lv >= 0, idx - lv,
                               idx + 1 + int(counts[i] or 0))
                fillable = np.ones(m, dtype=bool) if fill_limit is None \
                    else cnt <= fill_limit
                if method == "zero":
                    fill = np.zeros(m)
                    can = fillable
                else:
                    fill = lastval
                    can = fillable & ~np.isnan(lastval)
                out_cols[fields[i]] = np.where(
                    valid, x, np.where(can, fill, np.nan))
                # end-of-batch state (the loop's exact carry rules)
                if valid[-1]:
                    counts[i] = 0
                elif method == "pad" and np.isnan(lastval[-1]):
                    pass                      # uncounted leading gap
                else:
                    c_end = int(cnt[-1])
                    counts[i] = c_end if fill_limit is None \
                        else min(c_end, int(fill_limit))
                last[i] = None if np.isnan(lastval[-1]) \
                    else float(lastval[-1])
            state.update(tuple(last) + tuple(counts) + tuple(last_ms)
                         + ("",))
            yield _key_frame(key, keys, m, {"t_ms": t_arr, **out_cols})
            return
        for j in range(len(t_arr)):
            ms = int(t_arr[j])
            out = slot(ms)
            for i in range(n):
                v = v_arrs[i][j]
                valid = not np.isnan(v)
                if method in ("pad", "zero"):
                    if valid:
                        v = float(v)
                        last[i] = v
                        counts[i] = 0
                        out[i] = v
                    elif fill_limit is not None and \
                            counts[i] >= fill_limit:
                        out[i] = None
                    elif method == "zero":
                        counts[i] += 1
                        out[i] = 0.0
                    elif last[i] is not None:
                        counts[i] += 1
                        out[i] = last[i]
                    else:
                        out[i] = None
                else:  # linear (single column; rows held until closure)
                    if valid:
                        v = float(v)
                        for c_ms in cache[i]:
                            # close the pending run: emit interpolated
                            frac = (c_ms - last_ms[i]) / (ms - last_ms[i])
                            slot(c_ms)[i] = last[i] + (v - last[i]) * frac
                        cache[i] = []
                        last[i], last_ms[i] = v, ms
                        out[i] = v
                    elif last[i] is None:
                        out[i] = None  # leading gap: emit as-is
                    else:
                        # hold the row until a valid value closes the run
                        rows.pop(ms, None)
                        cache[i].append(ms)
                        if fill_limit is not None and \
                                len(cache[i]) >= fill_limit:
                            # run hit the limit: emit unfilled, reset
                            # anchor (filler.py:240-258)
                            for c_ms in cache[i]:
                                slot(c_ms)[i] = None
                            cache[i] = []
                            last[i], last_ms[i] = None, None
        if method == "linear":
            state.update(tuple(last) + tuple(counts) + tuple(last_ms)
                         + (json.dumps(cache),))
        else:
            state.update(tuple(last) + tuple(counts) + tuple(last_ms)
                         + ("",))
        outs = [list(key) + [ms] + vals for ms, vals in sorted(rows.items())]
        yield pd.DataFrame(outs, columns=keys + ["t_ms"] + fields)

    return fn


def stream_fill(
    sdf: DataFrame,
    field_spec: str | Sequence[str] = "value",
    method: str = "pad",
    fill_limit: int | None = None,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Cross-batch stateful fill: streaming twin of fill().

    pad/zero emit every event immediately (LOCF/zero with the per-column
    consecutive-fill counter); linear (single column, reference
    ``filler.py:107-110``) holds invalid rows in state until a valid value
    closes the run, then emits them interpolated — append-mode rows may
    therefore arrive out of event-time order, and a trailing unclosed run
    stays in state (the reference's flush-on-stop drains it; use a real
    timeout policy in production streams).
    """
    if method not in ("pad", "zero", "linear"):
        raise ValueError(f"fill method must be pad|zero|linear, got {method!r}")
    fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
    if method == "linear" and len(fields) != 1:
        raise ValueError("streaming linear fill takes a single column "
                         "(reference filler.py:107-110)")
    n = len(fields)
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType())]
        + [T.StructField(f, T.DoubleType()) for f in fields],
        [T.StructField(f"v{i}", T.DoubleType()) for i in range(n)]
        + [T.StructField(f"c{i}", T.LongType()) for i in range(n)]
        + [T.StructField(f"t{i}", T.LongType()) for i in range(n)]
        + [T.StructField("cache", T.StringType())],
        lambda keys: _fill_state_fn(fields, keys, time_col, method,
                                    fill_limit), reads=fields)


def stream_fill_pad(
    sdf: DataFrame,
    field_spec: str | Sequence[str] = "value",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Back-compat alias: LOCF fill (see stream_fill)."""
    return stream_fill(sdf, field_spec, "pad", None, partition_by, time_col)


def _fold_state(sdf: DataFrame, partition_by: Sequence[str], time_col: str,
                tiebreak: str | None, carry_cols: Sequence[str],
                out_names: list[str], state_fields: list, fields: list[str],
                fold, fresh) -> DataFrame:
    """The stream side of the float-state smoothing twins (ewma, holt,
    holt_winters): ``_keyed_state`` whose step runs the batch operator's
    ``fold([float64 array per field], state) -> (outputs, state)`` over the
    group from the carried state (``fresh`` for a new key), as
    ``_keyed_scan`` runs it over a batch run. Output is ``t_ms``,
    ``carry_cols`` and one double per ``out_names``."""
    carry = list(carry_cols)

    def make_step(keys):
        def fn(key, pdf: pd.DataFrame, state: _KeyState):
            outs, st = fold([_f64(pdf, f) for f in fields],
                            state.get if state.exists else fresh)
            state.update(st)
            yield _key_frame(key, keys, len(pdf), {
                "t_ms": _t_ms(pdf, time_col),
                **{c: pdf[c].array for c in carry},
                **dict(zip(out_names, outs))})
        return fn

    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType())]
        + [sdf.schema[c] for c in carry]
        + [T.StructField(n, T.DoubleType()) for n in out_names],
        state_fields, make_step, tiebreak, carry, fields)


def stream_ewma(
    sdf: DataFrame,
    field_spec: str | Sequence[str] = "value",
    alpha: float = 0.5,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    tiebreak: str | None = None,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Cross-batch EWMA: the streaming twin of ``operators.rolling.ewma``.

    State per series key is just the current accumulator per field, so the
    state store is O(keys), independent of event volume; the recurrence is
    the batch operator's kernel, so draining a stream and running the
    batch op on the same data agree bit-for-bit — provided
    equal-timestamp events are impossible or ``tiebreak=`` (same contract
    as the batch operator) pins their fold order on both sides.
    """
    fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
    return _fold_state(
        sdf, partition_by, time_col, tiebreak, carry_cols,
        [f"{f}_ewma" for f in fields],
        [T.StructField(f"s{i}", T.DoubleType()) for i in range(len(fields))],
        fields, lambda xs, accs: _ewma_fold(xs, alpha, accs),
        [np.nan] * len(fields))


def stream_holt(
    sdf: DataFrame,
    field: str = "value",
    alpha: float = 0.5,
    beta: float = 0.5,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    tiebreak: str | None = None,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Cross-batch Holt double exponential smoothing: the streaming twin
    of ``operators.rolling.holt``. State per series key is TWO doubles
    (level, trend) — O(keys) state store regardless of event volume; the
    recurrence is the batch operator's kernel, so a drained stream and
    the batch op agree bit-for-bit (same tiebreak contract as
    stream_ewma).
    """
    return _fold_state(
        sdf, partition_by, time_col, tiebreak, carry_cols,
        [f"{field}_level", f"{field}_trend"],
        [T.StructField("l", T.DoubleType()),
         T.StructField("b", T.DoubleType())],
        [field], lambda xs, st: _holt_fold(xs[0], alpha, beta, st),
        (np.nan, np.nan))


def stream_holt_winters(
    sdf: DataFrame,
    field: str = "value",
    period: int = 24,
    alpha: float = 0.5,
    beta: float = 0.5,
    gamma: float = 0.5,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    tiebreak: str | None = None,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Cross-batch Holt-Winters additive smoothing: the streaming twin
    of ``operators.rolling.holt_winters``. State per series key is
    (level, trend, last-seasonal, phase count, seasonal[period]) —
    O(period) per key, flat in event volume; the recurrence is the
    batch operator's kernel (same zero-init seasonal, same
    sample-indexed phase), so a drained stream agrees bit-for-bit for
    dyadic coefficients.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    return _fold_state(
        sdf, partition_by, time_col, tiebreak, carry_cols,
        [f"{field}_level", f"{field}_trend", f"{field}_seasonal"],
        [T.StructField("l", T.DoubleType()),
         T.StructField("b", T.DoubleType()),
         T.StructField("sv", T.DoubleType()),
         T.StructField("k", T.LongType()),
         T.StructField("seas", T.ArrayType(T.DoubleType()))],
        [field],
        lambda xs, st: _hw_fold(xs[0], period, alpha, beta, gamma, st),
        (np.nan, np.nan, np.nan, 0, [0.0] * period))


_STREAM_ROLLING_FUNCS = ("sum", "avg", "min", "max", "count", "stddev",
                         "median", "difference")


def _np_agg(func: str, arr: "np.ndarray", flt: str):
    """Rolling reducers (the Python twin of operators/rolling.py:_over)
    over a float64 window slice (NaN = missing). Matches the batch
    window semantics: reducers ignore missing values (zero_missing
    rewrites them to 0 first), empty frames yield NULL (count yields 0),
    stddev is population, median interpolates even counts. Sums fold in
    time order — ``np.cumsum`` is a sequential left-to-right
    accumulation (every prefix is emitted), the same order Spark's
    RANGE-frame recompute uses, so sum/avg agree bit-for-bit with the
    batch operator. stddev's squared deviations are one
    correctly-rounded multiply each (``d*d``; CPython's ``d**2`` goes
    through libm pow and can differ in the last ulp) — within 1 ulp of
    any other one-op square, and all stddev consumers compare at 6dp
    (driver oracles) or 1e-12 (parity tests)."""
    import math
    if flt == "zero_missing":
        valid = np.where(np.isnan(arr), 0.0, arr)
    else:
        valid = arr[~np.isnan(arr)]
    n = valid.size
    if func == "count":
        return n
    if not n:
        return None
    if func == "sum":
        return float(np.cumsum(valid)[-1])
    if func == "avg":
        return float(np.cumsum(valid)[-1] / n)
    if func == "min":
        return float(valid.min())
    if func == "max":
        return float(valid.max())
    if func == "difference":
        return float(valid.max() - valid.min())
    if func == "stddev":
        m = np.cumsum(valid)[-1] / n
        return math.sqrt(np.cumsum((valid - m) ** 2)[-1] / n)
    if func == "median":
        s = np.sort(valid)
        return (float(s[n // 2]) if n % 2
                else (s[n // 2 - 1] + s[n // 2]) / 2.0)
    raise ValueError(f"streaming rolling does not support reducer {func!r}")


def _buffer_state_fn(rows_spec, keys: list[str], time_col: str, dur_ms: int,
                     zscore_threshold: float | None,
                     carry: Sequence[str] = ()):
    """Shared state fn for stream_rolling / stream_zscore: per-key buffer
    of (t_ms, values) trimmed to the trailing window, serialized as one
    JSON state string (state size = events-per-window per key, not event
    volume). Events are processed one distinct timestamp at a time so
    equal-timestamp peers see exactly the batch RANGE-frame semantics:
    rolling includes all peers of the current ms, zscore excludes them.
    ``carry`` columns pass through per row (e.g. an event id), so stream
    output can line up row-for-row with the batch twin's."""
    in_cols = list(dict.fromkeys(r[1] for r in rows_spec))

    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        """Vectorized (r10): the buffer and batch concatenate into one
        sorted int64/float64 array pair; every distinct timestamp's
        window is a contiguous slice located by ONE vectorized
        searchsorted over all runs (the old per-ts head-scan eviction
        and list `del` are gone), aggregated by :func:`_np_agg` whose
        cumsum folds are bit-identical to the old Python sums. Python
        re-enters once per DISTINCT timestamp (the windows genuinely
        differ), not once per row; per-row work (carry passthrough,
        z-scores, run broadcast) is numpy repeat/elementwise."""
        if state.exists:
            d = json.loads(state.get[0])
        else:
            d = {"t": [], **{c: [] for c in in_cols}}
        n = len(pdf)
        t_new = _t_ms(pdf, time_col)
        t_all = np.concatenate([np.asarray(d["t"], dtype=np.int64), t_new])
        v_all = {c: np.concatenate([
            np.array([np.nan if x is None else x for x in d[c]],
                     dtype=np.float64),
            _f64(pdf, c)]) for c in in_cols}
        # distinct-timestamp runs of the batch, and each run's window
        # slice bounds over the combined array: (t-dur, t] for rolling,
        # (t-dur, t) for zscore (equal-ts peers excluded, wherever they
        # arrived — the batch RANGE-frame rule)
        starts = np.nonzero(np.r_[True, t_new[1:] != t_new[:-1]])[0]
        lens = np.diff(np.r_[starts, n])
        tu = t_new[starts]
        lo = np.searchsorted(t_all, tu - dur_ms, side="right")
        hi = np.searchsorted(t_all, tu, side="right")
        lim = np.searchsorted(t_all, tu, side="left")
        out_cols = {"t_ms": t_new}
        for c in carry:
            out_cols[c] = pdf[c].array
        if zscore_threshold is None:
            per_run = {out: [] for out, _i, _f, _fl in rows_spec}
            for r in range(len(tu)):
                for out, in_col, func, flt in rows_spec:
                    per_run[out].append(
                        _np_agg(func, v_all[in_col][lo[r]:hi[r]], flt))
            for out, _i, func, _fl in rows_spec:
                vals = per_run[out]
                if func == "count":
                    out_cols[out] = np.repeat(
                        np.array(vals, dtype=np.int64), lens)
                else:
                    out_cols[out] = np.repeat(np.array(
                        [np.nan if v is None else v for v in vals],
                        dtype=np.float64), lens)
        else:
            mu_run = {c: np.empty(len(tu)) for c in in_cols}
            sd_run = {c: np.empty(len(tu)) for c in in_cols}
            for r in range(len(tu)):
                for c in in_cols:
                    w = v_all[c][lo[r]:lim[r]]
                    m = _np_agg("avg", w, "ignore_missing")
                    s = _np_agg("stddev", w, "ignore_missing")
                    mu_run[c][r] = np.nan if m is None else m
                    sd_run[c][r] = np.nan if s is None else s
            for _o, in_col, _f, _fl in rows_spec:
                x = v_all[in_col][-n:]
                mu = np.repeat(mu_run[in_col], lens)
                sd = np.repeat(sd_run[in_col], lens)
                bad = np.isnan(x) | np.isnan(sd) | (sd == 0)
                with np.errstate(divide="ignore", invalid="ignore"):
                    z = np.where(bad, np.nan, (x - mu) / sd)
                out_cols[in_col] = x
                out_cols[f"{in_col}_zscore"] = z
                out_cols[f"{in_col}_anomaly"] = (
                    ~np.isnan(z) & (np.abs(z) > zscore_threshold))
        # state: everything still inside the LAST timestamp's window,
        # current ms included — exactly the old progressive eviction's
        # end state on sorted times
        keep = int(np.searchsorted(t_all, tu[-1] - dur_ms, side="right"))
        state.update((json.dumps(
            {"t": [int(x) for x in t_all[keep:]],
             **{c: [None if np.isnan(x) else float(x)
                    for x in v_all[c][keep:]] for c in in_cols}}),))
        yield _key_frame(key, keys, n, out_cols)

    return fn


def stream_rolling(
    sdf: DataFrame,
    window: str,
    aggregation: dict,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Cross-batch trailing-window aggregates: the streaming twin of
    ``operators.rolling.rolling`` — every event carries the aggregate of
    its series over ``(t - window, t]`` (current ms included).
    ``carry_cols`` pass through per row so output can line up
    row-for-row with the batch operator's.

    Trailing windows only look backward, so the operator is streaming-safe
    by construction. State per key is the event buffer of the last
    ``window`` milliseconds — O(events-per-window), not event volume.
    Agrees with the batch operator when events arrive time-ordered across
    micro-batches and equal-timestamp runs don't straddle a batch boundary
    (an already-emitted row cannot be revised in append mode).

    Reducer set: sum/avg/min/max/count/stddev/median/difference with the
    pre-aggregate missing-value filters; first/last/percentile have no
    bounded-state streaming form here and raise.
    """
    from ..functions import normalize_agg_spec
    from ..operators.rolling import _ROLLING_FILTERS
    dur_ms = window_duration_ms(window)
    if dur_ms is None:
        raise ValueError(f"stream_rolling needs a fixed window, got {window!r}")
    rows_spec = normalize_agg_spec(aggregation)
    for out, _in, func, flt in rows_spec:
        if not isinstance(func, str) or func not in _STREAM_ROLLING_FUNCS:
            raise ValueError(
                f"stream_rolling supports {_STREAM_ROLLING_FUNCS}, got "
                f"{func!r} for {out!r}")
        if flt not in _ROLLING_FILTERS:
            raise ValueError(
                f"stream_rolling supports filters {_ROLLING_FILTERS}, "
                f"got {flt!r} for {out!r}")
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType())]
        + [sdf.schema[c] for c in carry_cols]
        + [T.StructField(out,
                         T.LongType() if func == "count" else T.DoubleType())
           for out, _in, func, _fl in rows_spec],
        [T.StructField("buf", T.StringType())],
        lambda keys: _buffer_state_fn(rows_spec, keys, time_col, dur_ms,
                                      None, list(carry_cols)),
        exact=carry_cols, reads=[r[1] for r in rows_spec])


def stream_zscore(
    sdf: DataFrame,
    field_spec: str | Sequence[str] = "value",
    window: str = "10m",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    threshold: float = 3.0,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Cross-batch trailing-window anomaly scores: the streaming twin of
    ``operators.rolling.zscore`` with a ``window=`` (the whole-series
    variant needs future data and has no streaming form).

    Matches the batch semantics exactly: each event scores against the
    trailing window EXCLUDING the current millisecond (equal-ms peers
    cannot vouch for each other), population stddev, NULL z-score (and
    ``false`` anomaly) for zero-variance or empty windows. Exclusion of
    the current ms makes the operator exact across micro-batch boundaries
    even when equal-timestamp events straddle one.

    Output: series keys, ``t_ms``, and per field the value, ``<f>_zscore``
    and ``<f>_anomaly``.
    """
    fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
    dur_ms = window_duration_ms(window)
    if dur_ms is None:
        raise ValueError(f"stream_zscore needs a fixed window, got {window!r}")
    rows_spec = [(f, f, "zscore", "ignore_missing") for f in fields]
    per_field = []
    for f in fields:
        per_field += [T.StructField(f, T.DoubleType()),
                      T.StructField(f"{f}_zscore", T.DoubleType()),
                      T.StructField(f"{f}_anomaly", T.BooleanType())]
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType())]
        + [sdf.schema[c] for c in carry_cols] + per_field,
        [T.StructField("buf", T.StringType())],
        lambda keys: _buffer_state_fn(rows_spec, keys, time_col, dur_ms,
                                      float(threshold), list(carry_cols)),
        exact=carry_cols, reads=fields)


def stream_exact_dedup(
    sdf: DataFrame,
    text_col: str = "text",
    time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication: first occurrence of each content
    digest passes, later duplicates are dropped — across micro-batches.

    This is the ingestion-side twin of ``datapipe.dedup.exact_duplicates``:
    a crawler stream dedups as documents arrive instead of re-scanning the
    corpus. Built on ``dropDuplicates`` over an md5 digest column, which
    Structured Streaming implements with a keyed state store, so the
    "seen" set survives micro-batch boundaries and executor restarts
    (checkpointed).

    State size bounds: without a watermark the seen-digest state grows
    forever (exact global dedup — the reference-semantics default). Pass
    ``time_col`` + ``watermark`` (e.g. ``"24 hours"``) to bound state:
    duplicates are then only suppressed within the watermark horizon,
    trading unbounded memory for windowed dedup — the standard production
    compromise.
    """
    out = sdf.withColumn("__digest", F.md5(F.col(text_col)))
    if watermark is not None:
        if time_col is None:
            raise ValueError("watermark needs time_col")
        out = out.withWatermark(time_col, watermark)
        return out.dropDuplicatesWithinWatermark(["__digest"]) \
            .drop("__digest")
    return out.dropDuplicates(["__digest"]).drop("__digest")


def stream_distinct_counts(
    sdf: DataFrame,
    key_col: str,
    window: str = "1h",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Streaming exact distinct-count per window (x group): TWO chained
    stateful operators — ``dropDuplicates`` on (group, key, bucket)
    feeds a windowed count — which Spark 4 executes as two keyed state
    stores in one query. A key seen again in a LATER micro-batch of the
    same bucket is still suppressed (that is the state store's job), so
    the drained result is exactly the batch ``count_distinct`` — the
    oracle is that batch SQL verbatim.

    State honesty at 100 TB: the dedup store holds one entry per
    DISTINCT (group, key, bucket) — same asymptotics as the batch
    count_distinct shuffle, but resident until the bucket is evicted;
    bound it with a watermark on ingestion or fall back to
    ``approx_count_distinct`` (sketch state) when key cardinality per
    bucket is unbounded. Drain with output mode ``complete``.
    """
    dur = window_duration_ms(window)
    if dur is None:
        raise ValueError(f"window needs a fixed window spec, got {window!r}")
    keys = list(partition_by)
    bucket = F.timestamp_millis(
        (F.floor(F.unix_millis(F.col(time_col)) / F.lit(dur))
         * F.lit(dur)).cast("long"))
    dd = (sdf.withColumn("__bucket", bucket)
          .dropDuplicates([*keys, key_col, "__bucket"]))
    return (dd.groupBy("__bucket", *keys)
            .agg(F.count("*").alias(f"u_{key_col}"))
            .withColumnRenamed("__bucket", "begin"))


def _drain_available_now(spark: SparkSession,
                         writer: DataStreamWriter) -> StreamingQuery:
    """Drain ``writer`` at the state width (module docstring)."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(min(shuffle_width(spark),
                                spark.sparkContext.defaultParallelism)))
    try:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
    finally:
        spark.conf.set(key, prev)
    return query


def run_available_now(sdf: DataFrame, output_mode: str,
                      name: str | None = None) -> DataFrame:
    """Drain all available input through a memory sink (the test/flush path:
    the reference's ``stop()``-flushes-everything protocol)."""
    name = name or f"q_{uuid.uuid4().hex[:8]}"
    _drain_available_now(sdf.sparkSession, sdf.writeStream.format("memory")
                         .queryName(name).outputMode(output_mode))
    return sdf.sparkSession.table(name)


class StreamPipeline:
    """Fluent streaming mirror of Pipeline (unbounded sources)."""

    def __init__(self, sdf: DataFrame, time_col: str = "time"):
        if not sdf.isStreaming:
            raise ValueError("StreamPipeline needs a streaming DataFrame")
        self._sdf = sdf
        self._time_col = time_col
        self._window: str | None = None
        self._groups: list[str] = []
        self._emit = "eachEvent"
        self._watermark: str | None = None

    def window_by(self, window: str) -> "StreamPipeline":
        self._window = window
        return self

    def with_watermark(self, delay: str) -> "StreamPipeline":
        """Opt into a real late-data horizon for ``discard`` rollups
        (SURVEY §2.9): a window stays open for ``delay`` (e.g.
        ``"1 hour"``) of event time past its end and late events within
        the horizon are aggregated.  Documented improvement over the
        reference's close-on-next-event rule (io/output.py discard
        trigger) — the default stays the reference's strictness (0s:
        any event past a window boundary closes it and later arrivals
        for it are dropped)."""
        self._watermark = delay
        return self

    def group_by(self, key: str | Sequence[str]) -> "StreamPipeline":
        self._groups = [key] if isinstance(key, str) else list(key)
        return self

    def emit_on(self, trigger: str) -> "StreamPipeline":
        if trigger not in OUTPUT_MODE:
            raise ValueError(f"bad emit_on trigger {trigger!r}")
        self._emit = trigger
        return self

    def filter(self, predicate) -> "StreamPipeline":
        self._sdf = self._sdf.where(predicate)
        return self

    def aggregate(self, spec: dict) -> tuple[DataFrame, str]:
        if self._window is None:
            raise ValueError("streaming aggregate needs window_by()")
        return windowed_stream_aggregate(
            self._sdf, spec, self._window, self._groups or None,
            self._time_col, self._emit, watermark=self._watermark)

    def rate(self, field_spec="value", allow_negative=True,
             counter_wrap: int | float | None = None) -> DataFrame:
        return stream_rate(self._sdf, field_spec, self._groups,
                           self._time_col, allow_negative, counter_wrap)

    def find_gaps(self, min_gap: str | int = "15m") -> DataFrame:
        return stream_gaps(self._sdf, min_gap, self._groups, self._time_col)

    def sessions(self, window: str | int = "1h") -> DataFrame:
        return stream_sessions(self._sdf, window, self._groups,
                               self._time_col)

    def distinct_counts(self, key_col: str,
                        window: str = "1h") -> DataFrame:
        """Drain with output mode ``complete``."""
        return stream_distinct_counts(self._sdf, key_col, window,
                                      self._groups, self._time_col)

    def holt_winters(self, field: str = "value", period: int = 24,
                     alpha: float = 0.5, beta: float = 0.5,
                     gamma: float = 0.5,
                     carry_cols: Sequence[str] = ()) -> DataFrame:
        return stream_holt_winters(self._sdf, field, period, alpha,
                                   beta, gamma, self._groups,
                                   self._time_col,
                                   carry_cols=carry_cols)

    def align(self, window: str, field_spec="value", method="linear",
              limit=None) -> DataFrame:
        return stream_align(self._sdf, window, field_spec, method, limit,
                            self._groups, self._time_col)

    def fill(self, field_spec="value", method="pad",
             fill_limit=None) -> DataFrame:
        return stream_fill(self._sdf, field_spec, method, fill_limit,
                           self._groups, self._time_col)

    def fill_pad(self, field_spec="value") -> DataFrame:
        return stream_fill_pad(self._sdf, field_spec, self._groups,
                               self._time_col)

    def rolling(self, window: str, aggregation: dict,
                carry_cols: Sequence[str] = ()) -> DataFrame:
        return stream_rolling(self._sdf, window, aggregation,
                              self._groups, self._time_col, carry_cols)

    def zscore(self, field_spec="value", window: str = "10m",
               threshold: float = 3.0,
               carry_cols: Sequence[str] = ()) -> DataFrame:
        return stream_zscore(self._sdf, field_spec, window, self._groups,
                             self._time_col, threshold, carry_cols)

    def ewma(self, field_spec="value", alpha: float = 0.5,
             tiebreak: str | None = None,
             carry_cols: Sequence[str] = ()) -> DataFrame:
        return stream_ewma(self._sdf, field_spec, alpha, self._groups,
                           self._time_col, tiebreak, carry_cols)

    def cumulative(self, aggregation: dict, tiebreak: str | None = None,
                   carry_cols: Sequence[str] = ()) -> DataFrame:
        return stream_cumulative(self._sdf, aggregation, self._groups,
                                 self._time_col, tiebreak, carry_cols)


def _first_seen_claims(sdf: DataFrame, key_col: str,
                       payload_cols: Sequence[str], order_col: str,
                       ttl, time_col: str, late: str,
                       keyed=None) -> DataFrame:
    """The shell of the three claim gates: validate the claim-TTL
    options, key the frame, and run the claim step over
    :func:`_bucketed_state`.

    ``keyed(carry)`` builds the claim-keyed frame from ``sdf``, passing
    the ``carry`` columns through (the event-time column when ``ttl``
    is set); without it ``sdf`` is keyed as is.  Both TTL checks run
    before ``keyed`` is called, so a frame with no event-time column
    gets the contract error below, not a KeyError from a carry-schema
    build.  Output: ``key_col`` + ``payload_cols``, typed as in the
    keyed frame.

    The step is vectorized over the bucket: the first row of each key
    run (sorted by ``order_col``, stable) is emitted for a key the table
    does not hold yet, and every key with rows is stored.  With a TTL
    its deadline is ttl past the key's newest sighting, never earlier
    than the stored one, and above the watermark (Spark rejects a timer
    at or below it).  The TTL is event time, not processing time: a
    processing-time timeout keeps ``shouldRunAnotherBatch`` true, so an
    ``availableNow`` drain never ends, and wall-clock expiry would not
    replay.
    """
    ms = None
    state_fields = []
    if ttl is not None:
        ms = ttl if isinstance(ttl, int) else window_duration_ms(ttl)
        if not ms or ms <= 0:
            raise ValueError(
                f"ttl must be a positive duration, got {ttl!r}")
        if time_col not in sdf.columns:
            raise ValueError(
                f"ttl needs event-time column {time_col!r} in the frame "
                f"(claim expiry is watermark-bounded)")
        state_fields.append(T.StructField("deadline", T.LongType()))
    if keyed is not None:
        sdf = keyed((time_col,) if ms is not None else ())
    cols = [key_col, *payload_cols]
    out_schema = T.StructType([sdf.schema[c] for c in cols])
    if ms is not None:
        sdf = sdf.withWatermark(time_col, late)
    sdf = sdf.select(*dict.fromkeys([*cols, order_col,
                                     *([time_col] if ms else [])]))

    def claim(pdf, starts, _keys, prior, wm):
        fresh = np.array([p is None for p in prior])
        frames = [pdf.iloc[starts[fresh]][cols]]
        if ms is None:
            return frames, [() if f else None for f in fresh]
        dl = np.maximum.reduceat(_t_ms(pdf, time_col), starts) + ms
        return frames, [(max(int(d), p[0] if p else 0, wm + 1),)
                        for d, p in zip(dl, prior)]

    return _bucketed_state(sdf, [key_col], [order_col], payload_cols,
                           out_schema, state_fields, claim, ms is not None)


def stream_first_seen(sdf: DataFrame, key_col: str = "digest",
                      payload_cols: Sequence[str] = ("doc_id",),
                      order_col: str = "doc_id",
                      ttl: str | int | None = None,
                      time_col: str = "time",
                      late: str = "0 seconds") -> DataFrame:
    """Cross-batch first-occurrence keeper: the streaming ingestion
    dedup — the first row per ``key_col`` ever seen is emitted (ties
    within a micro-batch break to the smallest ``order_col``), every
    later occurrence in ANY micro-batch is suppressed.

    State is ONE row per distinct key in its bucket's state table — the
    honest cost of exact streaming dedup is O(distinct keys), which grows
    MONOTONICALLY over an unbounded stream.  ``ttl`` bounds it: a claim
    expires once the stream's event-time watermark (over ``time_col``,
    lateness allowance ``late``) passes the key's newest sighting +
    ``ttl`` (window string or ms) — a SLIDING window re-armed by every
    arrival (claimed or suppressed) — and the expired key is deleted
    from its bucket's table.  The
    documented trade: a duplicate arriving more than ``ttl`` of event
    time after its key's last traffic is RE-ADMITTED (emitted again) —
    exact dedup within the horizon, bounded state beyond it, the same
    retention contract as a windowed-restart pipeline but without the
    restart.  Every micro-batch rewrites each state bucket it touches,
    so a batch touching few of many claimed keys writes the whole table
    (SCALE.md, "State buckets": 1M claims, 100 touched, ~10 MB per
    batch); a claim table that large wants ``ttl``, and at corpus scale
    the Bloom prefilter (``datapipe.sketch.bloom_build`` over
    yesterday's corpus) so only maybe-seen keys reach the stateful
    operator.  Append mode: each admitted row emits exactly once per
    claim epoch, so the sink IS the deduped corpus (dedup the sink
    offline if ``ttl`` re-admits matter downstream).
    ``_first_seen_claims`` says why the TTL is event time.
    """
    return _first_seen_claims(sdf, key_col, payload_cols, order_col, ttl,
                              time_col, late)


def _cusum_state_fn(field: str, keys: list[str], time_col: str,
                    t_mic: int, k_mic: int, h_mic: int):
    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        """Vectorized: the clipped recurrence s_j = max(0, s_{j-1} + a_j)
        has the closed form s_j = P_j - min(0, runmin(P)_j) with
        P = s_0 + cumsum(a) (the same identity the batch operator uses,
        __spark_entry__ cusum oracle), so whole alarm-free stretches are
        two int64 cumsums; Python re-enters only once per ALARM (reset
        to 0 breaks the closed form there, like xchart's firing events).
        All arithmetic is exact int64 micro-units -> outputs identical
        to the former per-row fold by construction. Per-element
        ``round(round(v, 6) * 1e6)`` stays Python: decimal
        correctly-rounded round() has no numpy twin (np.round scales by
        1e6 in float space — the documented half-even trap)."""
        sp, sn = state.get if state.exists else (0, 0)
        v = _f64(pdf, field)
        ok = ~np.isnan(v)
        t = _t_ms(pdf, time_col)[ok]
        m = np.fromiter((int(round(round(x, 6) * 1e6)) for x in v[ok]),
                        dtype=np.int64, count=int(ok.sum()))
        a_p = (m - t_mic) - k_mic       # + side increments
        a_n = (t_mic - m) - k_mic       # - side increments
        # overflow guard (r10 review): the carried side never exceeds
        # h (it resets above), so the block prefix sum is bounded by
        # h + blk*max|increment| — the old Python-int fold was exact at
        # any magnitude, the int64 cumsum would WRAP silently instead.
        # 2048 increments of |a| <= 2^51 stay ~2^62 < 2^63: plenty for
        # any physical series (|value| < 2.2e9 at 1e-6 resolution);
        # beyond that, fail loudly with the rescale hint.
        if len(m) and max(int(np.abs(a_p).max()),
                          int(np.abs(a_n).max())) > (1 << 51):
            raise ValueError(
                "stream_cusum: |value - target| too large for exact "
                "micro-unit arithmetic (>~2.2e9 above the target); "
                "rescale the series or move the target")
        outs_t, outs_dir, outs_stat = [], [], []
        i, n = 0, len(m)
        # blocked: an alarm resets the fold, so the closed form restarts
        # after each one — bounding the restart to a 2048-element block
        # keeps dense-alarm batches O(n + alarms*B) instead of the
        # quadratic O(alarms * n) a whole-suffix recompute would cost
        blk = 2048
        while i < n:
            e = min(i + blk, n)
            p = sp + np.cumsum(a_p[i:e])
            q = sn + np.cumsum(a_n[i:e])
            sp_arr = p - np.minimum(np.minimum.accumulate(p), 0)
            sn_arr = q - np.minimum(np.minimum.accumulate(q), 0)
            alarm = (sp_arr > h_mic) | (sn_arr > h_mic)
            j = int(np.argmax(alarm)) if alarm.any() else -1
            if j < 0:
                sp, sn = int(sp_arr[-1]), int(sn_arr[-1])
                i = e
                continue
            sp1, sn1 = int(sp_arr[j]), int(sn_arr[j])
            up = sp1 >= sn1
            outs_t.append(int(t[i + j]))
            outs_dir.append("up" if up else "down")
            outs_stat.append(round((sp1 if up else sn1) / 1e6, 6))
            sp = sn = 0
            i += j + 1
        state.update((sp, sn))
        yield _key_frame(key, keys, len(outs_t),
                         {"t_ms": np.array(outs_t, dtype=np.int64),
                          "direction": np.array(outs_dir, dtype=object),
                          "stat": np.array(outs_stat, dtype=np.float64)})

    return fn


def stream_cusum(
    sdf: DataFrame,
    field: str = "value",
    target: float = 0.0,
    k: float = 0.5,
    h: float = 5.0,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    tiebreak: str | None = None,
) -> DataFrame:
    """Cross-batch per-event CUSUM drift detector (Page 1954): the
    streaming twin of :func:`pypond_spark.operators.changepoint.
    cusum_changepoints` in its explicit-``target`` form — streaming
    monitoring cannot self-reference a final mean, so the reference
    level is a parameter (the previous corpus' mean, an SLO level).

    Each event (in event-time order, ``tiebreak`` pinning equal
    timestamps) updates the two one-sided sums in INTEGER micro-units
    — identical arithmetic to the batch fold, so draining a stream
    equals the batch replay bit-for-bit; alarms emit as append-mode
    rows ``(*keys, t_ms, direction, stat)`` and both sides restart at
    0 after each alarm.

    State is TWO longs per series key — O(keys), independent of event
    volume; at 100 TB this is the cheapest stateful operator in the
    engine (cf. ``stream_ewma``'s one double per field).
    """
    t_mic = int(round(float(target) * 1e6))
    k_mic = int(round(float(k) * 1e6))
    h_mic = int(round(float(h) * 1e6))
    if max(abs(t_mic), abs(k_mic), abs(h_mic)) > (1 << 51):
        raise ValueError("stream_cusum: |target|/k/h above ~2.2e9 "
                         "overflow exact micro-unit arithmetic; "
                         "rescale the series")
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType()),
         T.StructField("direction", T.StringType()),
         T.StructField("stat", T.DoubleType())],
        [T.StructField("sp", T.LongType()), T.StructField("sn", T.LongType())],
        lambda keys: _cusum_state_fn(field, keys, time_col, t_mic, k_mic,
                                     h_mic), tiebreak, reads=[field])


# ---------------------------------------------------------------------------
# streaming near-duplicate (SimHash) ingestion gate
# ---------------------------------------------------------------------------

def simhash_rowwise(sdf: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    carry_cols: Sequence[str] = ()) -> DataFrame:
    """Stateless per-row SimHash for streaming frames — the batch
    ``simhash64`` is an explode + per-doc aggregate, which on a stream
    would be a streaming aggregation and could not feed a downstream
    stateful operator in append mode; this Arrow-batched ``mapInPandas``
    computes the identical halves row-locally instead (same md5 token
    hashes, same ±1 fold), trading the JVM codegen path for
    chain-ability.  Output: ``(id_col, *carry_cols, sim_hi,
    sim_lo)`` — ``carry_cols`` pass through untouched (the TTL'd gates
    thread the event-time column through here)."""
    carry = list(carry_cols)
    out_schema = T.StructType([sdf.schema[id_col]]
                              + [sdf.schema[c] for c in carry]
                              + [T.StructField("sim_hi", T.LongType()),
                                 T.StructField("sim_lo", T.LongType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized row-wise SimHash (r15, guide §4.2): tokenize per
        # doc with the shared word-token law (py_word_tokens), md5 only
        # the batch-chunk's UNIQUE tokens (C md5; corpus words repeat, so
        # this is ~10x fewer digests), unpack each 64-bit hash into a
        # ±1 bit row once per unique token, then gather + segment-sum
        # per doc (np.add.reduceat over doc offsets) and take signs.
        # Identical outputs by construction: same per-token hash, same
        # ±1 fold, same >0 sign rule, token-less docs dropped.  Chunked
        # at 2048 docs to bound the (tokens x 64) gather matrix.
        import hashlib
        md5 = hashlib.md5
        cap = 1 << 20
        shifts = np.arange(64, dtype=np.uint64)
        pow_lo = (1 << np.arange(32, dtype=np.uint64)).astype(np.int64)

        def chunk_rows(pdf: pd.DataFrame):
            tok_lists = [py_word_tokens(txt)[:cap]
                         for txt in pdf[text_col]]
            counts = np.array([len(t) for t in tok_lists])
            keep = counts > 0  # token-less docs: batch parity (dropped)
            if not keep.any():
                return pdf.iloc[:0], None, None
            flat = [t for toks in tok_lists for t in toks]
            uniq, inv = np.unique(np.asarray(flat, dtype=object),
                                  return_inverse=True)
            hs = np.empty(len(uniq), dtype=np.uint64)
            for j, t in enumerate(uniq):
                hs[j] = int.from_bytes(md5(t.encode("utf-8"))
                                       .digest()[:8], "big")
            # ±1 per bit, one row per UNIQUE token, gathered per token
            ubits = (((hs[:, None] >> shifts[None, :]) & 1)
                     .astype(np.int32) * 2 - 1)
            # segment starts of the KEPT docs only: each is < len(flat)
            # and strictly increasing, and a kept doc's segment runs to
            # the next kept start (token-less docs between add nothing)
            starts = np.concatenate([[0], np.cumsum(counts)[:-1]])[keep]
            sums = np.add.reduceat(ubits[inv], starts)
            pos = (sums > 0)
            lo = pos[:, :32] @ pow_lo
            hi = pos[:, 32:] @ pow_lo
            return pdf[keep], hi, lo

        for pdf in batches:
            for s in range(0, len(pdf), 2048):
                sub = pdf.iloc[s:s + 2048]
                if not len(sub):
                    continue
                kept, hi, lo = chunk_rows(sub)
                out = {id_col: kept[id_col].values}
                for c in carry:
                    out[c] = kept[c].values
                out["sim_hi"] = (hi if hi is not None
                                 else np.empty(0, dtype=np.int64))
                out["sim_lo"] = (lo if lo is not None
                                 else np.empty(0, dtype=np.int64))
                yield pd.DataFrame(out)

    return sdf.mapInPandas(run, out_schema)


def stream_simhash_dedup(sdf: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         n_bands: int = 4,
                         ttl: str | int | None = None,
                         time_col: str = "time",
                         late: str = "0 seconds") -> DataFrame:
    """Streaming NEAR-duplicate ingestion gate — the near-dup
    counterpart of :func:`stream_first_seen`: each document's 64-bit
    SimHash is cut into ``n_bands`` equal band keys; per band key the
    FIRST document ever seen claims it (one state-table row per
    claimed band key), and every later document hitting that key is
    suppressed on it.  Append-mode output is the claim table
    ``(band, doc_id)``: a document that claims no band is a near-dup of
    earlier traffic (every one of its bands was already taken) and is
    dropped by the gate; distinct claimed doc_ids ARE the admitted
    corpus.  Ties inside a micro-batch break to the smallest id.

    State is O(distinct band keys) — 4x the admitted-doc count, which
    still grows monotonically over an unbounded stream; ``ttl`` bounds
    it with the same sliding idle-window claim expiry as
    :func:`stream_first_seen` (a band key idle for ``ttl`` is evicted
    and re-claimable — near-dups are then only guaranteed caught
    within the idle horizon), and the Bloom-prefilter pairing note
    there applies unchanged.  Recall/precision follow SimHash
    banding: documents
    within a small Hamming radius share band keys with high
    probability (16 identical bits per shared band), exactly the batch
    ``simhash_near_dups`` blocking contract, applied temporally.
    """
    if n_bands < 2 or n_bands % 2 or 64 % n_bands:
        raise ValueError(f"n_bands must be even and divide 64, "
                         f"got {n_bands}")
    width = 64 // n_bands
    # band values from the unsigned 32-bit halves directly — never
    # reassemble the 64-bit hash (hi << 32 overflows a signed BIGINT)
    bands = F.array(*[
        F.concat(F.lit(f"{k}:"),
                 F.shiftright(
                     F.col("sim_hi" if k >= n_bands // 2 else "sim_lo"),
                     (k % (n_bands // 2)) * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).cast("string"))
        for k in range(n_bands)
    ])

    def keyed(carry):
        sh = simhash_rowwise(sdf, text_col, id_col, carry_cols=carry)
        return sh.select(F.col(id_col), *carry,
                         F.explode(bands).alias("band"))

    return _first_seen_claims(sdf, "band", [id_col], id_col, ttl,
                              time_col, late, keyed)


def minhash_bands_rowwise(sdf: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", num_hashes: int = 8,
                          band_size: int = 4, shingle_n: int = 3,
                          carry_cols: Sequence[str] = ()) -> DataFrame:
    """Stateless per-row MinHash band keys for streaming frames — the
    batch ``minhash_signature`` is a shingle explode + per-doc min
    aggregate (a streaming agg that could not feed append-mode state);
    this computes the IDENTICAL signatures row-locally.  Same shingling
    (``greatest(n_toks-2, 1)`` slices of the ``word_tokens`` law), same
    Kirsch-Mitzenmacher ``(h1 + k*h2) mod 2^32`` derivation, same band
    digests — a batch SQL twin over ``word_shingles`` replays it
    exactly.

    Output: ``(id_col, *carry_cols, band)`` — one row per band per
    document; ``carry_cols`` pass through untouched.

    One vectorized Arrow stage: C md5 per shingle (``hashlib``), per-doc
    min-folds as ``numpy.minimum.reduceat`` over the doc boundaries of
    the whole batch (measured 3.3x the interpreted JVM fold it replaced,
    guide §4.2 "heavy lifting in native code").  h1/h2 are the
    first/second 4 md5 bytes big-endian (== ``conv(md5_hex[0:8], 16,
    10)``), the tokens are
    :func:`~pypond_spark.datapipe._util.py_word_tokens` (the Python form
    of the batch ``word_tokens`` law), NULL text is dropped before the
    stage (the batch ``word_shingles`` gives it no shingle), an empty or
    token-less text yields the single empty-string shingle the batch
    emits, and the band digest is the same ``md5("b|m0|..|m3")`` hex
    string — pinned by the equality tests against the batch
    ``lsh_band_buckets``.
    """
    if num_hashes % band_size:
        raise ValueError("num_hashes must be a multiple of band_size")
    n_bands = num_hashes // band_size
    carry = list(carry_cols)
    fields = [sdf.schema[id_col]] + [sdf.schema[c] for c in carry] + [
        T.StructField("band", T.StringType())]
    out_schema = T.StructType(fields)
    two32 = 4294967296
    cols = [id_col, *carry, text_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        md5 = hashlib.md5
        ks = np.arange(num_hashes, dtype=np.uint64)

        for pdf in batches:
            n_docs = len(pdf)
            if not n_docs:
                continue
            h1l, h2l, offs = [], [], [0]
            for text in pdf[text_col]:
                toks = py_word_tokens(text)
                n = max(len(toks) - (shingle_n - 1), 1)
                for i in range(n):
                    d = md5(" ".join(
                        toks[i:i + shingle_n]).encode()).digest()
                    h1l.append(int.from_bytes(d[:4], "big"))
                    h2l.append(int.from_bytes(d[4:8], "big"))
                offs.append(offs[-1] + n)
            h1 = np.array(h1l, dtype=np.uint64)
            h2 = np.array(h2l, dtype=np.uint64)
            starts = np.array(offs[:-1])
            mins = np.empty((n_docs, num_hashes), dtype=np.uint64)
            for k in range(num_hashes):
                mins[:, k] = np.minimum.reduceat(
                    (h1 + ks[k] * h2) % two32, starts)
            bands = [
                md5("|".join(
                    [str(b)] + [str(int(mins[r, b * band_size + i]))
                                for i in range(band_size)])
                    .encode()).hexdigest()
                for r in range(n_docs) for b in range(n_bands)]
            rep = pdf.index.repeat(n_bands)
            out = {id_col: pdf[id_col].loc[rep].values}
            for c in carry:
                out[c] = pdf[c].loc[rep].values
            out["band"] = bands
            yield pd.DataFrame(out)

    return (sdf.where(F.col(text_col).isNotNull()).select(*cols)
            .mapInPandas(run, out_schema))


def stream_minhash_dedup(sdf: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", num_hashes: int = 8,
                         band_size: int = 4, shingle_n: int = 3,
                         ttl: str | int | None = None,
                         time_col: str = "time",
                         late: str = "0 seconds",
                         index_path: str | None = None) -> DataFrame:
    """Streaming MinHash-LSH near-dup ingestion gate — the shingle-set
    (Jaccard) counterpart of :func:`stream_simhash_dedup`'s bit-vector
    (Hamming) gate, completing the streaming near-dup pair: per LSH
    band key the FIRST document claims it, later hits are suppressed.
    Documents whose every band was claimed earlier are near-dups of
    prior traffic by exactly the batch ``lsh_candidate_pairs``
    banding contract, applied temporally.  Append-mode claim table
    ``(band, doc_id)``; state O(distinct band keys), bounded by the
    same sliding idle-window ``ttl`` claim expiry as
    :func:`stream_first_seen`; ties inside a micro-batch break to the
    smallest id.

    ``index_path`` (r11) points the gate at a PERSISTED corpus band
    index (:func:`pypond_spark.datapipe.dedup.write_neardup_index` —
    banding parameters MUST match): bands already in the corpus index
    count as claimed before the stream started, so a live ingest
    checks "near-dup of the EXISTING corpus" and not just "near-dup
    within the stream".  Mechanics: a stream-static LEFT ANTI join
    against the index's distinct band keys ahead of the state op —
    index-claimed bands are suppressed per micro-batch AND never enter
    stream state (state stays bounded by NOVEL bands only).  The
    static side is persisted so repeated micro-batches hit the
    materialized table, not the parquet scan; at corpus scale where
    even the distinct band table cannot persist, swap it for a
    broadcast Bloom filter of band keys (bounded memory; the
    documented false-positive rate then over-suppresses a ~1e-4 share
    of genuinely novel bands — banding is already heuristic, but that
    trade must be opted into, so it is not the default here).
    """
    def keyed(carry):
        out = minhash_bands_rowwise(sdf, text_col, id_col, num_hashes,
                                    band_size, shingle_n, carry_cols=carry)
        if index_path is None:
            return out
        idx = (sdf.sparkSession.read
               .parquet(index_path.rstrip("/") + "/bands")
               .select("band").distinct().persist())
        return out.join(idx, "band", "left_anti")

    return _first_seen_claims(sdf, "band", [id_col], id_col, ttl,
                              time_col, late, keyed)


def _xchart_state_fn(field: str, keys: list[str], time_col: str,
                     t_mic: int, s_mic: int):
    def fn(key, pdf: pd.DataFrame, state: _KeyState):
        prior = list(state.get[0]) if state.exists else []
        cols = keys + ["t_ms", "rule", "side", "value"]
        vals = pdf[field]
        mask = vals.notna()
        n = int(mask.sum())
        if not n:
            state.update(([int(x) for x in prior],))
            return  # yield nothing: no output rows for this group
        # micro-unit deviations: element-wise Python round (half-even
        # at 6dp, then the 1e6 pin) — EXACTLY the scalar fold's double
        # rounding, which np.round does not reproduce for every double
        ds = np.fromiter(
            (int(round(round(float(v), 6) * 1e6)) - t_mic
             for v in vals[mask]), dtype=np.int64, count=n)
        t_ms = np.fromiter(
            (t.value // 10**6 for t in pdf.loc[mask, time_col]),
            dtype=np.int64, count=n)
        # vectorized window rules over the ring-prefixed sequence: the
        # per-event ring of the scalar version is reconstructable as
        # "the <=8 deviations ending at position j", so every Western
        # Electric count becomes a cumulative-sum difference.  j is the
        # absolute position of batch event i in (prior + batch); the
        # j>=7 guard is the scalar len(sd)>=8 ring-full condition.
        seq = np.concatenate([np.asarray(prior, dtype=np.int64), ds])
        j = np.arange(len(prior), len(seq))
        fire: dict[str, tuple] = {}
        for side, sgn in (("high", 1), ("low", -1)):
            s = sgn * seq
            c1 = np.concatenate([[0], np.cumsum(s > s_mic)])
            c2 = np.concatenate([[0], np.cumsum(s > 2 * s_mic)])
            cp = np.concatenate([[0], np.cumsum(s > 0)])
            cur = s[j]
            fire[side] = (
                cur > 3 * s_mic,
                (cur > 2 * s_mic)
                & (c2[j + 1] - c2[np.maximum(j - 2, 0)] >= 2),
                (cur > s_mic)
                & (c1[j + 1] - c1[np.maximum(j - 4, 0)] >= 4),
                (j >= 7) & (cp[j + 1] - cp[np.maximum(j - 7, 0)] >= 8),
            )
        any_fire = np.zeros(n, dtype=bool)
        for rules in fire.values():
            for r in rules:
                any_fire |= r
        outs = []
        base = list(key)
        for i in np.nonzero(any_fire)[0]:
            val = round((int(ds[i]) + t_mic) / 1e6, 6)
            tm = int(t_ms[i])
            for side in ("high", "low"):
                for rule, r in zip(("R1", "R2", "R3", "R4"),
                                   fire[side]):
                    if r[i]:
                        outs.append(base + [tm, rule, side, val])
        state.update(([int(x) for x in seq[-8:]],))
        yield pd.DataFrame(outs, columns=cols)

    return fn


def stream_xchart(
    sdf: DataFrame,
    field: str = "value",
    target: float = 0.0,
    sigma: float = 1.0,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming individuals (XmR) control chart — the per-EVENT twin
    of :func:`~pypond_spark.operators.changepoint.control_chart_rules`:
    the four Western Electric zone rules evaluated on every measurement
    as it arrives, against an explicit ``target``/``sigma`` (the
    streamable SPC form).  Deviations are pinned to integer micro-units
    (float-parity recipe #5's discipline), so a drained stream equals a
    batch window replay bit-for-bit.

    State is the last EIGHT micro-unit deviations per series key — a
    fixed ring buffer (8 longs), the window every rule needs and
    nothing more; alarms emit append-mode as ``(*keys, t_ms, rule,
    side, value)``.  An event can legitimately fire several rules at
    once (a 3σ spike usually completes 2σ and 1σ patterns too) — each
    fires as its own row, matching the batch operator.
    """
    if sigma <= 0:
        raise ValueError(f"sigma must be positive, got {sigma}")
    t_mic = int(round(float(target) * 1e6))
    s_mic = int(round(float(sigma) * 1e6))
    return _keyed_state(
        sdf, partition_by, time_col,
        [T.StructField("t_ms", T.LongType()),
         T.StructField("rule", T.StringType()),
         T.StructField("side", T.StringType()),
         T.StructField("value", T.DoubleType())],
        [T.StructField("hist", T.ArrayType(T.LongType()))],
        lambda keys: _xchart_state_fn(field, keys, time_col, t_mic, s_mic),
        tiebreak, reads=[field])


# ---------------------------------------------------------------------------
# stream-stream watermarked interval join (attribution)
# ---------------------------------------------------------------------------

def stream_attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    key_col: str = "user_id",
    view_id_col: str = "view_id",
    click_id_col: str = "click_id",
    horizon: str | int = "1h",
    time_col: str = "time",
    late: str = "0 seconds",
    unmatched: str = "drop",
) -> DataFrame:
    """Stream-stream watermarked interval join — click↔view attribution
    within a horizon, the one Structured Streaming capability the
    single-input stream tier doesn't exercise: every (view, click) pair
    with the same ``key_col`` and ``view.time <= click.time <=
    view.time + horizon`` emits as an append-mode row the moment both
    sides have arrived.

    ``unmatched="emit"`` switches to the click-side OUTER join: a click
    with no attributable view emits once with NULL view columns — but
    only when the watermark has passed the click's matchable window and
    Spark can PROVE no view can still arrive (null rows materialize on
    state expiry, a later micro-batch than the inner matches; clicks
    still inside the final watermark frontier never get their null
    row).  This exercises the expiry-driven outer-join machinery that
    the inner form never touches.

    ALL matching pairs emit (the batch interval-join semantic, so a SQL
    twin replays it exactly); last-touch/first-touch attribution is a
    downstream argmax over ``lag_ms``.  Both inputs carry a watermark
    (lateness allowance ``late``): Spark bounds the join state by
    evicting views once the watermark passes ``view.time + horizon``
    and clicks once it passes their own usable window — state is
    O(events inside the horizon), the property that makes the join
    runnable forever.  The documented trade (the same one every
    watermark makes): an event arriving later than ``late`` behind the
    watermark is DROPPED and its pairs never emit — the late-arrival
    test pins this.

    Output: ``(key_col, view_id_col, click_id_col, view_ms, click_ms,
    lag_ms)``.
    """
    ms = (horizon if isinstance(horizon, int)
          else window_duration_ms(horizon))
    if not ms or ms <= 0:
        raise ValueError(f"horizon must be a positive duration, "
                         f"got {horizon!r}")
    if unmatched not in ("drop", "emit"):
        raise ValueError(f"unmatched must be drop|emit, got {unmatched!r}")
    v = (views.select(F.col(key_col), F.col(view_id_col),
                      F.col(time_col).alias("__vt"))
         .withWatermark("__vt", late))
    c = (clicks.select(F.col(key_col).alias("__ck"),
                       F.col(click_id_col),
                       F.col(time_col).alias("__ct"))
         .withWatermark("__ct", late))
    cond = ((F.col(key_col) == F.col("__ck"))
            & (F.col("__ct") >= F.col("__vt"))
            & (F.col("__ct") <= F.col("__vt")
               + F.expr(f"INTERVAL {int(ms)} MILLISECOND")))
    if unmatched == "emit":
        # clicks on the OUTER side: unmatched conversions surface with
        # NULL view columns, keyed to the click's own key column
        j = c.join(v, cond, "left_outer")
        key_out = F.col("__ck").alias(key_col)
    else:
        j = v.join(c, cond, "inner")
        key_out = F.col(key_col)
    return (j.select(key_out, F.col(view_id_col),
                     F.col(click_id_col),
                     F.unix_millis("__vt").alias("view_ms"),
                     F.unix_millis("__ct").alias("click_ms"),
                     (F.unix_millis("__ct") - F.unix_millis("__vt"))
                     .alias("lag_ms")))


def stream_attribution_touch(
    views: DataFrame,
    clicks: DataFrame,
    key_col: str = "user_id",
    view_id_col: str = "view_id",
    click_id_col: str = "click_id",
    horizon: str | int = "1h",
    time_col: str = "time",
    late: str = "0 seconds",
    touch: str = "last",
) -> DataFrame:
    """Last-touch / first-touch streaming attribution: exactly ONE view
    per click — the production attribution contract on top of
    :func:`stream_attribution_join`'s all-pairs semantics.

    TWO chained stateful operators, both native (zero Python): the
    watermarked interval join emits candidate pairs as both sides
    arrive, and a downstream append-mode windowed aggregation keeps the
    best-so-far view per click ACROSS micro-batches (a better view
    arriving in a later batch replaces the held candidate — the
    cross-batch test pins it), emitting each click's single winner only
    once the watermark proves no candidate view can still arrive (every
    last-touch candidate has ``view.time <= click.time``, so once the
    watermark passes the click's window no new pair for it can form —
    late views would have been dropped at the join already).

    ``touch="last"`` keeps the view closest before the click (min
    ``lag_ms``), ``"first"`` the earliest view within the horizon (max
    ``lag_ms``); ties break to the smallest ``view_id_col`` then
    ``view_ms`` — deterministic, SQL-replayable. Clicks with no view
    never appear (pair with ``stream_attribution_join(unmatched="emit")``
    for the null rows).

    State: the join side is O(events in horizon) as before; the agg
    side is ONE best-candidate row per open click, evicted at emission
    — both watermark-bounded, runnable forever.

    Output: ``(key_col, click_id_col, view_id_col, view_ms, click_ms,
    lag_ms)``.
    """
    ms = (horizon if isinstance(horizon, int)
          else window_duration_ms(horizon))
    if not ms or ms <= 0:
        raise ValueError(f"horizon must be a positive duration, "
                         f"got {horizon!r}")
    if touch not in ("last", "first"):
        raise ValueError(f"touch must be last|first, got {touch!r}")
    v = (views.select(F.col(key_col), F.col(view_id_col),
                      F.col(time_col).alias("__vt"))
         .withWatermark("__vt", late))
    c = (clicks.select(F.col(key_col).alias("__ck"),
                       F.col(click_id_col),
                       F.col(time_col).alias("__ct"))
         .withWatermark("__ct", late))
    cond = ((F.col(key_col) == F.col("__ck"))
            & (F.col("__ct") >= F.col("__vt"))
            & (F.col("__ct") <= F.col("__vt")
               + F.expr(f"INTERVAL {int(ms)} MILLISECOND")))
    lag = F.unix_millis("__ct") - F.unix_millis("__vt")
    sort_key = lag if touch == "last" else -lag
    best = F.min(F.struct(
        sort_key.alias("s"), F.col(view_id_col).alias("v"),
        F.unix_millis("__vt").alias("vm"),
        F.unix_millis("__ct").alias("cm"), lag.alias("lg")))
    return (v.join(c, cond, "inner")
            .groupBy(F.window("__ct", f"{int(ms)} milliseconds")
                     .alias("__w"),
                     F.col(key_col), F.col(click_id_col))
            .agg(best.alias("__b"))
            .select(F.col(key_col), F.col(click_id_col),
                    F.col("__b.v").alias(view_id_col),
                    F.col("__b.vm").alias("view_ms"),
                    F.col("__b.cm").alias("click_ms"),
                    F.col("__b.lg").alias("lag_ms")))
