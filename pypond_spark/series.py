"""TimeSeries: a DataFrame + metadata, the engine's one core type.

Mirrors the reference's ``TimeSeries`` (``pypond/series.py:30-167``) API
surface on a lazy Spark DataFrame. Canonical columns by event kind
(``series.py:89-93`` ``event_type_map``):

- ``time``      -> instant events (``time: timestamp``)
- ``timerange`` -> interval events (``begin``/``end: timestamp``)
- ``index``     -> bucket events (``index: string`` + derived begin/end)

Everything is a lazy transformation; ``to_wire`` / ``collect`` / the scalar
aggregations are the actions. Operators that need time order (align, rate,
fill) take a ``partition_by`` key so the physical plan is a partitioned window,
never a driver loop.
"""

from __future__ import annotations

import datetime
import json
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import wire as wire_codec
from .functions import compile_agg, rowwise_reduce
from .operators import aggregate as agg_ops
from .operators import convert as convert_ops
from .operators import merge as merge_ops
from .operators.align import align as align_op
from .operators.correlate import series_correlation as correlate_op
from .operators.downsample import m4 as m4_op
from .operators.fill import fill as fill_op
from .operators.funnel import funnel_steps as funnel_op
from .operators.funnel import retention_cohorts as retention_op
from .operators.gaps import find_gaps as gaps_op
from .operators.rate import rate as rate_op
from .operators.histogram import heatmap as heatmap_op
from .operators.histogram import histogram as histogram_op
from .operators.seasonal import seasonal_anomaly as seasonal_anomaly_op
from .operators.seasonal import seasonal_profile as seasonal_profile_op
from .operators.rolling import cumulative as cumulative_op
from .operators.rolling import ewma as ewma_op
from .operators.rolling import rank_normalize as rank_normalize_op
from .operators.rolling import robust_zscore as robust_zscore_op
from .operators.rolling import winsorize as winsorize_op
from .operators.rolling import rolling as rolling_op
from .operators.rolling import zscore as zscore_op
from .operators.take import take as take_op
from .session import shuffle_width
from .timerange import TimeRange
from .util import field_dtype, is_valid_col, ms_from_any, valid_or_null

KEY_COLS = ("time", "begin", "end", "index")


def _aware_utc_value(v: Any) -> Any:
    """Recover an aware-UTC value from a raw ``.collect()``-ed one.

    PySpark's ``TimestampType.fromInternal`` materializes collected
    timestamps as naive DRIVER-LOCAL wall times; ``v.timestamp()`` (the
    same local rules in reverse) recovers the instant on any driver TZ,
    and the result is tagged ``tzinfo=UTC`` so downstream consumers
    (``Event._key_ms``, user code) see an unambiguous datetime.  During
    a DST fold the naive local wall time is inherently ambiguous (two
    instants collapse — a PySpark collect limitation, not ours); the
    earlier instant (fold=0) is chosen.  Nested Rows/lists/dicts are
    rebuilt recursively."""
    from pyspark.sql import Row

    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            return datetime.datetime.fromtimestamp(
                v.timestamp(), tz=datetime.timezone.utc)
        return v
    if isinstance(v, Row):
        names = list(v.__fields__)
        return Row(*names)(*[_aware_utc_value(x) for x in v])
    if isinstance(v, list):
        return [_aware_utc_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _aware_utc_value(x) for k, x in v.items()}
    return v


def _aware_utc_rows(rows: list) -> list:
    """Tag collected rows' timestamps as aware UTC (the internal
    collect() boundary — the one place naive-local provenance is
    known)."""
    return [_aware_utc_value(r) for r in rows]


class TimeSeries:
    """Immutable wrapper: every operation returns a new TimeSeries."""

    def __init__(self, df: DataFrame, kind: str = "time",
                 meta: dict | None = None):
        if kind not in ("time", "timerange", "index"):
            raise ValueError(f"unknown event kind {kind!r}")
        self._df = df
        self._kind = kind
        self._meta = dict(meta or {})

    # -- constructors --------------------------------------------------------
    @classmethod
    def from_wire(cls, spark: SparkSession, wire: dict) -> "TimeSeries":
        df, kind, meta = wire_codec.read_wire(spark, wire)
        return cls(df, kind, meta)

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str,
                     time_col: str = "time", name: str | None = None,
                     payload: Sequence[str] | None = None) -> "TimeSeries":
        df = spark.read.parquet(path)
        if time_col != "time":
            df = df.withColumnRenamed(time_col, "time")
        if dict(df.dtypes).get("time") == "timestamp_ntz":
            # naive timestamps carry the stored instant; session tz is UTC
            df = df.withColumn("time", F.col("time").cast("timestamp"))
        if payload is not None:
            df = df.select("time", *payload)
        return cls(df, "time", {"name": name or path})

    # -- plumbing -------------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def kind(self) -> str:
        return self._kind

    def _with(self, df: DataFrame, kind: str | None = None) -> "TimeSeries":
        return TimeSeries(df, kind or self._kind, self._meta)

    @property
    def time_col(self) -> str:
        return {"time": "time", "timerange": "begin", "index": "begin"}[self._kind]

    # -- metadata (reference series.py:169-199) -------------------------------
    def name(self) -> str | None:
        return self._meta.get("name")

    def set_name(self, name: str) -> "TimeSeries":
        return TimeSeries(self._df, self._kind, {**self._meta, "name": name})

    def meta(self, key: str | None = None) -> Any:
        return dict(self._meta) if key is None else self._meta.get(key)

    def set_meta(self, key: str, value: Any) -> "TimeSeries":
        return TimeSeries(self._df, self._kind, {**self._meta, key: value})

    def is_utc(self) -> bool:
        return bool(self._meta.get("utc", True))

    # -- instance / value comparison (reference series.py:1483-1524) ----------
    @staticmethod
    def equal(series1: "TimeSeries", series2: "TimeSeries") -> bool:
        """Same *instance* internals (reference ``equal`` uses ``is`` on the
        underlying pmap/collection): True for aliases, False for equal-valued
        but independently-built series."""
        return series1 is series2 or (
            series1._df is series2._df and series1._meta is series2._meta
            and series1._kind == series2._kind)

    @staticmethod
    def same(series1: "TimeSeries", series2: "TimeSeries") -> bool:
        """Same *values*: metadata equal, schema equal, and the two frames
        contain the same multiset of rows.  Deliberate deviation from
        reference ``series.py:1505-1524``, which compares *ordered* event
        lists: distributed frames have no stable physical order, so this
        compares multisets — two series with identical rows in different
        event order are ``same`` here but not in the reference.  (Series
        with a time column are totally ordered by (time, payload) anyway,
        so the distinction only bites on exact-duplicate-key data.)
        Distributed compare: two ``exceptAll`` anti-diffs (hash-partitioned
        on all columns, no collect of either side)."""
        if (series1._kind != series2._kind
                or series1._meta != series2._meta):
            return False
        d1, d2 = series1._df, series2._df
        if [(f.name, f.dataType) for f in d1.schema.fields] != \
                [(f.name, f.dataType) for f in d2.schema.fields]:
            return False
        return d1.exceptAll(d2).isEmpty() and d2.exceptAll(d1).isEmpty()

    # -- structure ------------------------------------------------------------
    def columns(self) -> list[str]:
        """Payload column names (reference series.py:554-577)."""
        return [c for c in self._df.columns if c not in KEY_COLS]

    def size(self) -> int:
        return self._df.count()

    def count(self) -> int:
        return self.size()

    def size_valid(self, field_spec: str = "value") -> int:
        """Count of events with a valid (non NULL/NaN/'') value at the path."""
        dtype = field_dtype(self._df.schema, field_spec)
        return self._df.where(is_valid_col(F.col(field_spec), dtype)).count()

    # -- wire / json ----------------------------------------------------------
    def to_wire(self) -> dict:
        return wire_codec.to_wire(self._df, self._kind, self._meta)

    def to_json(self) -> dict:
        return self.to_wire()

    def to_string(self) -> str:
        return json.dumps(self.to_wire(), default=str)

    def collect(self):
        order = self.time_col if self.time_col in self._df.columns else None
        df = self._df.orderBy(order) if order else self._df
        return _aware_utc_rows(df.collect())

    # -- projection / row transforms (SURVEY §2.2) -----------------------------
    def select(self, field_spec: str | Sequence[str]) -> "TimeSeries":
        fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
        keys = [c for c in KEY_COLS if c in self._df.columns]
        return self._with(self._df.select(*keys, *fields))

    def filter(self, predicate: Column | str | Callable) -> "TimeSeries":
        """Column/SQL predicate (preferred, stays in Catalyst), or — reference
        parity (``processor/filter.py:18-68``) — a Python callable
        ``op(event) -> bool`` over the per-event adapter (the slow path)."""
        if callable(predicate) and not isinstance(predicate, (Column, str)):
            return self.filter_events(predicate)
        return self._with(self._df.where(predicate))

    def filter_events(self, op: Callable) -> "TimeSeries":
        """Per-event Python filter (reference ``processor/filter.py:18-68``,
        ``collection.py:574-602``) via Arrow-batched mapInPandas."""
        from .operators.events import filter_events as filter_events_op
        return self._with(filter_events_op(self._df, op))

    def clean(self, field_spec: str | Sequence[str] = "value") -> "TimeSeries":
        """Drop rows whose field is invalid (reference series.py:459-480)."""
        fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
        df = self._df
        for f in fields:
            df = df.where(is_valid_col(F.col(f), field_dtype(df.schema, f)))
        return self._with(df)

    def map(self, exprs: dict[str, Column | str] | Callable,
            schema=None) -> "TimeSeries":
        """Column-expression map (preferred, stays in Catalyst), or — reference
        parity (``processor/mapper.py:18-67``) — a Python callable
        ``op(event) -> Event | dict`` over the per-event adapter (the slow
        path; ``schema`` declares the output columns when they change).

        For whole-DataFrame rewrites use :meth:`transform`."""
        if callable(exprs):
            return self.map_events(exprs, schema)
        df = self._df
        for out, expr in exprs.items():
            df = df.withColumn(out, F.expr(expr) if isinstance(expr, str) else expr)
        return self._with(df)

    def map_events(self, op: Callable, schema=None) -> "TimeSeries":
        """Per-event Python map (reference ``processor/mapper.py:18-67``,
        ``collection.py:604-631``) via Arrow-batched mapInPandas."""
        from .operators.events import map_events as map_events_op
        return self._with(map_events_op(self._df, op, schema))

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "TimeSeries":
        """Whole-DataFrame escape hatch (e.g. a custom mapInPandas stage)."""
        return self._with(fn(self._df))

    def collapse(self, field_spec_list: Sequence[str], name: str,
                 reducer: str = "sum", append: bool = True) -> "TimeSeries":
        """Reduce N columns of each row into one new column
        (reference collapser.py:18-76) — a row-wise expression, no shuffle."""
        col = rowwise_reduce(reducer, list(field_spec_list)).alias(name)
        keys = [c for c in KEY_COLS if c in self._df.columns]
        if append:
            return self._with(self._df.withColumn(name, col))
        return self._with(self._df.select(*keys, col))

    def rename_columns(self, rename_map: dict[str, str]) -> "TimeSeries":
        for key in rename_map:
            if key in KEY_COLS:
                raise ValueError(f"cannot rename key column {key!r}")
        return self._with(self._df.withColumnsRenamed(rename_map))

    def offset_by(self, by: float,
                  field_spec: str | Sequence[str] = "value") -> "TimeSeries":
        fields = [field_spec] if isinstance(field_spec, str) else list(field_spec)
        df = self._df
        for f in fields:
            df = df.withColumn(f, F.col(f) + F.lit(by))
        return self._with(df)

    # -- slicing / search (SURVEY §2.7) ----------------------------------------
    def sort_by_time(self) -> "TimeSeries":
        return self._with(self._df.orderBy(self.time_col))

    def sort(self, field_spec: str) -> "TimeSeries":
        return self._with(self._df.orderBy(field_spec))

    def is_chronological(self) -> bool:
        """True iff rows are already in non-decreasing time order as stored
        (reference collection.py:482-502). Checked per current partitioning
        order via a monotonicity scan (an action)."""
        from pyspark.sql import Window
        w = Window.orderBy(F.monotonically_increasing_id())
        tcol = F.col(self.time_col)
        out_of_order = self._df.select(
            (tcol < F.lag(tcol).over(w)).alias("__o")).where(F.col("__o"))
        return out_of_order.limit(1).count() == 0

    def crop(self, timerange: TimeRange) -> "TimeSeries":
        """Restrict to a TimeRange, inclusive (reference series.py:440-457)."""
        tcol = F.col(self.time_col)
        return self._with(self._df.where(
            tcol.between(timerange.begin(), timerange.end())))

    def slice(self, begin: int | None = None, end: int | None = None) -> "TimeSeries":
        """Positional slice in time order with python slice semantics incl.
        negative positions (reference series.py:419-438, collection.py:552).

        Positional indexing needs a GLOBAL row order — but not a
        single-task sort.  The frame is range-repartitioned on time
        (globally ordered partitions) and materialized once
        (localCheckpoint pins the sampled range boundaries so both passes
        below see the same partitioning); per-partition counts come back
        to the driver (O(partitions) rows, the accepted bounded pull, and
        they double as the total for negative indices); the global
        position is then the partition-local row_number plus the
        partition's offset — the classic zipWithIndex recipe as a
        DataFrame plan.  Replaces the unpartitioned-window implementation
        SCALE.md carried as the one documented non-scale path: cost is
        two full-width exchanges (range + pid window) and a P-row
        collect, with no stage bounded by one task."""
        from pyspark.sql import Window
        if begin is None and end is None:
            return self
        n_parts = shuffle_width(self._df.sparkSession)
        part = (self._df
                .repartitionByRange(n_parts, F.col(self.time_col))
                .localCheckpoint()
                .withColumn("__pid", F.spark_partition_id()))
        counts = sorted(
            (r["__pid"], r["__c"])
            for r in part.groupBy("__pid").agg(F.count("*").alias("__c"))
            .collect())
        total = sum(c for _, c in counts)
        if begin is not None and begin < 0:
            begin = max(total + begin, 0)
        if end is not None and end < 0:
            end = max(total + end, 0)
        offsets, acc = {}, 0
        for p, c in counts:
            offsets[p] = acc
            acc += c
        off = (F.element_at(
            F.create_map(*[F.lit(v) for pc in offsets.items() for v in pc]),
            F.col("__pid")) if offsets else F.lit(0))
        w = Window.partitionBy("__pid").orderBy(self.time_col)
        df = part.withColumn("__rn", F.row_number().over(w) - 1 + off)
        if begin is not None:
            df = df.where(F.col("__rn") >= begin)
        if end is not None:
            df = df.where(F.col("__rn") < end)
        return self._with(df.drop("__rn", "__pid"))

    def at(self, pos: int):
        rows = self.slice(pos, pos + 1 if pos != -1 else None).collect()
        if not rows:
            raise IndexError(f"event position {pos} out of range")
        return rows[0]

    def at_time(self, when: Any):
        """Event nearest-at-or-before `when` (bisect + at, series.py:494-517)."""
        rows = (self._df.where(F.col(self.time_col) <= F.lit(_dt(when)))
                .orderBy(F.col(self.time_col).desc()).limit(1).collect())
        return _aware_utc_rows(rows)[0] if rows else None

    def at_first(self):
        rows = self._df.orderBy(self.time_col).limit(1).collect()
        return _aware_utc_rows(rows)[0] if rows else None

    def at_last(self):
        rows = self._df.orderBy(F.col(self.time_col).desc()).limit(1).collect()
        return _aware_utc_rows(rows)[0] if rows else None

    def at_key(self, key: Any):
        """All events with the exact event key (reference collection.py:238-268
        — there an O(n) scan; here a keyed filter the optimizer can push)."""
        if self._kind == "time":
            rows = self._df.where(F.col("time") == F.lit(_dt(key))).collect()
        elif self._kind == "index":
            rows = self._df.where(F.col("index") == F.lit(str(key))).collect()
        else:
            begin, end = key
            rows = self._df.where(
                (F.col("begin") == F.lit(_dt(begin)))
                & (F.col("end") == F.lit(_dt(end)))).collect()
        return _aware_utc_rows(rows)

    def event_list_as_list(self) -> list:
        """The events as a plain time-ordered Python list (reference
        ``collection.py:404-412`` — there a thaw of the pvector; here an
        alias of :meth:`collect`)."""
        return self.collect()

    def event_list_as_map(self) -> dict:
        """The series' events as ``{key: [Row, ...]}`` keyed by the
        reference event key — epoch-ms int for time events
        (reference ``event.py:579-587``), the index string for indexed
        events, ``"begin_ms,end_ms"`` for timerange events
        (``timerange_event.py:93-101``); reference
        ``collection.py:414-432``.  Client-side by contract (the
        reference returns a Python dict); keys are computed IN Spark
        and the Row structs pass the same collect boundary as
        :meth:`collect` — timestamps inside them are aware UTC, so
        feeding them back into the library (Event construction,
        ``at_key``, ``is_duplicate``) preserves the instant on any
        driver TZ."""
        df = self._df
        if self._kind == "time":
            key_col = F.unix_millis("time")
        elif self._kind == "index":
            key_col = F.col("index")
        else:
            key_col = F.concat_ws(",", F.unix_millis("begin"),
                                  F.unix_millis("end"))
        keyed = (df.select(key_col.alias("_key"),
                           F.struct(*df.columns).alias("_ev"),
                           F.col(self.time_col).alias("_t"))
                 .orderBy("_t").collect())
        out: dict = {}
        for r in keyed:
            out.setdefault(r["_key"], []).append(
                _aware_utc_value(r["_ev"]))
        return out

    def bisect(self, when: Any) -> int | None:
        """Index of the latest event at-or-before `when` (reference
        collection.py:292-348: None for an empty series, clamped to 0 when
        `when` precedes every event)."""
        total = self._df.count()
        if total == 0:
            return None
        at_or_before = self._df.where(
            F.col(self.time_col) <= F.lit(_dt(when))).count()
        return max(at_or_before - 1, 0)

    def timerange(self) -> TimeRange | None:
        # extents computed as epoch ms IN Spark: collecting TimestampType
        # yields naive datetimes in the DRIVER's OS timezone, which would
        # shift the range on any non-UTC machine
        end_col = "end" if self._kind != "time" else "time"
        row = self._df.agg(
            F.min(F.unix_millis(F.col(self.time_col))).alias("b"),
            F.max(F.unix_millis(F.col(end_col))).alias("e")).collect()[0]
        if row["b"] is None:
            return None
        return TimeRange(row["b"], row["e"])

    def range(self) -> TimeRange | None:
        return self.timerange()

    def begin(self):
        tr = self.timerange()
        return tr.begin() if tr else None

    def end(self):
        tr = self.timerange()
        return tr.end() if tr else None

    def begin_timestamp(self) -> int | None:
        """Earliest time in epoch ms (reference ``series.py:298-307``)."""
        tr = self.timerange()
        return tr.begin_ms() if tr else None

    def end_timestamp(self) -> int | None:
        """Latest time in epoch ms (reference ``series.py:309-318``)."""
        tr = self.timerange()
        return tr.end_ms() if tr else None

    def index(self):
        """Series-level Index from metadata, or None (reference
        ``series.py:520-528`` — a whole series can carry one index, e.g.
        the ``event_series_with_index`` interop fixture)."""
        from .index_class import Index
        idx = self._meta.get("index")
        if idx is None:
            return None
        return idx if isinstance(idx, Index) else Index(str(idx))

    def index_as_string(self) -> str | None:
        """Reference ``series.py:530-538``."""
        idx = self.index()
        return idx.to_string() if idx else None

    def index_as_range(self) -> TimeRange | None:
        """Reference ``series.py:540-548``."""
        idx = self.index()
        return idx.as_timerange() if idx else None

    # -- scalar aggregations (SURVEY §2.4) -------------------------------------
    def aggregate(self, func, field_spec: str = "value",
                  flt: str = "ignore_missing"):
        col = compile_agg(func, field_spec, flt, self.time_col)
        return self._df.agg(col.alias("__v")).collect()[0]["__v"]

    def sum(self, field_spec: str = "value"):
        return self.aggregate("sum", field_spec)

    def avg(self, field_spec: str = "value"):
        return self.aggregate("avg", field_spec)

    def mean(self, field_spec: str = "value"):
        return self.avg(field_spec)

    def max(self, field_spec: str = "value"):
        return self.aggregate("max", field_spec)

    def min(self, field_spec: str = "value"):
        return self.aggregate("min", field_spec)

    def median(self, field_spec: str = "value"):
        return self.aggregate("median", field_spec)

    def stdev(self, field_spec: str = "value"):
        return self.aggregate("stddev", field_spec)

    def first(self, field_spec: str = "value"):
        return self.aggregate("first", field_spec)

    def last(self, field_spec: str = "value"):
        return self.aggregate("last", field_spec)

    def percentile(self, perc: float, field_spec: str = "value",
                   method: str = "linear"):
        return self.aggregate(("percentile", perc, method), field_spec)

    def quantile(self, num: int, field_spec: str = "value",
                 method: str = "linear") -> list:
        """num-quantile cut points (reference collection.py:1022-1089)."""
        if num < 1:
            raise ValueError("quantile divisions must be >= 1")
        fracs = [i / num for i in range(1, num)]
        col = valid_or_null(F.col(field_spec)).cast("double")
        if method == "linear":
            row = self._df.agg(
                F.percentile(col, F.array(*[F.lit(f) for f in fracs]))
                .alias("__q")).collect()[0]
            return list(row["__q"])
        return [self.percentile(f * 100, field_spec, method) for f in fracs]

    # -- windowed rollups (SURVEY §2.6) ----------------------------------------
    def fixed_window_rollup(self, window: str, aggregation: dict,
                            group_by: str | Sequence[str] | None = None
                            ) -> "TimeSeries":
        out = agg_ops.windowed_aggregate(
            self._df, aggregation, window=window, group_by=group_by,
            time_col=self.time_col)
        return TimeSeries(out, "index", self._meta)

    def hourly_rollup(self, aggregation: dict, **kw) -> "TimeSeries":
        return self.fixed_window_rollup("1h", aggregation, **kw)

    def pivot_rollup(self, window: str, field: str, pivot_col: str,
                     values: Sequence[str], agg: str = "avg"
                     ) -> "TimeSeries":
        """Windowed rollup pivoted wide — one column per category (engine
        addition; see ``operators.aggregate.pivot_rollup``)."""
        if self._kind != "time":
            raise ValueError("pivot_rollup expects instant-event input")
        out = agg_ops.pivot_rollup(self._df, window, field, pivot_col,
                                   values, agg, self.time_col)
        return TimeSeries(out, "index", self._meta)

    def daily_rollup(self, aggregation: dict, utc: bool = True,
                     tz: str = "UTC", group_by=None) -> "TimeSeries":
        return self._calendar_rollup("daily", aggregation, utc, tz, group_by)

    def monthly_rollup(self, aggregation: dict, utc: bool = True,
                       tz: str = "UTC", group_by=None) -> "TimeSeries":
        return self._calendar_rollup("monthly", aggregation, utc, tz,
                                     group_by)

    def yearly_rollup(self, aggregation: dict, utc: bool = True,
                      tz: str = "UTC", group_by=None) -> "TimeSeries":
        return self._calendar_rollup("yearly", aggregation, utc, tz, group_by)

    def _calendar_rollup(self, kind: str, aggregation: dict, utc: bool,
                         tz: str, group_by=None) -> "TimeSeries":
        out = agg_ops.windowed_aggregate(
            self._df, aggregation, window=kind, utc=utc, tz=tz,
            group_by=group_by, time_col=self.time_col)
        return TimeSeries(out, "index", self._meta)

    def window_aggregate(self, aggregation: dict, window: str | None = None,
                         group_by=None, utc: bool = True,
                         tz: str = "UTC") -> "TimeSeries":
        end_col = "end" if self._kind != "time" and "end" in self._df.columns \
            else None
        out = agg_ops.windowed_aggregate(
            self._df, aggregation, window=window, group_by=group_by, utc=utc,
            tz=tz, time_col=self.time_col, end_col=end_col)
        return TimeSeries(out, "timerange" if window is None else "index",
                          self._meta)

    def sliding_window_rollup(self, window: str, slide: str,
                              aggregation: dict,
                              group_by=None) -> "TimeSeries":
        """Sliding/hopping-window rollup (beyond-reference bonus)."""
        out = agg_ops.sliding_window_aggregate(
            self._df, aggregation, window, slide, group_by, self.time_col)
        return TimeSeries(out, "timerange", self._meta)

    def session_window_rollup(self, gap: str, aggregation: dict,
                              group_by=None) -> "TimeSeries":
        """Session-window rollup (beyond-reference bonus)."""
        out = agg_ops.session_window_aggregate(
            self._df, aggregation, gap, group_by, self.time_col)
        return TimeSeries(out, "timerange", self._meta)

    def asof_join(self, other: "TimeSeries", on=(),
                  tolerance: str | None = None,
                  broadcast: bool = False) -> "TimeSeries":
        """Join each event to the other series' latest event at-or-before it."""
        from .operators.asof import asof_join as _asof
        from .operators.asof import asof_join_broadcast as _asof_b
        fn = _asof_b if broadcast else _asof
        out = fn(self._df, other._df, on=on, left_time=self.time_col,
                 right_time=other.time_col, tolerance=tolerance)
        return TimeSeries(out, self._kind, self._meta)

    def collect_by_fixed_window(self, window: str) -> "TimeSeries":
        out = agg_ops.collect_by_fixed_window(self._df, window, self.time_col)
        return TimeSeries(out, "index", self._meta)

    # -- timeseries transforms (SURVEY §2.8) -----------------------------------
    def align(self, field_spec="value", window: str = "5m",
              method: str = "linear", limit: int | None = None,
              partition_by: Sequence[str] = ()) -> "TimeSeries":
        if self._kind != "time":
            raise ValueError("only instant-event series can be aligned")
        return self._with(align_op(self._df, window, field_spec, method,
                                   limit, partition_by))

    def rate(self, field_spec="value", allow_negative: bool = True,
             partition_by: Sequence[str] = (),
             counter_wrap: int | float | None = None) -> "TimeSeries":
        if self._kind != "time":
            raise ValueError("rate expects instant-event input")
        out = rate_op(self._df, field_spec, allow_negative, partition_by,
                      counter_wrap=counter_wrap)
        return TimeSeries(out, "timerange", self._meta)

    def integrate(self, window: str = "1h", field: str = "value",
                  partition_by: Sequence[str] = (),
                  tiebreak: str | None = None):
        """Trapezoidal integral + time-weighted average per fixed window
        (engine addition; see ``operators.rate.integrate``). Returns a
        plain DataFrame keyed by (window position, group)."""
        if self._kind != "time":
            raise ValueError("integrate expects instant-event input")
        from .operators.rate import integrate as integrate_op
        return integrate_op(self._df, window, field, partition_by,
                            self.time_col, tiebreak)

    def fill(self, field_spec="value", method: str = "zero",
             fill_limit: int | None = None,
             partition_by: Sequence[str] = (),
             max_gap: str | None = None) -> "TimeSeries":
        return self._with(fill_op(self._df, field_spec, method, fill_limit,
                                  partition_by, self.time_col, max_gap))

    def rolling(self, window: str, aggregation: dict,
                partition_by: Sequence[str] = ()) -> "TimeSeries":
        """Trailing-window aggregates per event (engine addition; same
        agg-spec language as the bucketed rollups)."""
        if self._kind != "time":
            raise ValueError("rolling expects instant-event input")
        return self._with(rolling_op(self._df, window, aggregation,
                                     partition_by, self.time_col))

    def m4_downsample(self, window: str = "1h", field: str = "value",
                      partition_by: Sequence[str] = (),
                      tiebreak: str | None = None) -> "TimeSeries":
        """Visualization downsampling: keep first/last/min/max points per
        bucket (M4; see ``operators.downsample``). Output stays an
        instant-event series (real points survive, tagged by role)."""
        if self._kind != "time":
            raise ValueError("m4_downsample expects instant-event input")
        return self._with(m4_op(self._df, window, field, partition_by,
                                self.time_col, tiebreak))

    def funnel(self, steps: Sequence, step_col: str = "event_type",
               entity_col: str = "user_id",
               within: str | None = None):
        """First completion time of each funnel step in order, per entity
        (see ``operators.funnel``). Returns a plain DataFrame."""
        if self._kind != "time":
            raise ValueError("funnel expects instant-event input")
        return funnel_op(self._df, steps, step_col, entity_col, within,
                         self.time_col)

    def retention(self, entity_col: str = "user_id", period: str = "1d",
                  horizon: int = 30):
        """Cohort retention matrix (see ``operators.funnel``). Returns a
        plain DataFrame of ``cohort, offset, n_active``."""
        if self._kind != "time":
            raise ValueError("retention expects instant-event input")
        return retention_op(self._df, entity_col, period, horizon,
                            self.time_col)

    def cumulative(self, aggregation: dict,
                   partition_by: Sequence[str] = (),
                   tiebreak: str | None = None) -> "TimeSeries":
        """Running since-start aggregates per series (engine addition;
        same agg-spec language as ``rolling``, unbounded-preceding
        frame). Pass ``tiebreak=`` for duplicate timestamps."""
        if self._kind != "time":
            raise ValueError("cumulative expects instant-event input")
        return self._with(cumulative_op(self._df, aggregation,
                                        partition_by, self.time_col,
                                        tiebreak))

    def histogram(self, field: str = "value", bin_width: float = 1.0,
                  partition_by: Sequence[str] = ()):
        """Fixed-width value histogram, optionally per group (engine
        addition; see ``operators.histogram``). Returns a plain DataFrame
        of ``partition_by..., bin, bin_lo, bin_hi, n`` — a distribution
        summary, not a series."""
        return histogram_op(self._df, field, bin_width, partition_by)

    def find_gaps(self, min_gap: str | int = "15m",
                  partition_by: Sequence[str] = ()):
        """TimeRange rows for silences longer than ``min_gap`` between
        consecutive events (see ``operators.gaps``). Returns a plain
        DataFrame of ``partition_by..., gap_start, gap_end, gap_ms``."""
        if self._kind != "time":
            raise ValueError("find_gaps expects instant-event input")
        return gaps_op(self._df, min_gap, partition_by, self.time_col)

    def ohlc_rollup(self, window: str, field: str = "value",
                    group_by=None, tiebreak: str | None = None
                    ) -> "TimeSeries":
        """Open/high/low/close per fixed window (engine addition): the
        agg-spec first/last/max/min reducers in one rollup. Pass
        ``tiebreak=`` (a unique column) when duplicate timestamps are
        possible — open/close then pick the (time, tiebreak)-least/greatest
        value deterministically."""
        first = ("first", tiebreak) if tiebreak else "first"
        last = ("last", tiebreak) if tiebreak else "last"
        return self.fixed_window_rollup(window, {
            "open": {field: first}, "high": {field: "max"},
            "low": {field: "min"}, "close": {field: last},
        }, group_by=group_by)

    def seasonal_profile(self, field: str = "value",
                         partition_by: Sequence[str] = (),
                         tz: str = "UTC"):
        """Mean/σ/count per (group, day-of-week, hour-of-day) slot — the
        weekly rhythm of the series (see ``operators.seasonal``)."""
        if self._kind != "time":
            raise ValueError("seasonal_profile expects instant-event input")
        return seasonal_profile_op(self._df, field, partition_by,
                                   self.time_col, tz)

    def seasonal_anomaly(self, field: str = "value",
                         partition_by: Sequence[str] = (),
                         min_n: int = 2, profile=None,
                         tz: str = "UTC") -> "TimeSeries":
        """Score each event against its seasonal slot mean/σ (broadcast
        profile join; see ``operators.seasonal``). ``profile=`` scores
        against a pre-trained ``seasonal_profile`` result (works on
        streaming input — stream-static join)."""
        if self._kind != "time":
            raise ValueError("seasonal_anomaly expects instant-event input")
        return self._with(seasonal_anomaly_op(
            self._df, field, partition_by, self.time_col, min_n, profile,
            tz))

    def series_correlation(self, series_col: str, series_a: str,
                           series_b: str, field: str = "value",
                           bucket: str = "1h", window: str | None = "1d",
                           partition_by: Sequence[str] = ()):
        """Pearson r between two series' bucket means per outer window
        (see ``operators.correlate``). Returns a plain DataFrame."""
        if self._kind != "time":
            raise ValueError("series_correlation expects instant-event input")
        return correlate_op(self._df, series_col, series_a, series_b,
                            field, bucket, window, partition_by,
                            self.time_col)

    def rolling_correlation(self, series_col: str, series_a: str,
                            series_b: str, field: str = "value",
                            bucket: str = "1h", lookback: int = 24,
                            partition_by: Sequence[str] = ()):
        """Trailing-window Pearson r + OLS beta between two series'
        bucket means (see ``operators.correlate.rolling_correlation``).
        Returns a plain DataFrame."""
        if self._kind != "time":
            raise ValueError("rolling_correlation expects instant-event "
                             "input")
        from .operators.correlate import rolling_correlation as rc_op
        return rc_op(self._df, series_col, series_a, series_b, field,
                     bucket, lookback, partition_by, self.time_col)

    def trend(self, field: str = "value",
              partition_by: Sequence[str] = (),
              time_unit: str = "1h"):
        """Per-series OLS slope/intercept (see
        ``operators.correlate.trend``). Returns a plain DataFrame."""
        if self._kind != "time":
            raise ValueError("trend expects instant-event input")
        from .operators.correlate import trend as trend_op
        return trend_op(self._df, field, partition_by, time_unit,
                        self.time_col)

    def theil_sen(self, field: str = "value", bucket: str = "1h",
                  partition_by: Sequence[str] = ()):
        """Per-series Theil-Sen robust trend over bucket means (see
        ``operators.correlate.theil_sen``). Returns a plain DataFrame."""
        if self._kind != "time":
            raise ValueError("theil_sen expects instant-event input")
        from .operators.correlate import theil_sen as ts_op
        return ts_op(self._df, field, bucket, partition_by, self.time_col)

    def autocorrelation(self, field: str = "value",
                        lags: Sequence[int] = (1, 2, 3),
                        bucket: str = "1h",
                        partition_by: Sequence[str] = ()):
        """Per-series ACF at bucket-step lags (see
        ``operators.correlate.autocorrelation``). Returns a plain
        DataFrame."""
        if self._kind != "time":
            raise ValueError("autocorrelation expects instant-event input")
        from .operators.correlate import autocorrelation as acf_op
        return acf_op(self._df, field, lags, bucket, partition_by,
                      self.time_col)

    def melt(self, value_cols: Sequence[str], var_name: str = "metric",
             value_name: str = "value_m") -> "TimeSeries":
        """Wide -> long reshape (Spark's native ``unpivot``): every
        column NOT in ``value_cols`` is carried as an id column; one
        output row per (row, value column). A pure generate-side
        transform — no shuffle, no UDF; at 100 TB it streams through the
        scan like any projection (output is ``len(value_cols)``x rows,
        the reshape's inherent size)."""
        vals = list(value_cols)
        if not vals:
            raise ValueError("melt needs at least one value column")
        ids = [c for c in self._df.columns if c not in vals]
        out = self._df.unpivot(ids, vals, var_name, value_name)
        return TimeSeries(out, self._kind, self._meta)

    def quantile_bins(self, k: int, field: str = "value",
                      partition_by: Sequence[str] = (),
                      tiebreak: str | None = None,
                      out_col: str | None = None) -> "TimeSeries":
        """Equal-frequency binning: ``ntile(k)`` over the field per
        group — the feature-binning step (CCNet's perplexity buckets use
        fixed cut points; this is the rank-based dual). ``tiebreak``
        pins the order of equal values so the bin assignment is
        deterministic cross-engine. One hash exchange + sort per group;
        ntile is an O(1)-state window function."""
        from pyspark.sql import Window
        if k < 2:
            raise ValueError(f"k must be >= 2, got {k}")
        order = [F.col(field).asc()]
        if tiebreak:
            order.append(F.col(tiebreak).asc())
        w = Window.partitionBy(*partition_by).orderBy(*order)
        name = out_col or f"{field}_bin"
        return self._with(self._df.withColumn(name, F.ntile(k).over(w)))

    def winsorize(self, field: str = "value", lower: float = 0.01,
                  upper: float = 0.99,
                  partition_by: Sequence[str] = ()) -> "TimeSeries":
        """Clip a field to its per-group exact percentiles (engine
        addition; see ``operators.rolling.winsorize``)."""
        if self._kind != "time":
            raise ValueError("winsorize expects instant-event input")
        return self._with(winsorize_op(self._df, field, lower, upper,
                                       partition_by))

    def robust_zscore(self, field: str = "value",
                      partition_by: Sequence[str] = (),
                      threshold: float = 3.5) -> "TimeSeries":
        """Median/MAD modified z-score anomaly detection (engine
        addition; see ``operators.rolling.robust_zscore``)."""
        if self._kind != "time":
            raise ValueError("robust_zscore expects instant-event input")
        return self._with(robust_zscore_op(self._df, field, partition_by,
                                           threshold))

    def rolling_robust_zscore(self, window: str, field: str = "value",
                              partition_by: Sequence[str] = (),
                              threshold: float = 3.5) -> "TimeSeries":
        """Trailing-window median/MAD modified z-score (engine addition;
        see ``operators.rolling.rolling_robust_zscore``)."""
        if self._kind != "time":
            raise ValueError("rolling_robust_zscore expects instant-event "
                             "input")
        from .operators.rolling import rolling_robust_zscore as rrz_op
        return self._with(rrz_op(self._df, window, field, partition_by,
                                 threshold, self.time_col))

    def rank_normalize(self, field: str = "value",
                       partition_by: Sequence[str] = (),
                       tiebreak: str | None = None) -> "TimeSeries":
        """Percent-rank normalization to [0, 1] per group (engine
        addition; see ``operators.rolling.rank_normalize``)."""
        if self._kind != "time":
            raise ValueError("rank_normalize expects instant-event input")
        return self._with(rank_normalize_op(self._df, field, partition_by,
                                            tiebreak))

    def cusum(self, field: str = "value", target: float | None = None,
              slack: float = 0.0, threshold: float | None = None,
              partition_by: Sequence[str] = (),
              tiebreak: str | None = None,
              side: str = "upper") -> "TimeSeries":
        """CUSUM drift detection, upper/lower/both sided (engine
        addition; see ``operators.rolling.cusum``)."""
        if self._kind != "time":
            raise ValueError("cusum expects instant-event input")
        from .operators.rolling import cusum as cusum_op
        return self._with(cusum_op(self._df, field, target, slack,
                                   threshold, partition_by, self.time_col,
                                   tiebreak, side))

    def heatmap(self, window: str = "1h", field: str = "value",
                bin_width: float = 1.0,
                partition_by: Sequence[str] = ()):
        """Time x value density matrix (engine addition; see
        ``operators.histogram.heatmap``). Returns a plain DataFrame."""
        if self._kind != "time":
            raise ValueError("heatmap expects instant-event input")
        return heatmap_op(self._df, window, field, bin_width,
                          partition_by, self.time_col)

    def ewma(self, field_spec="value", alpha: float = 0.5,
             partition_by: Sequence[str] = (),
             tiebreak: str | None = None) -> "TimeSeries":
        """Exponentially weighted moving average per series (engine
        addition; Arrow-batched sequential recurrence). Pass ``tiebreak=``
        when duplicate timestamps are possible."""
        if self._kind != "time":
            raise ValueError("ewma expects instant-event input")
        return self._with(ewma_op(self._df, field_spec, alpha,
                                  partition_by, self.time_col, tiebreak))

    def holt(self, field: str = "value", alpha: float = 0.5,
             beta: float = 0.5, partition_by: Sequence[str] = (),
             tiebreak: str | None = None) -> "TimeSeries":
        """Holt double exponential smoothing — level + linear trend per
        series (engine addition; see ``operators.rolling.holt``)."""
        if self._kind != "time":
            raise ValueError("holt expects instant-event input")
        from .operators.rolling import holt as holt_op
        return self._with(holt_op(self._df, field, alpha, beta,
                                  partition_by, self.time_col, tiebreak))

    def describe(self, field: str = "value",
                 group_by: str | Sequence[str] | None = None):
        """Pandas-style summary per group: count, mean, POPULATION std
        (the reference's stddev convention), min, exact interpolated
        quartiles, max — one partial-aggregable groupBy, the quartiles
        sharing the pass. Returns a plain DataFrame."""
        groups = ([group_by] if isinstance(group_by, str)
                  else list(group_by or []))
        col = F.col(field).cast("double")
        valid = F.when(col.isNotNull() & ~F.isnan(col), col)
        return (self._df.groupBy(*groups).agg(
            F.count(valid).alias("n"),
            F.avg(valid).alias("mean"),
            F.stddev_pop(valid).alias("std"),
            F.min(valid).alias("min"),
            F.percentile(valid, 0.25).alias("q25"),
            F.percentile(valid, 0.5).alias("q50"),
            F.percentile(valid, 0.75).alias("q75"),
            F.max(valid).alias("max")))

    def anomaly_ensemble(self, field: str = "value",
                         partition_by: Sequence[str] = (),
                         z_threshold: float = 3.0,
                         robust_threshold: float = 3.5,
                         seasonal_threshold: float = 3.0,
                         min_votes: int = 2,
                         tz: str = "UTC") -> "TimeSeries":
        """Majority-vote anomaly detection: z + robust z + seasonal
        deviation (engine addition; see
        ``operators.rolling.anomaly_ensemble``)."""
        if self._kind != "time":
            raise ValueError("anomaly_ensemble expects instant-event input")
        from .operators.rolling import anomaly_ensemble as ae_op
        return self._with(ae_op(self._df, field, partition_by,
                                self.time_col, z_threshold,
                                robust_threshold, seasonal_threshold,
                                min_votes, tz))

    def holt_winters(self, field: str = "value", period: int = 24,
                     alpha: float = 0.5, beta: float = 0.5,
                     gamma: float = 0.5,
                     partition_by: Sequence[str] = (),
                     tiebreak: str | None = None) -> "TimeSeries":
        """Holt-Winters additive smoothing — level + trend + seasonal per
        series (engine addition; see ``operators.rolling.holt_winters``)."""
        if self._kind != "time":
            raise ValueError("holt_winters expects instant-event input")
        from .operators.rolling import holt_winters as hw_op
        return self._with(hw_op(self._df, field, period, alpha, beta,
                                gamma, partition_by, self.time_col,
                                tiebreak))

    def zscore(self, field_spec="value", window: str | None = None,
               partition_by: Sequence[str] = (),
               threshold: float = 3.0) -> "TimeSeries":
        """Per-event z-score + anomaly flag against the whole series or a
        trailing window (engine addition)."""
        if self._kind != "time":
            raise ValueError("zscore expects instant-event input")
        return self._with(zscore_op(self._df, field_spec, window,
                                    partition_by, self.time_col, threshold))

    def take(self, limit: int, window: str | None = None,
             group_by=None) -> "TimeSeries":
        return self._with(take_op(self._df, limit, window, group_by,
                                  self.time_col))

    def dedup(self) -> "TimeSeries":
        return self._with(merge_ops.dedup(self._df, self._kind))

    # -- converters (SURVEY §2.8 Converter) ------------------------------------
    def as_events(self, alignment: str = "center") -> "TimeSeries":
        if self._kind == "time":
            return self
        if self._kind == "timerange":
            out = convert_ops.timerange_events_to_events(self._df, alignment)
        else:
            out = convert_ops.indexed_events_to_events(self._df, alignment)
        return TimeSeries(out, "time", self._meta)

    def as_timerange_events(self, duration: str | None = None,
                            alignment: str = "center") -> "TimeSeries":
        if self._kind == "timerange":
            return self
        if self._kind == "time":
            if duration is None:
                raise ValueError("point->range conversion needs a duration")
            out = convert_ops.events_to_timerange_events(self._df, duration,
                                                         alignment)
        else:
            out = convert_ops.indexed_events_to_timerange_events(self._df)
        return TimeSeries(out, "timerange", self._meta)

    def as_indexed_events(self, duration: str) -> "TimeSeries":
        if self._kind == "index":
            return self
        if self._kind == "timerange":
            raise ValueError(
                "TimeRangeEvent -> IndexedEvent is not supported "
                "(reference converter.py:167-169)")
        out = convert_ops.events_to_indexed_events(self._df, duration)
        return TimeSeries(out, "index", self._meta)

    # -- static multi-series ops (SURVEY §2.3) ---------------------------------
    @staticmethod
    def timeseries_list_merge(series: Sequence["TimeSeries"],
                              name: str | None = None) -> "TimeSeries":
        kind = series[0]._kind
        out = merge_ops.timeseries_list_merge([s._df for s in series], kind)
        return TimeSeries(out, kind, {"name": name} if name else {})

    @staticmethod
    def timeseries_list_sum(series: Sequence["TimeSeries"],
                            field_spec="value",
                            name: str | None = None) -> "TimeSeries":
        kind = series[0]._kind
        out = merge_ops.timeseries_list_sum([s._df for s in series],
                                            field_spec, kind)
        return TimeSeries(out, kind, {"name": name} if name else {})

    @staticmethod
    def timeseries_list_reduce(series: Sequence["TimeSeries"], field_spec,
                               func, name: str | None = None) -> "TimeSeries":
        kind = series[0]._kind
        out = merge_ops.timeseries_list_reduce([s._df for s in series],
                                               field_spec, func, kind)
        return TimeSeries(out, kind, {"name": name} if name else {})


def _dt(when: Any) -> datetime.datetime:
    from .util import dt_from_ms
    if isinstance(when, datetime.datetime):
        return when
    return dt_from_ms(ms_from_any(when))


def _aware(dtime: datetime.datetime) -> datetime.datetime:
    if dtime.tzinfo is None:
        return dtime.replace(tzinfo=datetime.timezone.utc)
    return dtime
