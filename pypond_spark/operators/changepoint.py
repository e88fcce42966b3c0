"""Changepoint detection over bucketed series.

CUSUM (Page 1954, *Continuous Inspection Schemes*): the classic
sequential drift detector.  Per series key the bucket means ``v_i`` are
folded through the two one-sided cumulative sums

    S+_i = max(0, S+_{i-1} + (v_i - mu) - k)
    S-_i = max(0, S-_{i-1} - (v_i - mu) - k)

and an alarm fires whenever either side exceeds the threshold ``h``;
after an alarm both sides restart at 0 (the standard restart scheme, so
one level shift yields one alarm, not one per subsequent bucket).
``mu`` is the series' own mean (self-referenced monitoring) unless an
explicit ``target`` is given — the streaming twin
(:func:`pypond_spark.streaming.stream.stream_cusum`) requires the
explicit target, since a cross-batch stream cannot know its final mean.

Bit-exact contract (the same discipline as ``dtw_to_template`` /
``dsir_weights``): bucket means are pinned to 6 decimals, then the whole
recurrence runs in INTEGERS.  With ``n`` buckets and integer micro-unit
values ``m_i = round(v_i, 6) * 1e6``, the residual against the series
mean is expressed n-scaled — ``r_i = n * m_i - sum(m)`` — which is exact
(no division), order-independent (integer sum), and identical in any
engine; ``k`` and ``h`` scale by the same ``n``.  The SQL twin replays
the fold with a recursive CTE and hash-matches.

There is no pypond counterpart (the reference has no changepoint
surface); this extends the timeseries-analytics layer the way
``theil_sen`` and ``holt_winters`` do.

Shape at 100 TB: ONE corpus-sized shuffle (the bucket groupBy), then a
per-key fold whose state is two longs plus the alarm list — the same
collect-the-bucket-frame contract as ``holt_winters`` (rows per key
bounded by the series' time span in buckets, not by event volume).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index import window_duration_ms
from ..util import timed_events

__all__ = ["cusum_changepoints"]


def cusum_changepoints(
    df: DataFrame,
    field: str = "value",
    bucket: str = "1h",
    partition_by: Sequence[str] = (),
    k: float = 0.5,
    h: float = 5.0,
    target: float | None = None,
    time_col: str = "time",
) -> DataFrame:
    """One row per CUSUM alarm: ``(*partition_by, t_ms, direction,
    stat, n_buckets)`` where ``t_ms`` is the alarmed bucket's start
    (epoch ms), ``direction`` is ``'up'``/``'down'`` (if both sides
    exceed ``h`` in the same bucket the larger statistic wins, ties to
    ``'up'``), and ``stat`` is the exceeding cumulative sum in value
    units (rounded to 6).

    ``k`` (allowance/drift) and ``h`` (decision threshold) are in
    absolute value units.  ``target=None`` monitors deviation from the
    series' own mean; an explicit ``target`` monitors deviation from
    that level (the streamable form).
    """
    b_ms = window_duration_ms(bucket)
    if b_ms is None or b_ms <= 0:
        raise ValueError(f"bucket must be a fixed window, got {bucket!r}")
    k_mic = int(round(float(k) * 1e6))
    h_mic = int(round(float(h) * 1e6))
    keys = [F.col(c) for c in partition_by]
    pos = (F.floor(F.unix_millis(F.col(time_col))
                   / F.lit(b_ms))).alias("__pos")
    # bucket mean in PURE integers: per-event micro values summed
    # (order-free BIGINT sum — a double avg's summation order varies
    # with partitioning and its round(,6) can tie-break differently
    # across engines; caught by the sf0.1 gate), then one integer
    # round-half-away division (2S+C) div (2C)
    ev_mic = F.round(F.round(F.col(field).cast("double"), 6) * 1e6) \
        .cast("long")
    bf = (timed_events(df, time_col).groupBy(*keys, pos)
          .agg(F.sum(ev_mic).alias("__S"),
               F.count(F.col(field)).alias("__C"))
          .where(F.col("__C") > 0)
          .withColumn("__v", F.expr(
              "IF(__S >= 0, (2 * __S + __C) div (2 * __C), "
              "-((-2 * __S + __C) div (2 * __C)))")))
    per_key = bf.groupBy(*partition_by).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__v"))),
            lambda s: F.struct(
                s["__pos"].alias("p"),
                s["__v"].alias("m"))
        ).alias("__s"))
    if target is None:
        # n-scaled exact residual: r = n*m - sum(m); thresholds scale by n.
        # sum(m) is hoisted into a column: inlining the aggregate(...) in
        # `resid` re-sums the whole bucket array per fold step (and per
        # mention in sp1/sn1/hit), turning the per-series fold O(n^2)
        per_key = per_key.withColumn(
            "__tot", F.expr("aggregate(__s, 0L, (a, e) -> a + e.m)"))
        scale = "size(__s)"
        resid = "size(__s) * x.m - __tot"
    else:
        t_mic = int(round(float(target) * 1e6))
        scale = "1"
        resid = f"x.m - {t_mic}L"
    # fold state: (sp, sn, alarms[(p, dir, stat)]); sp1/sn1 inlined since
    # SQL lambdas have no let-binding
    sp1 = f"greatest(0L, acc.sp + ({resid}) - {k_mic}L * {scale})"
    sn1 = f"greatest(0L, acc.sn - ({resid}) - {k_mic}L * {scale})"
    hit = f"({sp1} > {h_mic}L * {scale} OR {sn1} > {h_mic}L * {scale})"
    up = f"({sp1} >= {sn1})"
    fold = f"""
      aggregate(
        __s,
        named_struct(
          'sp', 0L, 'sn', 0L,
          'al', cast(array() as array<struct<p: bigint, d: string,
                                             s: bigint>>)),
        (acc, x) -> named_struct(
          'sp', IF({hit}, 0L, {sp1}),
          'sn', IF({hit}, 0L, {sn1}),
          'al', IF({hit},
                   array_append(acc.al, named_struct(
                     'p', x.p,
                     'd', IF({up}, 'up', 'down'),
                     's', IF({up}, {sp1}, {sn1}))),
                   acc.al)),
        acc -> acc.al)
    """
    out = per_key.select(
        *partition_by,
        F.size("__s").alias("n_buckets"),
        F.explode(F.expr(fold)).alias("__a"))
    # stat via integer round-half-away division, ONE double division at
    # the end: round(s/n/1e6, 6) compounds two double divisions and its
    # 6dp rounding can tie-break differently across engines
    d = "1" if target is not None else "n_buckets"
    smic = F.expr(f"(2 * __a.s + {d}) div (2 * {d})")
    return out.select(
        *partition_by,
        (F.col("__a.p") * F.lit(b_ms)).alias("t_ms"),
        F.col("__a.d").alias("direction"),
        F.round(smic / F.lit(1e6), 6).alias("stat"),
        "n_buckets")


def control_chart_rules(
    df: DataFrame,
    field: str = "value",
    bucket: str = "1h",
    partition_by: Sequence[str] = (),
    target: float = 0.0,
    sigma: float = 1.0,
    time_col: str = "time",
) -> DataFrame:
    """Western Electric control-chart zone rules (the 1956 SPC
    handbook; Shewhart-chart patterns) over bucketed means — the
    classic complement to CUSUM: CUSUM accumulates small persistent
    drifts, zone rules catch PATTERNS (one wild point, runs hugging a
    control limit, persistent same-side bias):

    - ``R1``: one point beyond 3σ;
    - ``R2``: >= 2 of the last 3 points beyond 2σ on the same side;
    - ``R3``: >= 4 of the last 5 points beyond 1σ on the same side;
    - ``R4``: 8 consecutive points on the same side of the target.

    ``target``/``sigma`` are explicit parameters (the streamable form —
    a monitored SLO level and its historical σ), so every comparison is
    an INTEGER micro-unit test against fixed thresholds: bucket means
    use the order-free micro-unit sum + ``(2S + C) div (2C)`` recipe
    (float-parity recipe #5), so the whole evaluation is
    engine-portable with no rounding boundaries anywhere.

    One row per (bucket, fired rule): ``(*partition_by, t_ms, rule,
    side, mean)``.  Plan: ONE corpus-sized bucket groupBy + four window
    aggregates over the per-series bucket frame (ordered by bucket
    position — the rolling-stats shape), no Python.
    """
    b_ms = window_duration_ms(bucket)
    if b_ms is None or b_ms <= 0:
        raise ValueError(f"bucket must be a fixed window, got {bucket!r}")
    if sigma <= 0:
        raise ValueError(f"sigma must be positive, got {sigma}")
    t_mic = int(round(float(target) * 1e6))
    s_mic = int(round(float(sigma) * 1e6))
    keys = [F.col(c) for c in partition_by]
    pos = (F.floor(F.unix_millis(F.col(time_col))
                   / F.lit(b_ms))).alias("__pos")
    ev_mic = F.round(F.round(F.col(field).cast("double"), 6) * 1e6) \
        .cast("long")
    bf = (timed_events(df, time_col).groupBy(*keys, pos)
          .agg(F.sum(ev_mic).alias("__S"),
               F.count(F.col(field)).alias("__C"))
          .where(F.col("__C") > 0)
          .withColumn("__m", F.expr(
              "IF(__S >= 0, (2 * __S + __C) div (2 * __C), "
              "-((-2 * __S + __C) div (2 * __C)))"))
          .withColumn("__d", F.col("__m") - F.lit(t_mic)))
    w = Window.partitionBy(*(keys or [F.lit(1)])).orderBy("__pos")

    def run_count(cond, span):
        return F.sum(F.when(cond, 1).otherwise(0)) \
            .over(w.rowsBetween(-(span - 1), 0))

    d = F.col("__d")
    rules = []
    for side, sgn in (("high", 1), ("low", -1)):
        sd = d * sgn
        rules += [
            (F.lit("R1"), F.lit(side), sd > 3 * s_mic),
            (F.lit("R2"), F.lit(side),
             (run_count(sd > 2 * s_mic, 3) >= 2) & (sd > 2 * s_mic)),
            (F.lit("R3"), F.lit(side),
             (run_count(sd > 1 * s_mic, 5) >= 4) & (sd > 1 * s_mic)),
            (F.lit("R4"), F.lit(side), run_count(sd > 0, 8) >= 8),
        ]
    fired = F.filter(
        F.array(*[F.when(cond, F.struct(r.alias("rule"),
                                        s.alias("side")))
                  for r, s, cond in rules]),
        lambda x: x.isNotNull())
    return (bf.select(*keys, "__pos", "__m", fired.alias("__f"))
            .where(F.size("__f") > 0)
            .select(*partition_by,
                    (F.col("__pos") * F.lit(b_ms)).alias("t_ms"),
                    F.explode("__f").alias("__r"),
                    F.round(F.col("__m") / 1e6, 6).alias("mean"))
            .select(*partition_by, "t_ms",
                    F.col("__r.rule").alias("rule"),
                    F.col("__r.side").alias("side"), "mean"))
