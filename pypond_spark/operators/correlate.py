"""Cross-series correlation over aligned time buckets.

Companion to ``align``/``merge``: where the reference leaves you to merge
two TimeSeries and compute statistics by hand (``TimeSeries.timeseries_list_
merge`` + ``Collection`` reducers), this measures how two series move
together — Pearson r of their bucket-averaged values per outer window.

Shape (the part that matters at 100 TB): both series are bucketed in ONE
``groupBy(bucket)`` using conditional aggregation (``avg(CASE WHEN series=a
THEN v END)``) — a single shuffle on the bucket key whose output is one row
per bucket — then the corr() pass groups those bucket rows by the outer
window, a second shuffle over an already-tiny frame. No join, no pivot, no
second scan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F

from ..index import window_duration_ms
from ..session import shuffle_width


def series_correlation(
    df: DataFrame,
    series_col: str,
    series_a: str,
    series_b: str,
    field: str = "value",
    bucket: str = "1h",
    window: str | None = "1d",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Pearson correlation between two series' bucket-mean values.

    Output: ``(*partition_by, pos?, r, n_buckets)`` — one row per outer
    ``window`` (``pos`` = epoch-anchored window position; ``window=None``
    correlates over the whole range, one row per group). ``n_buckets``
    counts buckets where BOTH series had data (corr's pairwise-complete
    semantics — a bucket missing either side contributes nothing).
    """
    b_ms = window_duration_ms(bucket)
    if b_ms is None:
        raise ValueError(f"bucket needs a fixed window spec, got {bucket!r}")
    keys = list(partition_by)
    col = F.col(field).cast("double")
    valid = col.isNotNull() & ~F.isnan(col)
    ms = F.unix_millis(F.col(time_col))
    bpos = F.floor(ms / F.lit(b_ms))

    # internal aliases, never derived from the user's series names (a name
    # with dots/spaces would break column resolution; a==b would collide)
    def side(name, alias: str) -> Column:
        return F.avg(F.when(F.col(series_col) == name, col)).alias(alias)

    buckets = (df.where(valid)
               .groupBy(*keys, bpos.alias("_bpos"))
               .agg(side(series_a, "__va"), side(series_b, "__vb")))

    va, vb = F.col("__va"), F.col("__vb")
    both = F.when(va.isNotNull() & vb.isNotNull(), 1)
    aggs = [F.corr(va, vb).alias("r"), F.count(both).alias("n_buckets")]
    if window is None:
        return buckets.groupBy(*keys).agg(*aggs)
    w_ms = window_duration_ms(window)
    if w_ms is None:
        raise ValueError(f"window needs a fixed window spec, got {window!r}")
    ratio = w_ms // b_ms
    if ratio <= 0 or w_ms % b_ms:
        raise ValueError(f"window {window!r} must be a multiple of "
                         f"bucket {bucket!r}")
    wpos = F.floor(F.col("_bpos") / F.lit(ratio))
    return buckets.groupBy(*keys, wpos.alias("pos")).agg(*aggs)


def autocorrelation(
    df: DataFrame,
    field: str = "value",
    lags: Sequence[int] = (1, 2, 3),
    bucket: str = "1h",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Per-series autocorrelation of bucket-mean values at each lag.

    ACF is the seasonality probe ``seasonal_anomaly`` assumes an answer
    to: a spike at lag 24 (hourly buckets) says "daily cycle". Lag is in
    BUCKET STEPS on the time axis, not row offsets — a missing bucket
    contributes no pair, so irregular series don't smear their lags the
    way a row-``lag()`` window would.

    Shape at 100 TB: ONE corpus-sized shuffle (the bucket groupBy);
    everything after runs on the bucket frame (|keys| x buckets/series
    rows), which is localCheckpointed so the corpus aggregation isn't
    recomputed for the self-join's second side. The lag join explodes
    the LEFT side by len(lags) — still bucket-frame-sized — and joins on
    (keys, pos+lag) = (keys, pos), a uniform key. Output: ``(*keys, lag,
    r, n_pairs)`` — ``r`` is sample Pearson (both engines' ``corr``),
    ``n_pairs`` the bucket pairs that existed at that offset.
    """
    b_ms = window_duration_ms(bucket)
    if b_ms is None:
        raise ValueError(f"bucket needs a fixed window spec, got {bucket!r}")
    lag_list = [int(k) for k in lags]
    if not lag_list or any(k <= 0 for k in lag_list):
        raise ValueError(f"lags must be positive ints, got {lags!r}")
    keys = list(partition_by)
    col = F.col(field).cast("double")
    valid = col.isNotNull() & ~F.isnan(col)
    bpos = F.floor(F.unix_millis(F.col(time_col)) / F.lit(b_ms))
    buckets = (df.where(valid)
               .groupBy(*keys, bpos.alias("__bpos"))
               .agg(F.avg(col).alias("__v"))
               .localCheckpoint())
    left = (buckets
            .select(*keys, "__bpos", F.col("__v").alias("__v0"),
                    F.explode(F.array(*[F.lit(k) for k in lag_list]))
                    .alias("lag"))
            .withColumn("__tpos", F.col("__bpos") + F.col("lag")))
    right = buckets.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        F.col("__bpos").alias("__rpos"), F.col("__v").alias("__v1"))
    cond = F.col("__tpos") == F.col("__rpos")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    return (left.join(right, cond)
            .groupBy(*keys, "lag")
            .agg(F.corr("__v0", "__v1").alias("r"),
                 F.count("*").alias("n_pairs")))


def _theil_sen_grouped(df: DataFrame, keys: list[str], valid,
                       bpos, col) -> DataFrame:
    """Keyed Theil–Sen as ONE corpus aggregate + a per-key vectorized
    Arrow stage (r15, guide §4.2/§8): the old shape materialized every
    O(B²) pair as JVM join rows and fed 3M+ slopes through the
    Percentile aggregate's per-group counts-map (measured: the median
    aggregate alone was ~2.3 s of the 3.6 s row; the pair JOIN was
    0.5 s).  Here only the BUCKET rows (B per key, the small proxy)
    cross to Python; the pairwise slope matrix, both exact medians and
    the residual intercept run in numpy per key.  Bit-identical by
    construction: same (vb-va)/double(pb-pa) slope doubles, and both
    medians replay Percentile's exact interpolation
    ``lo + 0.5 * (hi - lo)`` (NOT ``(lo+hi)/2`` — different rounding)
    over the same sorted doubles.  Scale shape: the corpus-sized pass
    is the partial-aggregable bucket groupBy (unchanged); the Arrow
    stage's groups are bucket-frames of ≤ ~1e3 rows each (the
    documented coarsening lever), so per-group memory is O(B²) doubles
    exactly like the old join's per-group aggregate buffer."""
    import numpy as np
    import pandas as pd

    n_parts = shuffle_width(df.sparkSession)
    # bucket agg keeps its own exchange (partial map-side aggregation
    # shuffles partially-agged buckets, never raw events — §2.3); the
    # explicit key repartition of the BUCKET frame then satisfies the
    # apply's clustering AND — because user repartitions are exempt
    # from AQE coalescing — pins the apply stage's width.  AQE
    # otherwise coalesces the tiny bucket shuffle to ONE partition and
    # the per-group Python protocol (~2 ms/group, measured) runs
    # serial: 1500 groups took 3.5 s in one task vs spread over the
    # session width.
    buckets = (df.where(valid)
               .groupBy(*keys, bpos.alias("__p"))
               .agg(F.avg(col).alias("__v"))
               .repartition(n_parts, *[F.col(k) for k in keys]))
    key_fields = [df.schema[k] for k in keys]
    out_schema = T.StructType(key_fields + [
        T.StructField("ts_slope", T.DoubleType()),
        T.StructField("ts_intercept", T.DoubleType()),
        T.StructField("n_pairs", T.LongType()),
        T.StructField("n_buckets", T.LongType()),
    ])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__p")
        n = len(pdf)
        if n < 2:
            # single-bucket series drop from the output (the old inner
            # join against the pair frame had no row to match)
            return pdf.iloc[:0][keys].assign(
                ts_slope=np.float64(0), ts_intercept=np.float64(0),
                n_pairs=np.int64(0), n_buckets=np.int64(0))
        p = pdf["__p"].to_numpy(dtype=np.int64)
        v = pdf["__v"].to_numpy(dtype=np.float64)
        iu, il = np.triu_indices(n, 1)
        # (vb - va) / double(pb - pa): integer delta then cast, the
        # join formula's exact op order
        slopes = ((v[il] - v[iu])
                  / (p[il] - p[iu]).astype(np.float64))
        s = np.sort(slopes)
        m = len(s) - 1
        lo, hi = s[m // 2], s[(m + 1) // 2]
        # Percentile's interpolation is the WEIGHTED form
        # (higher-pos)*lo + (pos-lower)*hi — one ulp off from
        # lo + d*(hi-lo) on real data, measured — while the intercept
        # below replays the old ARRAY formula lo + 0.5*(hi-lo): each
        # must match its own predecessor bit-for-bit
        slope = lo if m % 2 == 0 else 0.5 * lo + 0.5 * hi
        resid = np.sort(v - slope * (p - p[0]).astype(np.float64))
        mm = n - 1
        rlo, rhi = resid[mm // 2], resid[(mm + 1) // 2]
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["ts_slope"] = [slope]
        out["ts_intercept"] = [rlo + 0.5 * (rhi - rlo)]
        out["n_pairs"] = [np.int64(len(slopes))]
        out["n_buckets"] = [np.int64(n)]
        return pd.DataFrame(out)

    return buckets.groupBy(*keys).applyInPandas(fn, out_schema)


def theil_sen(df: DataFrame, field: str = "value",
              bucket: str = "1h",
              partition_by: Sequence[str] = (),
              time_col: str = "time") -> DataFrame:
    """Per-series Theil–Sen trend: the MEDIAN of all pairwise slopes,
    plus the matching median intercept — the robust twin of ``trend``'s
    OLS fit (one wild outlier can't drag it; breakdown point ~29%).

    Slope units are field-units per BUCKET step; x positions are bucket
    positions shifted to each series' own start (same conditioning move
    as ``trend``; for medians it also keeps the intercept interpretable
    as the fitted value at the series' first bucket).

    Scale bound, stated honestly: Theil–Sen is inherently O(B^2) pairs
    per series in B buckets. Bucketing IS the lever — the corpus-sized
    pass is the ONE bucket groupBy shuffle, and the quadratic term runs
    on the bucket frame (coarsen ``bucket`` until B/series is ~1e3, i.e.
    <=1e6 pairs/series). Series with a single bucket have no pair and
    drop from the output, matching the SQL twin's inner join.

    Output: ``(*keys, ts_slope, ts_intercept, n_pairs, n_buckets)``.
    """
    b_ms = window_duration_ms(bucket)
    if b_ms is None:
        raise ValueError(f"bucket needs a fixed window spec, got {bucket!r}")
    keys = list(partition_by)
    col = F.col(field).cast("double")
    bpos = F.floor(F.unix_millis(F.col(time_col)) / F.lit(b_ms))
    # a NULL-time row has no bucket position: drop it like a NULL value
    valid = col.isNotNull() & ~F.isnan(col) & bpos.isNotNull()
    if keys:
        return _theil_sen_grouped(df, keys, valid, bpos, col)
    # ONE bucket aggregate whose keys-exchange is REUSED three ways
    # (pair-join left, pair-join right, array collect) — replaces the
    # old localCheckpoint + window + join-back (4 sequential exchanges
    # and an extra materialize job).  The O(B^2) pair term stays a
    # codegen sort-merge self-join (an interpreted array-lambda build
    # measured ~30% slower, an exploded-pairs-carrying-the-array
    # variant 7x slower); the intercept median moves onto the
    # collected array so the bucket rows are never re-shuffled.
    # localCheckpoint: three consumers (pair-join left/right, the
    # array collect) read the bucket frame — materializing it once
    # beats both re-aggregating the scan per consumer (3 scans; AQE
    # does not reuse the exchanges across the broadcast-join branches)
    # and deriving pairs from the collected array (measured slower:
    # the explode re-runs the collect per branch)
    buckets = (df.where(valid)
               .groupBy(*keys, bpos.alias("__p"))
               .agg(F.avg(col).alias("__v"))
               .localCheckpoint())
    arr = (buckets.groupBy(*keys)
           .agg(F.sort_array(F.collect_list(
               F.struct(F.col("__p"), F.col("__v")))).alias("__a")))
    a = buckets.select(*keys, F.col("__p").alias("__pa"),
                       F.col("__v").alias("__va"))
    b = buckets.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        F.col("__p").alias("__pb"), F.col("__v").alias("__vb"))
    # x positions are bucket positions shifted to the series' start;
    # the shift cancels in slope differences, so pairs compare __p
    # directly — same doubles as the old (xb - xa) divisor
    cond = F.col("__pb") > F.col("__pa")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    slopes = (a.join(b, cond)
              .groupBy(*keys)
              .agg(F.median((F.col("__vb") - F.col("__va"))
                            / (F.col("__pb") - F.col("__pa"))
                            .cast("double")).alias("ts_slope"),
                   F.count("*").alias("__n_pairs")))
    # both sides are key-partitioned aggregates of the same exchange,
    # so this join adds no shuffle; the keyless variant is one global
    # row — broadcast is bounded there by construction
    joined = (arr.join(slopes, keys) if keys
              else arr.crossJoin(F.broadcast(slopes)))
    ea = F.element_at
    n = F.size("__a")
    x0 = ea(F.col("__a"), 1)["__p"]
    resid = F.array_sort(F.transform(
        "__a", lambda e: e["__v"] - F.col("ts_slope")
        * (e["__p"] - x0).cast("double")))
    # Percentile's exact interpolation (lower + d * (upper - lower),
    # d = 0.5 at even counts): bit-identical to the old F.median
    # aggregate over the same residuals
    m = F.size(resid) - 1
    lo = ea(resid, F.floor(m / 2).cast("int") + 1)
    hi = ea(resid, F.ceil(m / 2).cast("int") + 1)
    intercept = F.when(m >= 0, lo + F.lit(0.5) * (hi - lo))
    # n_pairs keeps the old aggregate's edge values: NULL for the
    # keyless global row over an empty frame, 0 for a single bucket
    n_pairs = F.when(n >= 1, F.col("__n_pairs"))
    return joined.select(
        *keys, "ts_slope", intercept.alias("ts_intercept"),
        n_pairs.alias("n_pairs"), n.cast("long").alias("n_buckets"))


def rolling_correlation(
    df: DataFrame,
    series_col: str,
    series_a: str,
    series_b: str,
    field: str = "value",
    bucket: str = "1h",
    lookback: int = 24,
    partition_by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Trailing-window Pearson r + OLS beta between two series' bucket
    means — ``series_correlation``'s rolling twin ("how correlated were
    clicks and views over the LAST day, at every hour").

    The window is ``lookback`` bucket steps on the TIME axis (RANGE
    frame over bucket position, so missing buckets shrink the sample
    instead of silently stretching the horizon the way a ROWS frame
    would). Both r and beta come from six incremental window sums
    (n, sx, sy, sxx, syy, sxy) — O(1) state per row inside whole-stage
    codegen, no re-scan of the frame per row, no UDF.

    Shape at 100 TB: ONE corpus-sized shuffle (the conditional-agg
    bucket groupBy, same move as series_correlation); the six window
    sums then run per key on the bucket frame — a second, bucket-sized
    exchange. Buckets where either series is missing carry NULL sums for
    the pair terms (corr's pairwise-complete semantics: only buckets
    with BOTH sides contribute).

    Output: ``(*partition_by, pos, r, beta, n_pairs)`` — one row per
    bucket that has both series; ``beta`` is the OLS slope of b on a.
    """
    from pyspark.sql import Window

    b_ms = window_duration_ms(bucket)
    if b_ms is None:
        raise ValueError(f"bucket needs a fixed window spec, got {bucket!r}")
    if lookback <= 0:
        raise ValueError(f"lookback must be positive, got {lookback!r}")
    keys = list(partition_by)
    col = F.col(field).cast("double")
    valid = col.isNotNull() & ~F.isnan(col)
    bpos = F.floor(F.unix_millis(F.col(time_col)) / F.lit(b_ms))

    def side(name, alias: str) -> Column:
        return F.avg(F.when(F.col(series_col) == name, col)).alias(alias)

    buckets = (df.where(valid)
               .groupBy(*keys, bpos.alias("pos"))
               .agg(side(series_a, "__va"), side(series_b, "__vb")))
    va, vb = F.col("__va"), F.col("__vb")
    both = va.isNotNull() & vb.isNotNull()
    w = (Window.partitionBy(*keys) if keys
         else Window.partitionBy(F.lit(0))) \
        .orderBy("pos") \
        .rangeBetween(-(lookback - 1), Window.currentRow)
    paired = buckets.select(
        *keys, "pos", "__va", "__vb",
        F.count(F.when(both, 1)).over(w).alias("__n"),
        F.sum(F.when(both, va)).over(w).alias("__sx"),
        F.sum(F.when(both, vb)).over(w).alias("__sy"),
        F.sum(F.when(both, va * va)).over(w).alias("__sxx"),
        F.sum(F.when(both, vb * vb)).over(w).alias("__syy"),
        F.sum(F.when(both, va * vb)).over(w).alias("__sxy"))
    n = F.col("__n").cast("double")
    cov_n = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    var_x = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    var_y = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    return (paired
            .where(both)
            .select(*keys, "pos",
                    F.try_divide(cov_n, F.sqrt(var_x * var_y)).alias("r"),
                    F.try_divide(cov_n, var_x).alias("beta"),
                    F.col("__n").alias("n_pairs")))


def trend(df: DataFrame, field: str = "value",
          partition_by: Sequence[str] = (),
          time_unit: str = "1h", time_col: str = "time") -> DataFrame:
    """Per-series OLS trend: slope (field units per ``time_unit``) and
    intercept of the least-squares line through (t, x) — "is this metric
    drifting, and how fast", the fit CUSUM's alarm asks about.

    Times are shifted to each series' own start BEFORE squaring (raw
    epoch-ms squared exceeds double precision — 1.7e12^2 needs 25
    digits; hours-since-start keeps every sum well-conditioned). The
    shift is an unordered whole-partition window min, so the plan is ONE
    hash exchange feeding the window AND the final per-key aggregation —
    no second shuffle, partial-aggregable sums. Invalid samples are
    excluded. Output: ``(*keys, slope, intercept, n)``; intercept is the
    fitted value at the series' first timestamp.
    """
    from pyspark.sql import Window

    dur = window_duration_ms(time_unit)
    if dur is None:
        raise ValueError(f"time_unit must be a fixed window spec, "
                         f"got {time_unit!r}")
    keys = list(partition_by)
    x = F.col(field).cast("double")
    valid = x.isNotNull() & ~F.isnan(x)
    ms = F.unix_millis(F.col(time_col))
    w = Window.partitionBy(*keys)
    t = ((ms - F.min(F.when(valid, ms)).over(w))
         / F.lit(float(dur))).alias("__t")
    base = df.where(valid).select(*keys, t, x.alias("__x"))
    agg = base.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum("__t").alias("__sx"),
        F.sum("__x").alias("__sy"),
        F.sum(F.col("__t") * F.col("__t")).alias("__sxx"),
        F.sum(F.col("__t") * F.col("__x")).alias("__sxy"))
    n = F.col("n").cast("double")
    denom = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.try_divide(n * F.col("__sxy")
                         - F.col("__sx") * F.col("__sy"), denom)
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    return agg.select(*keys, slope.alias("slope"),
                      intercept.alias("intercept"), "n")


def dtw_to_template(
    df: DataFrame,
    template: Sequence[float],
    field: str = "value",
    bucket: str = "1h",
    partition_by: Sequence[str] = (),
    time_col: str = "time",
) -> DataFrame:
    """Asymmetric dynamic-time-warping distance of each series to a
    fixed template (Sakoe & Chiba 1978, asymmetric step pattern: every
    input bucket is consumed exactly once and the template index
    advances 0 or 1 — the slope-constrained form whose DP row depends
    only on the PREVIOUS row, so the whole recurrence is one
    ``aggregate`` fold over the ordered bucket values; no Python, no
    per-row UDF).  The pattern-matching score "how well does this
    series trace the template shape, allowing time stretching".

    Bit-exact contract: bucket means are pinned to 6 decimals, then the
    DP runs in INTEGER micro-units (|v*1e6 - t*1e6| costs, min/plus
    folds) — identical in any engine, so the SQL twin replays the DP
    with a recursive CTE carrying the row as a LIST and hash-matches.

    Shape at 100 TB: ONE corpus-sized shuffle (bucket groupBy), then a
    per-key collect of the bucket frame (buckets/series rows — bounded
    by the series' time span, same contract as ``holt_winters``) and a
    scan-level fold whose state is ``len(template)`` longs.  Series
    shorter than the template cannot finish the path -> NULL.
    """
    b_ms = window_duration_ms(bucket)
    if b_ms is None or b_ms <= 0:
        raise ValueError(f"bucket must be a fixed window, got {bucket!r}")
    t_micro = [int(round(float(t) * 1e6)) for t in template]
    m = len(t_micro)
    if m < 1:
        raise ValueError("template must be non-empty")
    inf = 1 << 60
    keys = [F.col(c) for c in partition_by]
    pos = (F.floor(F.unix_millis(F.col(time_col))
                   / F.lit(b_ms))).alias("__pos")
    bf = (df.groupBy(*keys, pos)
          .agg(F.round(F.avg(field), 6).alias("__v")))
    per_key = bf.groupBy(*partition_by).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__v"))),
            lambda s: F.round(s["__v"] * 1e6).cast("long")).alias("__s"))
    t_arr = ", ".join(str(t) for t in t_micro)
    # seed: first value may only sit on template position 1; fold the
    # rest with D'[j] = cost(v, T[j]) + min(D[j], D[j-1])
    dp = (
        f"aggregate(slice(__s, 2, size(__s) - 1), "
        f"transform(array({t_arr}), (t, j) -> IF(j = 0, "
        f"abs(element_at(__s, 1) - t), {inf}L)), "
        f"(acc, v) -> zip_with(array({t_arr}), "
        f"transform(sequence(1, {m}), j -> "
        f"least(element_at(acc, j), IF(j = 1, {inf}L, "
        f"element_at(acc, greatest(j - 1, 1))))), "
        f"(t, best) -> IF(best >= {inf}L, {inf}L, abs(v - t) + best)))")
    out = per_key.select(
        *partition_by, F.size("__s").alias("n_buckets"),
        F.expr(f"element_at({dp}, {m})").alias("__d"))
    return out.select(
        *partition_by, "n_buckets",
        F.when(F.col("__d") < inf, F.col("__d")).alias("dtw_micro"),
        F.when(F.col("__d") < inf,
               F.round(F.col("__d") / 1e6, 6)).alias("dtw"))
