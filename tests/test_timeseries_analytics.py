"""Gap detection, OHLC, seasonal profiles/anomalies, series correlation."""

import math

import pytest
from pyspark.sql import functions as F

from pypond_spark import TimeSeries

MIN = 60_000


def _ts(spark, points, columns=("time", "value"), **extra):
    wire = {"name": "t", "columns": list(columns), "points": points}
    wire.update(extra)
    return TimeSeries.from_wire(spark, wire)


def test_find_gaps(spark):
    # events at minutes 0, 1, 30, 31, 90 -> gaps 1->30 (29m) and 31->90 (59m)
    pts = [[m * MIN, 1.0] for m in (0, 1, 30, 31, 90)]
    out = _ts(spark, pts).find_gaps("15m").orderBy("gap_start").collect()
    assert [(r["gap_start"].minute + r["gap_start"].hour * 60,
             r["gap_end"].minute + r["gap_end"].hour * 60,
             r["gap_ms"]) for r in out] == [
        (1, 30, 29 * MIN), (31, 90, 59 * MIN)]


def test_find_gaps_partitioned_and_threshold_exclusive(spark):
    # per-user series; a gap EXACTLY equal to min_gap does not fire
    rows = [(0, "a", 1.0), (10 * MIN, "a", 1.0), (40 * MIN, "a", 1.0),
            (0, "b", 1.0), (25 * MIN, "b", 1.0)]
    df = spark.createDataFrame(
        rows, "ms long, user string, value double"
    ).select(F.timestamp_millis("ms").alias("time"), "user", "value")
    ts = TimeSeries(df, kind="time")
    out = ts.find_gaps("10m", partition_by=["user"]).collect()
    got = {(r["user"], r["gap_ms"]) for r in out}
    assert got == {("a", 30 * MIN), ("b", 25 * MIN)}


def test_ohlc_rollup_basic(spark):
    pts = [[0, 4.0], [MIN, 9.0], [2 * MIN, 1.0], [3 * MIN, 6.0],
           [61 * MIN, 5.0]]
    out = TimeSeries.from_wire(
        spark, {"name": "t", "columns": ["time", "value"], "points": pts}
    ).ohlc_rollup("1h").df.orderBy("index").collect()
    assert [(r["open"], r["high"], r["low"], r["close"]) for r in out] == [
        (4.0, 9.0, 1.0, 6.0), (5.0, 5.0, 5.0, 5.0)]


def test_ohlc_tiebreak_deterministic(spark):
    # two events share a timestamp; tiebreak column decides open/close
    df = spark.createDataFrame(
        [(0, 2, 10.0), (0, 1, 20.0), (MIN, 3, 15.0)],
        "ms long, seq long, value double"
    ).select(F.timestamp_millis("ms").alias("time"), "seq", "value")
    out = TimeSeries(df, kind="time").ohlc_rollup(
        "1h", tiebreak="seq").df.collect()[0]
    assert out["open"] == 20.0      # (t=0, seq=1) beats (t=0, seq=2)
    assert out["close"] == 15.0
    assert (out["high"], out["low"]) == (20.0, 10.0)


def test_seasonal_profile_and_anomaly(spark):
    # epoch 0 = Thu 1970-01-01; hour-0 samples 10/20 and hour-1 samples
    # 30/50 on two consecutive Thursdays (dow: Sunday-based, Thu = 4)
    week = 7 * 24 * 60 * MIN
    rows = [(0, 10.0), (week, 20.0),
            (60 * MIN, 30.0), (week + 60 * MIN, 50.0)]
    df = spark.createDataFrame(rows, "ms long, value double") \
        .select(F.timestamp_millis("ms").alias("time"), "value")
    ts = TimeSeries(df, kind="time")
    prof = {(r["dow"], r["hod"]): (r["mean"], r["std"], r["n"])
            for r in ts.seasonal_profile().collect()}
    assert prof == {(4, 0): (15.0, 5.0, 2), (4, 1): (40.0, 10.0, 2)}

    dev = {(r["value"]): r["deviation"]
           for r in ts.seasonal_anomaly().df.collect()}
    assert dev[10.0] == -1.0 and dev[20.0] == 1.0
    assert dev[30.0] == -1.0 and dev[50.0] == 1.0


def test_seasonal_anomaly_min_n_and_zero_var(spark):
    rows = [(0, 10.0), (60 * MIN, 5.0), (7 * 24 * 60 * MIN + 60 * MIN, 5.0)]
    df = spark.createDataFrame(rows, "ms long, value double") \
        .select(F.timestamp_millis("ms").alias("time"), "value")
    out = TimeSeries(df, kind="time").seasonal_anomaly().df.collect()
    # hour-0 slot has n=1 (< min_n) -> NULL; hour-1 slot has zero variance
    assert all(r["deviation"] is None for r in out)


def test_series_correlation_perfect_and_inverse(spark):
    # series a rises 1..4 per hour-bucket; b falls 8..5 -> r = -1 per day;
    # a vs a' (scaled) -> r = +1
    rows = []
    for h, (va, vb) in enumerate(zip([1, 2, 3, 4], [8, 7, 6, 5])):
        rows += [(h * 60 * MIN, "a", float(va)), (h * 60 * MIN, "b", float(vb))]
    df = spark.createDataFrame(rows, "ms long, series string, value double") \
        .select(F.timestamp_millis("ms").alias("time"), "series", "value")
    ts = TimeSeries(df, kind="time")
    out = ts.series_correlation("series", "a", "b").collect()
    assert len(out) == 1
    assert math.isclose(out[0]["r"], -1.0) and out[0]["n_buckets"] == 4

    whole = ts.series_correlation("series", "a", "b", window=None).collect()
    assert math.isclose(whole[0]["r"], -1.0)


def test_series_correlation_pairwise_complete(spark):
    # bucket 2 has only series a -> contributes nothing to r or n_buckets
    rows = [(0, "a", 1.0), (0, "b", 2.0),
            (60 * MIN, "a", 2.0), (60 * MIN, "b", 4.0),
            (120 * MIN, "a", 99.0)]
    df = spark.createDataFrame(rows, "ms long, series string, value double") \
        .select(F.timestamp_millis("ms").alias("time"), "series", "value")
    out = TimeSeries(df, kind="time").series_correlation(
        "series", "a", "b", window=None).collect()[0]
    assert out["n_buckets"] == 2
    assert math.isclose(out["r"], 1.0)


def test_series_correlation_rejects_misaligned_window(spark):
    df = spark.createDataFrame([(0, "a", 1.0)],
                               "ms long, series string, value double") \
        .select(F.timestamp_millis("ms").alias("time"), "series", "value")
    try:
        TimeSeries(df, kind="time").series_correlation(
            "series", "a", "b", bucket="7m", window="1h")
    except ValueError as exc:
        assert "multiple" in str(exc)
    else:
        raise AssertionError("expected ValueError")


def test_cumulative_running_aggs(spark):
    pts = [[0, 10.0], [MIN, None], [2 * MIN, 5.0], [3 * MIN, 20.0]]
    out = _ts(spark, pts).cumulative(
        {"v_cum": {"value": "sum"}, "v_runmax": {"value": "max"},
         "n_seen": {"value": "count"}}).df.orderBy("time").collect()
    assert [r["v_cum"] for r in out] == [10.0, 10.0, 15.0, 35.0]
    assert [r["v_runmax"] for r in out] == [10.0, 10.0, 10.0, 20.0]
    assert [r["n_seen"] for r in out] == [1, 1, 2, 3]


def test_cumulative_tiebreak(spark):
    # duplicate timestamps: tiebreak defines the prefix order
    df = spark.createDataFrame(
        [(0, 2, 1.0), (0, 1, 10.0), (MIN, 3, 100.0)],
        "ms long, seq long, value double"
    ).select(F.timestamp_millis("ms").alias("time"), "seq", "value")
    from pypond_spark import TimeSeries
    out = TimeSeries(df, kind="time").cumulative(
        {"v_cum": {"value": "sum"}}, tiebreak="seq") \
        .df.orderBy("seq").collect()
    assert [r["v_cum"] for r in out] == [10.0, 11.0, 111.0]


def test_m4_downsample(spark):
    # one 1h bucket: first(0s)=3, max(1m)=9, min(2m)=1, last(3m)=6
    pts = [[0, 3.0], [MIN, 9.0], [2 * MIN, 1.0], [3 * MIN, 6.0],
           [90 * MIN, 7.0]]
    out = _ts(spark, pts).m4_downsample("1h").df.orderBy("time").collect()
    got = [(r["value"], r["tags"]) for r in out]
    assert got == [(3.0, "first"), (9.0, "max"), (1.0, "min"),
                   (6.0, "last"), (7.0, "first,last,max,min")]


def test_m4_bounded_output(spark):
    # 100 points, 1 bucket -> at most 4 survivors; invalid samples drop
    pts = [[i * 1000, float(i % 37)] for i in range(100)]
    pts[50][1] = None
    out = _ts(spark, pts).m4_downsample("1h").df.collect()
    assert 1 <= len(out) <= 4
    roles = ",".join(sorted(",".join(r["tags"] for r in out).split(",")))
    assert set(roles.split(",")) == {"first", "last", "min", "max"}


def test_m4_tiebreak_duplicate_values(spark):
    # duplicate extreme values: tiebreak picks the earliest deterministic
    df = spark.createDataFrame(
        [(0, 1, 5.0), (1000, 2, 5.0), (2000, 3, 5.0)],
        "ms long, seq long, value double"
    ).select(F.timestamp_millis("ms").alias("time"), "seq", "value")
    from pypond_spark import TimeSeries
    out = {r["time"].second: r["tags"] for r in TimeSeries(df, kind="time")
           .m4_downsample("1h", tiebreak="seq").df.collect()}
    assert out == {0: "first,max,min", 2: "last"}


def test_rate_counter_wrap_batch(spark):
    pts = [[0, 250.0], [10_000, 5.0], [20_000, 10.0]]
    out = _ts(spark, pts).rate(counter_wrap=256).df.orderBy("end").collect()
    # 250 -> 5 wraps: (5 + 256 - 250)/10 = 1.1 ; 5 -> 10: 0.5
    assert out[0]["value_rate"] == 1.1
    assert out[1]["value_rate"] == 0.5


def test_rate_counter_wrap_rejects_no_negative(spark):
    try:
        _ts(spark, [[0, 1.0]]).rate(allow_negative=False, counter_wrap=256)
    except ValueError as exc:
        assert "counter_wrap" in str(exc)
    else:
        raise AssertionError("expected ValueError")


def test_seasonal_profile_tz(spark):
    # 1970-01-01 00:30 UTC is 1969-12-31 19:30 in New York (Wed, hod 19)
    df = spark.createDataFrame([(30 * MIN, 1.0)], "ms long, value double") \
        .select(F.timestamp_millis("ms").alias("time"), "value")
    utc = TimeSeries(df, kind="time").seasonal_profile().collect()[0]
    ny = TimeSeries(df, kind="time").seasonal_profile(
        tz="America/New_York").collect()[0]
    assert (utc["dow"], utc["hod"]) == (4, 0)
    assert (ny["dow"], ny["hod"]) == (3, 19)


def _typed_ts(spark, rows):
    df = spark.createDataFrame(
        rows, "ms long, user long, event_type string"
    ).select(F.timestamp_millis("ms").alias("time"), "user", "event_type")
    return TimeSeries(df, kind="time")


def test_funnel_steps_order_and_window(spark):
    H = 3_600_000
    rows = [
        # user 1 completes A -> B -> C in order
        (0, 1, "A"), (1 * H, 1, "B"), (2 * H, 1, "C"),
        # user 2 did B BEFORE A: step 2 must not count it
        (0, 2, "B"), (1 * H, 2, "A"),
        # user 3 completes B but outside the within-window
        (0, 3, "A"), (30 * 24 * H, 3, "B"),
        # user 4 never did A: absent from the funnel
        (0, 4, "B"),
    ]
    out = {r["user"]: (r["t1_ms"], r["t2_ms"], r["t3_ms"])
           for r in _typed_ts(spark, rows).funnel(
               ["A", "B", "C"], entity_col="user", within="7d").collect()}
    assert out[1] == (0, H, 2 * H)
    assert out[2] == (H, None, None)
    assert out[3] == (0, None, None)
    assert 4 not in out


def test_funnel_requires_two_steps(spark):
    import pytest as _pt
    with _pt.raises(ValueError):
        _typed_ts(spark, [(0, 1, "A")]).funnel(["A"], entity_col="user")


def test_retention_cohorts(spark):
    D = 86_400_000
    rows = [
        (0, 1, "x"), (1 * D, 1, "x"), (3 * D, 1, "x"),   # cohort 0
        (0, 2, "x"), (1 * D, 2, "x"),                     # cohort 0
        (1 * D, 3, "x"), (2 * D, 3, "x"),                 # cohort 1
    ]
    out = {(r["cohort"], r["offset"]): r["n_active"]
           for r in _typed_ts(spark, rows).retention(
               entity_col="user", period="1d").collect()}
    assert out[(0, 0)] == 2 and out[(0, 1)] == 2 and out[(0, 3)] == 1
    assert out[(1, 0)] == 1 and out[(1, 1)] == 1
    assert (0, 2) not in out


def test_winsorize(spark):
    pts = [[i * 1000, v] for i, v in
           enumerate([1.0, 2.0, 3.0, 4.0, 100.0, None])]
    out = _ts(spark, pts).winsorize("value", 0.25, 0.75).df \
        .orderBy("time").collect()
    lo, hi = out[0]["value_lo"], out[0]["value_hi"]
    assert lo == 2.0 and hi == 4.0      # exact quartiles of 1,2,3,4,100
    ws = [r["value_w"] for r in out]
    assert ws[:5] == [2.0, 2.0, 3.0, 4.0, 4.0]
    assert ws[5] is None                 # invalid sample stays invalid


def test_robust_zscore_outlier_immunity(spark):
    # mean/sigma z would be dragged by the 1000 spike; median/MAD is not
    pts = [[i * 1000, v] for i, v in
           enumerate([10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 1000.0])]
    out = {r["value"]: (r["value_rz"], r["value_outlier"]) for r in
           _ts(spark, pts).robust_zscore("value").df.collect()}
    assert out[1000.0][1] is True
    assert all(not flag for v, (rz, flag) in out.items() if v != 1000.0)


def test_robust_zscore_zero_mad(spark):
    pts = [[i * 1000, 5.0] for i in range(4)]
    out = _ts(spark, pts).robust_zscore("value").df.collect()
    assert all(r["value_rz"] is None and r["value_outlier"] is False
               for r in out)


def test_rank_normalize(spark):
    pts = [[i * 1000, v] for i, v in
           enumerate([10.0, 30.0, 20.0, None, 40.0])]
    out = {r["value"]: r["value_pr"] for r in
           _ts(spark, pts).rank_normalize("value").df.collect()}
    assert out[10.0] == 0.0 and out[40.0] == 1.0
    assert out[20.0] == 1 / 3 and out[30.0] == 2 / 3
    assert out[None] is None     # invalid rows don't shift ranks


def _cusum_seq(vals, target, slack):
    c, out = 0.0, []
    for v in vals:
        if v is not None and not math.isnan(v):
            c = max(0.0, c + ((v - target) - slack))
        out.append(c)
    return out


def test_cusum_matches_sequential_recurrence(spark):
    # closed form (running sum - min(0, running min)) == the textbook
    # max(0, C + x - t - s) fold, including NULLs holding the level
    vals = [10.0, 14.0, 9.0, None, 30.0, 2.0, 25.0, 24.0]
    pts = [[i * 1000, v] for i, v in enumerate(vals)]
    out = (_ts(spark, pts).cusum("value", target=12.0, slack=1.0,
                                 threshold=15.0).df
           .orderBy("time").collect())
    expect = _cusum_seq(vals, 12.0, 1.0)
    got = [r["value_cusum"] for r in out]
    assert got == [pytest.approx(e, abs=1e-12) for e in expect]
    assert [r["value_alarm"] for r in out] == [e > 15.0 for e in expect]


def test_cusum_per_group_mean_target(spark):
    # target=None scores drift against each series' own mean
    rows = [(i * 1000, "a", v) for i, v in enumerate([1.0, 1.0, 4.0])] + \
           [(i * 1000, "b", v) for i, v in enumerate([10.0, 20.0, 30.0])]
    df = spark.createDataFrame(
        rows, "ms long, k string, value double"
    ).select(F.timestamp_millis("ms").alias("time"), "k", "value")
    out = (TimeSeries(df, kind="time")
           .cusum("value", partition_by=["k"]).df.orderBy("k", "time")
           .collect())
    a = _cusum_seq([1.0, 1.0, 4.0], 2.0, 0.0)
    b = _cusum_seq([10.0, 20.0, 30.0], 20.0, 0.0)
    got = [r["value_cusum"] for r in out]
    assert got == [pytest.approx(e, abs=1e-9) for e in a + b]
    assert "__target" not in out[0].asDict()


def test_integrate_trapezoid(spark):
    # samples at 0s/60s/120s in hour 0, then one pair inside hour 1
    H = 3600_000
    pts = [[0, 10.0], [60_000, 20.0], [120_000, 30.0],
           [H + 0, 5.0], [H + 600_000, 15.0]]
    out = {r["begin_ms"]: r for r in
           _ts(spark, pts).integrate("1h", "value").collect()}
    # hour 0: (10+20)/2*60 + (20+30)/2*60 = 900 + 1500; the 120s->1h gap
    # trapezoid ((30+5)/2 * 3480s) also belongs to hour 0 (left endpoint)
    assert out[0]["integral"] == pytest.approx(900 + 1500 + 17.5 * 3480)
    assert out[0]["n_seg"] == 3
    assert out[H]["integral"] == pytest.approx(10.0 * 600)
    assert out[H]["twa"] == pytest.approx(10.0)
    total_dt = 60 + 60 + 3480
    assert out[0]["twa"] == pytest.approx(
        (900 + 1500 + 17.5 * 3480) / total_dt)


def test_integrate_skips_invalid_pairs(spark):
    pts = [[0, 10.0], [60_000, None], [120_000, 30.0]]
    out = _ts(spark, pts).integrate("1h", "value").collect()
    # both trapezoids touch the NULL sample -> no segments survive
    assert out == []


def test_holt_matches_sequential(spark):
    vals = [10.0, 12.0, None, 16.0, 13.0, 20.0]
    pts = [[i * 1000, v] for i, v in enumerate(vals)]
    out = (_ts(spark, pts).holt("value", alpha=0.3, beta=0.2).df
           .orderBy("time").collect())
    lv = bt = None
    expect = []
    for v in vals:
        if v is not None:
            if lv is None:
                lv, bt = v, 0.0
            else:
                nl = 0.3 * v + 0.7 * (lv + bt)
                bt = 0.2 * (nl - lv) + 0.8 * bt
                lv = nl
        expect.append((lv, bt))
    got = [(r["value_level"], r["value_trend"]) for r in out]
    for (gl, gb), (el, eb) in zip(got, expect):
        assert gl == pytest.approx(el, abs=1e-12)
        assert gb == pytest.approx(eb, abs=1e-12)


def test_holt_tracks_linear_trend(spark):
    # a perfect line: level converges to the line, trend to the slope
    pts = [[i * 1000, 5.0 + 3.0 * i] for i in range(40)]
    last = (_ts(spark, pts).holt("value").df
            .orderBy("time").collect())[-1]
    assert last["value_trend"] == pytest.approx(3.0, abs=1e-4)
    assert last["value_level"] == pytest.approx(5.0 + 3.0 * 39, abs=1e-4)


def test_cusum_lower_side(spark):
    vals = [10.0, 2.0, 1.0, 12.0, 0.0, 1.0]
    pts = [[i * 1000, v] for i, v in enumerate(vals)]
    out = (_ts(spark, pts).cusum("value", target=8.0, slack=0.5,
                                 threshold=10.0, side="both").df
           .orderBy("time").collect())
    up = _cusum_seq(vals, 8.0, 0.5)
    c = 0.0
    dn = []
    for v in vals:
        c = max(0.0, c + ((8.0 - v) - 0.5))
        dn.append(c)
    assert [r["value_cusum"] for r in out] == [
        pytest.approx(e, abs=1e-12) for e in up]
    assert [r["value_cusum_dn"] for r in out] == [
        pytest.approx(e, abs=1e-12) for e in dn]
    assert [r["value_alarm"] for r in out] == [
        (u > 10.0) or (d > 10.0) for u, d in zip(up, dn)]


def test_rolling_median_and_percentile(spark):
    # 10m trailing frame; median of frame values, exact interpolated p50
    pts = [[0, 4.0], [2 * MIN, 9.0], [4 * MIN, 1.0], [20 * MIN, 6.0]]
    out = {r["time"].minute: (r["med"], r["p50"]) for r in
           _ts(spark, pts).rolling(
               "10m", {"med": {"value": "median"},
                       "p50": {"value": ("percentile", 50)}}).df.collect()}
    assert out[0] == (4.0, 4.0)
    assert out[2] == (6.5, 6.5)          # frame {4, 9}
    assert out[4] == (4.0, 4.0)          # frame {4, 9, 1}
    assert out[20] == (6.0, 6.0)         # frame {6} (others aged out)


def test_rolling_median_skips_nulls(spark):
    pts = [[0, 4.0], [MIN, None], [2 * MIN, 10.0]]
    out = [r["med"] for r in _ts(spark, pts).rolling(
        "10m", {"med": {"value": "median"}}).df.orderBy("time").collect()]
    assert out == [4.0, 4.0, 7.0]


def test_integrate_duplicate_ts_and_nan(spark):
    # duplicate timestamps: zero-length segments -> NULL twa, no ANSI
    # crash; NaN endpoints invalidate their segments like NULLs do
    df = spark.createDataFrame(
        [(0, 10.0), (0, 20.0), (60_000, float("nan")), (120_000, 30.0)],
        "ms long, value double"
    ).select(F.timestamp_millis("ms").alias("time"), "value")
    out = TimeSeries(df, kind="time").integrate("1h", "value").collect()
    # only the two dup-ts rows form a valid (zero-length) segment pair;
    # segments touching the NaN drop
    assert len(out) == 1
    r = out[0]
    assert r["twa"] is None and r["n_seg"] == 1 and r["integral"] == 0.0


def test_rolling_robust_zscore_frame(spark):
    # trailing 10m frames; a spike against a stable frame flags
    pts = [[0, 10.0], [MIN, 10.0], [2 * MIN, 10.0], [3 * MIN, 11.0],
           [4 * MIN, 500.0]]
    out = {r["time"].minute: (r["value_rrz"], r["value_outlier"]) for r in
           _ts(spark, pts).rolling_robust_zscore("10m", "value").df
           .collect()}
    # constant frames: MAD 0 -> NULL score, not-outlier
    assert out[0] == (None, False) and out[2] == (None, False)
    # the spike's frame {10,10,10,11,500}: med 10, MAD 0 -> NULL... so
    # check minute 3 instead: frame {10,10,10,11}: med 10, MAD 0.5? ->
    # dev sorted [0,0,0,1] -> mad = 0 + (0-0)*0.5 = 0.0 -> NULL as well
    assert out[3] == (None, False)
    # a frame with genuine spread: rebuild with varied values
    pts2 = [[0, 10.0], [MIN, 14.0], [2 * MIN, 6.0], [3 * MIN, 100.0]]
    out2 = {r["time"].minute: (r["value_rrz"], r["value_outlier"])
            for r in _ts(spark, pts2)
            .rolling_robust_zscore("10m", "value").df.collect()}
    # minute 3 frame {6,10,14,100}: med = 10+(14-10)*.5 = 12; devs sorted
    # [2,2,6,88] -> mad = 2+(6-2)*.5 = 4 -> rz = .6745*88/4 = 14.839
    rz3, flag3 = out2[3]
    assert abs(rz3 - 0.6745 * (100 - 12.0) / 4.0) < 1e-9
    assert flag3 is True


def test_trend_recovers_line(spark):
    from pypond_spark.operators.correlate import trend
    # y = 5 + 3*t(hours), exact OLS recovery; invalid samples excluded
    H = 3600_000
    rows = [(i * H, 5.0 + 3.0 * i) for i in range(10)] + [(4 * H + 1, None)]
    df = spark.createDataFrame(rows, "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    out = trend(df, "value", time_unit="1h").collect()[0]
    assert out["slope"] == pytest.approx(3.0, abs=1e-9)
    assert out["intercept"] == pytest.approx(5.0, abs=1e-9)
    assert out["n"] == 10
    # single-point series: NULL slope, not a crash
    one = spark.createDataFrame([(0, 7.0)], "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    r1 = trend(one, "value").collect()[0]
    assert r1["slope"] is None and r1["n"] == 1


def test_autocorrelation_perfect_cycle(spark):
    from pypond_spark.operators.correlate import autocorrelation
    # period-2 alternating series: ACF(2) = +1, ACF(1) = -1
    H = 3600_000
    rows = [(i * H, 10.0 if i % 2 == 0 else -10.0) for i in range(12)]
    df = spark.createDataFrame(rows, "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    out = {r["lag"]: r for r in
           autocorrelation(df, "value", lags=(1, 2)).collect()}
    assert out[1]["r"] == pytest.approx(-1.0, abs=1e-9)
    assert out[2]["r"] == pytest.approx(1.0, abs=1e-9)
    assert out[1]["n_pairs"] == 11 and out[2]["n_pairs"] == 10


def test_autocorrelation_missing_bucket_is_no_pair(spark):
    from pypond_spark.operators.correlate import autocorrelation
    # hours 0,1,2,4 present; lag-1 pairs = (0,1),(1,2) only — the 2->4
    # gap must NOT smear into a lag-1 pair the way a row-lag would
    H = 3600_000
    rows = [(0, 1.0), (H, 2.0), (2 * H, 4.0), (4 * H, 8.0)]
    df = spark.createDataFrame(rows, "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    out = {r["lag"]: r for r in
           autocorrelation(df, "value", lags=(1, 2)).collect()}
    assert out[1]["n_pairs"] == 2
    assert out[2]["n_pairs"] == 2  # (0,2) and (2,4)


def test_theil_sen_ignores_outlier(spark):
    from pypond_spark.operators.correlate import theil_sen
    # y = 2*t + 1 with one wild outlier: OLS bends, Theil-Sen doesn't
    from pypond_spark.operators.correlate import trend
    H = 3600_000
    # outlier at the END (an outlier at the center t would leave the
    # OLS slope unchanged — it only shifts the intercept)
    rows = [(i * H, 1.0 + 2.0 * i) for i in range(11)]
    rows[10] = (10 * H, 1000.0)
    df = spark.createDataFrame(rows, "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    ts_row = theil_sen(df, "value", bucket="1h").collect()[0]
    assert ts_row["ts_slope"] == pytest.approx(2.0, abs=1e-9)
    assert ts_row["ts_intercept"] == pytest.approx(1.0, abs=1e-9)
    assert ts_row["n_pairs"] == 55 and ts_row["n_buckets"] == 11
    ols = trend(df, "value", time_unit="1h").collect()[0]
    assert abs(ols["slope"] - 2.0) > 1.0  # OLS got dragged


def test_theil_sen_single_bucket_drops(spark):
    from pypond_spark.operators.correlate import theil_sen
    H = 3600_000
    rows = [("a", i * H, float(i)) for i in range(3)] + [("b", 0, 9.9)]
    df = spark.createDataFrame(rows, "k string, ms long, value double") \
        .select("k", F.timestamp_millis("ms").alias("time"), "value")
    out = theil_sen(df, "value", bucket="1h", partition_by=["k"]).collect()
    assert {r["k"] for r in out} == {"a"}  # no pair for 'b'


def test_theil_sen_null_time_rows_dropped(spark):
    """A NULL-time row has no bucket: it drops like a NULL value on the
    keyed and unkeyed paths alike, and both fit the remaining line."""
    from pypond_spark.operators.correlate import theil_sen
    H = 3600_000
    rows = ([(k, i * H, 1.0 + 2.0 * i) for k in "ab" for i in range(4)]
            + [("a", None, 500.0), ("b", None, -500.0)])
    df = spark.createDataFrame(rows, "k string, ms long, value double") \
        .select("k", F.timestamp_millis("ms").alias("time"), "value")
    keyed = theil_sen(df, "value", bucket="1h", partition_by=["k"]) \
        .collect()
    assert {r["k"] for r in keyed} == {"a", "b"}
    whole = theil_sen(df.where(F.col("k") == "a"), "value",
                      bucket="1h").collect()
    for r in keyed + whole:
        assert r["ts_slope"] == pytest.approx(2.0, abs=1e-9)
        assert r["ts_intercept"] == pytest.approx(1.0, abs=1e-9)
        assert (r["n_pairs"], r["n_buckets"]) == (6, 4)


def test_rolling_correlation_exact_line(spark):
    from pypond_spark.operators.correlate import rolling_correlation
    # view = 2*click + 1 in every hour -> r = 1, beta = 2 at every pos
    H = 3600_000
    rows = []
    for i in range(6):
        rows.append((i * H, "click", float(i)))
        rows.append((i * H, "view", 2.0 * i + 1.0))
    df = spark.createDataFrame(rows, "ms long, event_type string, value double") \
        .select(F.timestamp_millis("ms").alias("time"), "event_type", "value")
    out = rolling_correlation(df, "event_type", "click", "view",
                              bucket="1h", lookback=3).collect()
    got = {r["pos"]: r for r in out}
    assert len(got) == 6
    # pos 0 has a single pair -> var_x = 0 -> NULL r/beta (not a crash)
    assert got[0]["r"] is None and got[0]["n_pairs"] == 1
    for p in range(1, 6):
        assert got[p]["r"] == pytest.approx(1.0, abs=1e-12)
        assert got[p]["beta"] == pytest.approx(2.0, abs=1e-12)
        assert got[p]["n_pairs"] == min(p + 1, 3)  # RANGE 2-preceding


def test_rolling_correlation_missing_bucket_shrinks_sample(spark):
    from pypond_spark.operators.correlate import rolling_correlation
    # click-only hour 1: no pair there; RANGE frame at pos 3 covers
    # positions 1..3 -> pairs at 2,3 only (a ROWS frame would have
    # stretched back to pos 0)
    H = 3600_000
    rows = [(0, "click", 1.0), (0, "view", 2.0),
            (1 * H, "click", 5.0),
            (2 * H, "click", 2.0), (2 * H, "view", 4.0),
            (3 * H, "click", 3.0), (3 * H, "view", 7.0)]
    df = spark.createDataFrame(rows, "ms long, event_type string, value double") \
        .select(F.timestamp_millis("ms").alias("time"), "event_type", "value")
    out = {r["pos"]: r for r in rolling_correlation(
        df, "event_type", "click", "view", bucket="1h", lookback=3).collect()}
    assert set(out) == {0, 2, 3}  # pos 1 has no pair -> dropped
    assert out[3]["n_pairs"] == 2


def test_holt_winters_hand_computed(spark):
    from pypond_spark.operators.rolling import holt_winters
    # period=2, all coefficients 0.5; x = 10, 20, 30:
    # k1: l=10 b=0 s=0 | k2: l=15 b=2.5 s=2.5 | k3: l=23.75 b=5.625 s=3.125
    H = 3600_000
    rows = [(i * H, v) for i, v in enumerate([10.0, 20.0, 30.0])]
    df = spark.createDataFrame(rows, "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    out = holt_winters(df, "value", period=2).orderBy("time").collect()
    got = [(r["value_level"], r["value_trend"], r["value_seasonal"])
           for r in out]
    assert got == [(10.0, 0.0, 0.0), (15.0, 2.5, 2.5),
                   (23.75, 5.625, 3.125)]


def test_holt_winters_nan_carries_and_phase_holds(spark):
    from pypond_spark.operators.rolling import holt_winters
    H = 3600_000
    rows = [(0, 10.0), (H, None), (2 * H, 20.0), (3 * H, 30.0)]
    df = spark.createDataFrame(rows, "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    out = holt_winters(df, "value", period=2).orderBy("time").collect()
    got = [(r["value_level"], r["value_trend"], r["value_seasonal"])
           for r in out]
    # the None row repeats the k=1 state; valid samples then continue as
    # if it never existed (phase is sample-indexed)
    assert got == [(10.0, 0.0, 0.0), (10.0, 0.0, 0.0), (15.0, 2.5, 2.5),
                   (23.75, 5.625, 3.125)]


def test_holt_winters_locks_onto_pure_seasonal(spark):
    from pypond_spark.operators.rolling import holt_winters
    # pure period-4 signal, no trend: after enough cycles the one-step
    # forecast l + b + s[next] approaches the true next value
    H = 3600_000
    pat = [10.0, 20.0, 15.0, 5.0]
    rows = [(i * H, pat[i % 4]) for i in range(64)]
    df = spark.createDataFrame(rows, "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    out = holt_winters(df, "value", period=4).orderBy("time").collect()
    # reconstruct seasonal state at the end: last 4 rows wrote slots
    # (60..63 % 4) = 0..3 in order, so row 60+j holds s[j]
    s = [out[60 + j]["value_seasonal"] for j in range(4)]
    l, b = out[63]["value_level"], out[63]["value_trend"]
    nxt = l + b + s[64 % 4]
    assert abs(nxt - pat[64 % 4]) < 1.5  # locked near the cycle
    assert abs(b) < 0.5  # no trend in a pure cycle


def test_anomaly_ensemble_majority_vote(spark):
    from pypond_spark.operators.rolling import anomaly_ensemble
    H = 3600_000
    # 48 calm hourly points + one wild spike: z, robust-z and (weekly
    # slot has 2+ samples with variance from the spike's absence
    # elsewhere) -> spike wins >= 2 votes; calm rows win none
    rows = [(i * H, 10.0 + (i % 3) * 0.1) for i in range(48)]
    rows.append((48 * H, 500.0))
    df = spark.createDataFrame(rows, "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    out = anomaly_ensemble(df, "value").collect()
    spike = [r for r in out if r["value"] == 500.0][0]
    assert spike["votes"] >= 2 and spike["ensemble_anomaly"]
    calm = [r for r in out if r["value"] != 500.0]
    assert all(not r["ensemble_anomaly"] for r in calm)
    # abstention: single-point series -> all detectors NULL, zero votes
    one = spark.createDataFrame([(0, 5.0)], "ms long, value double") \
        .select(F.timestamp_millis("ms").alias("time"), "value")
    r1 = anomaly_ensemble(one, "value").collect()[0]
    assert r1["votes"] == 0 and not r1["ensemble_anomaly"]


def test_dtw_to_template(spark):
    """The aggregate-fold DP equals a reference Python implementation of
    the asymmetric step pattern, and series shorter than the template
    yield NULL (no valid path)."""
    import datetime as dt
    from pypond_spark.operators.correlate import dtw_to_template
    template = [0.0, 1.0, 2.0, 1.0]
    vals = [0.5, 0.5, 1.5, 2.5, 1.0, 0.0]
    rows = [("u", dt.datetime(2020, 1, 1, h), v)
            for h, v in enumerate(vals)]
    rows += [("short", dt.datetime(2020, 1, 1, 0), 3.0),
             ("short", dt.datetime(2020, 1, 1, 1), 3.0)]
    df = spark.createDataFrame(rows, ["user_id", "time", "value"])
    out = {r["user_id"]: r for r in
           dtw_to_template(df, template, bucket="1h",
                           partition_by=("user_id",)).collect()}

    def ref(seq, tpl):
        inf = float("inf")
        t = [int(round(x * 1e6)) for x in tpl]
        s = [int(round(x * 1e6)) for x in seq]
        d = [abs(s[0] - t[j]) if j == 0 else inf
             for j in range(len(t))]
        for v in s[1:]:
            d = [abs(v - t[j]) + min(d[j], d[j - 1] if j else inf)
                 for j in range(len(t))]
        return d[-1]

    assert out["u"]["dtw_micro"] == ref(vals, template)
    assert out["u"]["n_buckets"] == 6
    # 2 buckets cannot consume a 4-point template -> no path
    assert out["short"]["dtw_micro"] is None
    assert out["short"]["dtw"] is None
    with pytest.raises(ValueError, match="template"):
        dtw_to_template(df, [], partition_by=("user_id",))
    with pytest.raises(ValueError, match="bucket"):
        dtw_to_template(df, template, bucket="monthly",
                        partition_by=("user_id",))


def test_cusum_changepoints(spark):
    """The aggregate-fold CUSUM equals a reference Python fold; a level
    shift fires exactly one 'up' alarm (restart drains the statistic);
    a quiet series fires none; explicit target skips the n-scaling."""
    import datetime as dt
    from pypond_spark.operators.changepoint import cusum_changepoints
    # 6 buckets at 10, then 6 at 20: mean 15, k=1, h=8 ->
    # S+ walks 0,0,..., then +4/bucket after the shift
    vals = [10.0] * 6 + [20.0] * 6
    rows = [("u", dt.datetime(2020, 1, 1, h), v)
            for h, v in enumerate(vals)]
    rows += [("quiet", dt.datetime(2020, 1, 1, h), 5.0)
             for h in range(6)]
    df = spark.createDataFrame(rows, ["user_id", "time", "value"])
    out = cusum_changepoints(df, bucket="1h", partition_by=("user_id",),
                             k=1.0, h=8.0).collect()

    def ref(seq, k, h):
        n = len(seq)
        m = [int(round(v * 1e6)) for v in seq]
        tot = sum(m)
        sp = sn = 0
        alarms = []
        for i, mi in enumerate(m):
            r = n * mi - tot
            sp1 = max(0, sp + r - int(k * 1e6) * n)
            sn1 = max(0, sn - r - int(k * 1e6) * n)
            if sp1 > int(h * 1e6) * n or sn1 > int(h * 1e6) * n:
                alarms.append((i, "up" if sp1 >= sn1 else "down",
                               round(max(sp1, sn1) / n / 1e6, 6)))
                sp = sn = 0
            else:
                sp, sn = sp1, sn1
        return alarms

    base = int(dt.datetime(2020, 1, 1,
                           tzinfo=dt.timezone.utc).timestamp()) // 3600
    expect = ref(vals, 1.0, 8.0)
    got = sorted(((r["t_ms"] // 3600000 - base, r["direction"], r["stat"])
                  for r in out if r["user_id"] == "u"))
    assert got == [(i, d, s) for i, d, s in expect]
    assert expect, "fixture must actually alarm"
    assert all(r["user_id"] == "u" for r in out)  # quiet series silent
    # explicit target: deviation from 0 with k=1,h=8 alarms on the 10s
    tgt = cusum_changepoints(df.where(F.col("user_id") == "quiet"),
                             bucket="1h", partition_by=("user_id",),
                             k=1.0, h=8.0, target=0.0).collect()
    # 5-1=4 per bucket: crosses 8 at bucket 2 (12>8), restarts, again at 5
    assert [r["t_ms"] // 3600000 - base for r in tgt] == [2, 5]
    assert all(r["direction"] == "up" for r in tgt)
    with pytest.raises(ValueError, match="bucket"):
        cusum_changepoints(df, bucket="monthly")


def test_kleinberg_bursts(spark):
    """A planted rate surge yields exactly one interval covering the
    surged hours; a steady series stays silent; a reference Python
    Viterbi (same micro-nat integer DP) agrees interval-for-interval."""
    import datetime as dt
    import math
    from pypond_spark.operators.burst import kleinberg_bursts
    rows = []
    for h in range(48):
        k = 20 if 10 <= h <= 12 else 1
        for i in range(k):
            rows.append(("u", dt.datetime(2020, 1, 1)
                         + dt.timedelta(hours=h, seconds=i)))
        for i in range(10):
            rows.append(("bg", dt.datetime(2020, 1, 1)
                         + dt.timedelta(hours=h, seconds=100 + i)))
    df = spark.createDataFrame(rows, ["user", "time"])
    out = kleinberg_bursts(df, bucket="1h", partition_by=("user",),
                           s=3.0, gamma=0.5).collect()
    assert len(out) == 1 and out[0]["user"] == "u"
    base = int(dt.datetime(2020, 1, 1,
                           tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert out[0]["t_start_ms"] == base + 10 * 3600000
    assert out[0]["t_end_ms"] == base + 12 * 3600000
    assert out[0]["n_buckets"] == 3 and out[0]["weight"] > 0

    # reference DP on the 'u' series (c_t of n_t, micro-nat ints)
    def ref(cs, ns, s, gamma):
        T = len(cs)
        p0 = float(sum(cs)) / float(sum(ns))
        p1 = min(s * p0, 0.9999)
        tau = int(round(gamma * math.log(float(T)) * 1e6))

        def cost(c, n, p):
            return int(round(-(c * math.log(p)
                               + (n - c) * math.log(1 - p)) * 1e6))
        d0, d1, s0, s1 = 0, tau, "", ""
        for c, n in zip(cs, ns):
            nd0 = (d0 if d0 <= d1 else d1) + cost(c, n, p0)
            nd1 = ((d0 + tau if d0 + tau <= d1 else d1)
                   + cost(c, n, p1))
            ns0 = (s0 if d0 <= d1 else s1) + "0"
            ns1 = (s0 if d0 + tau <= d1 else s1) + "1"
            d0, d1, s0, s1 = nd0, nd1, ns0, ns1
        return s0 if d0 <= d1 else s1

    cs = [20 if 10 <= h <= 12 else 1 for h in range(48)]
    ns = [c + 10 for c in cs]
    path = ref(cs, ns, 3.0, 0.5)
    assert [i for i, ch in enumerate(path) if ch == "1"] == [10, 11, 12]
    # prohibitive entry cost: no bursts anywhere
    quiet = kleinberg_bursts(df, bucket="1h", partition_by=("user",),
                             s=3.0, gamma=1e6)
    assert quiet.count() == 0
    with pytest.raises(ValueError, match="s must be"):
        kleinberg_bursts(df, s=1.0, partition_by=("user",))
    with pytest.raises(ValueError, match="bucket"):
        kleinberg_bursts(df, bucket="monthly", partition_by=("user",))
    # the share model is degenerate for a single unkeyed series
    # (p0 == 1 makes ln(1-p0) NULL and would silently return 0 rows)
    with pytest.raises(ValueError, match="partition_by"):
        kleinberg_bursts(df)
    # a keyed series owning the ENTIRE stream has no share to surge:
    # explicitly dropped, not NULL-pathed
    solo = df.where(F.col("user") == "u1")
    assert kleinberg_bursts(solo, bucket="1h",
                            partition_by=("user",)).count() == 0


def test_control_chart_rules(spark):
    """Western Electric zone rules, hand-walked: R1 at the 3σ spike,
    R2 where 2-of-3 exceed 2σ, R3 where 4-of-5 exceed 1σ, R4 at the
    8th consecutive same-side point; the low side mirrors; quiet
    series silent; validation."""
    import datetime as dt

    from pypond_spark.operators.changepoint import control_chart_rules

    def ts(h):
        return dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) \
            + dt.timedelta(hours=h)

    vals = [0.5, 3.5, 2.5, 2.5, 0.2, 1.5, 1.5, 1.5, 1.5, -0.5]
    rows = [("u", ts(h), v) for h, v in enumerate(vals)]
    # a mirrored low-side series and a quiet one
    rows += [("d", ts(h), -v) for h, v in enumerate(vals)]
    rows += [("q", ts(h), 0.1 * (-1) ** h) for h in range(10)]
    df = spark.createDataFrame(rows,
                               "user string, time timestamp, value double")
    out = control_chart_rules(df, "value", "1h", ["user"],
                              target=0.0, sigma=1.0)
    base = 473352  # epoch hours of 2024-01-01T00Z
    got = sorted((r["user"], r["t_ms"] // 3600000 - base, r["rule"],
                  r["side"]) for r in out.collect())
    exp_u = [(1, "R1"), (2, "R2"), (3, "R2"), (5, "R3"), (6, "R3"),
             (7, "R3"), (7, "R4"), (8, "R3"), (8, "R4")]
    exp = sorted([("u", h, r, "high") for h, r in exp_u]
                 + [("d", h, r, "low") for h, r in exp_u])
    assert got == exp
    # mean column reports the bucket mean in value units
    r1 = out.where("user = 'u' AND rule = 'R1'").first()
    assert r1["mean"] == 3.5
    with pytest.raises(ValueError, match="sigma"):
        control_chart_rules(df, sigma=0.0)
    with pytest.raises(ValueError, match="bucket"):
        control_chart_rules(df, bucket="monthly")


def test_cusum_changepoints_long_series_hoisted_total(spark):
    """r14 optimization guard: the self-referenced (target=None) fold
    hoists sum(m) out of the per-element recurrence (O(n) per series,
    was O(n^2) via an inlined aggregate()).  Pin exact equivalence to
    the Python reference over a LONG drifting series with several
    restarts, so a regression in the hoist (stale/duplicated total,
    off-by-one scaling) cannot hide in a 12-bucket fixture."""
    import datetime as dt

    from pypond_spark.operators.changepoint import cusum_changepoints

    # deterministic pseudo-random walk with two level shifts; 500
    # hourly buckets, one event per bucket
    vals = []
    x = 0
    for i in range(500):
        x = (x * 1103515245 + 12345) % (2 ** 31)
        base = 10.0 if i < 200 else (25.0 if i < 350 else 5.0)
        vals.append(round(base + (x % 1000) / 250.0, 6))
    t0 = dt.datetime(2021, 1, 1)
    rows = [("u", t0 + dt.timedelta(hours=h), v)
            for h, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["user_id", "time", "value"])
    out = cusum_changepoints(df, bucket="1h", partition_by=("user_id",),
                             k=2.0, h=40.0).collect()

    def ref(seq, k, h):
        n = len(seq)
        m = [int(round(v * 1e6)) for v in seq]
        tot = sum(m)
        sp = sn = 0
        alarms = []
        for i, mi in enumerate(m):
            r = n * mi - tot
            sp1 = max(0, sp + r - int(k * 1e6) * n)
            sn1 = max(0, sn - r - int(k * 1e6) * n)
            if sp1 > int(h * 1e6) * n or sn1 > int(h * 1e6) * n:
                s = max(sp1, sn1)
                alarms.append((i, "up" if sp1 >= sn1 else "down",
                               round((2 * s + n) // (2 * n) / 1e6, 6)))
                sp = sn = 0
            else:
                sp, sn = sp1, sn1
        return alarms

    base_h = int(t0.replace(tzinfo=dt.timezone.utc)
                 .timestamp()) // 3600
    expect = ref(vals, 2.0, 40.0)
    got = sorted((r["t_ms"] // 3600000 - base_h, r["direction"],
                  r["stat"]) for r in out)
    assert len(expect) >= 3, "fixture must restart several times"
    assert got == expect
