"""Property-based tests (hypothesis) — invariants the reference never tested.

Kernel properties run without Spark (fast, many examples); Spark-backed
properties use a handful of drawn fixtures per run to stay quick.
"""

import datetime

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pypond_spark import Index, TimeRange
from pypond_spark import index as codec

UTC = datetime.timezone.utc

ms_strategy = st.integers(min_value=0, max_value=4_102_444_800_000)  # ..2100
win_strategy = st.tuples(
    st.integers(min_value=1, max_value=120),
    st.sampled_from(["s", "m", "h", "d"])).map(lambda t: f"{t[0]}{t[1]}")


@given(ms=ms_strategy, win=win_strategy)
@settings(max_examples=200, deadline=None)
def test_index_roundtrip_contains_time(ms, win):
    """The fixed index bucket for t always contains t."""
    dt = codec.dt_from_ms(ms)
    idx = Index(codec.get_index_string(win, dt))
    assert idx.as_timerange().contains(dt)
    dur = codec.window_duration_ms(win)
    assert idx.as_timerange().duration() == dur


@given(ms=ms_strategy, win=win_strategy)
@settings(max_examples=200, deadline=None)
def test_index_buckets_tile(ms, win):
    """Consecutive buckets tile time: end(b) == begin(b+1)."""
    dur = codec.window_duration_ms(win)
    pos = ms // dur
    _, b0, e0 = codec.parse_index(f"{win}-{pos}")
    _, b1, _ = codec.parse_index(f"{win}-{pos + 1}")
    assert e0 == b1
    assert e0 - b0 == dur


@given(ms=ms_strategy)
@settings(max_examples=200, deadline=None)
def test_calendar_index_roundtrip(ms):
    # reference quirk (index.py:280): calendar ranges end at
    # start-of-next-period MINUS 1s, so sub-second times inside the final
    # second fall outside the inclusive range — assert on the second floor
    dt = codec.dt_from_ms(ms - ms % 1000)
    for fn, kind in [(codec.get_daily_index_string, "day"),
                     (codec.get_monthly_index_string, "month"),
                     (codec.get_yearly_index_string, "year")]:
        idx = Index(fn(dt))
        assert idx.kind == kind
        assert idx.as_timerange().contains(dt)


@given(a=st.tuples(ms_strategy, ms_strategy).map(sorted),
       b=st.tuples(ms_strategy, ms_strategy).map(sorted))
@settings(max_examples=200, deadline=None)
def test_timerange_algebra_consistency(a, b):
    ta, tb = TimeRange(a[0], a[1]), TimeRange(b[0], b[1])
    # NOTE reference overlaps (range.py:396-412) is asymmetric at shared
    # endpoints (a=(0,10) vs b=(5,10): a.overlaps(b) False, b.overlaps(a)
    # True), so symmetry is NOT a property; intersects is.
    assert ta.intersects(tb) == tb.intersects(ta)
    # independent brute-force check of the endpoint arithmetic (the old
    # overlaps/disjoint duality died with reference-strict overlaps; a
    # restated implementation would be tautological)
    shares_instant = max(a[0], b[0]) <= min(a[1], b[1])
    assert ta.intersects(tb) == shares_instant
    assert ta.disjoint(tb) == (not shares_instant)
    # reference-strict overlap implies a shared instant, never disjoint
    if ta.overlaps(tb):
        assert ta.intersects(tb)
    inter = ta.intersection(tb)
    if inter is not None:
        assert ta.contains(inter) and tb.contains(inter)
        assert inter.duration() <= min(ta.duration(), tb.duration())
    ext = ta.extents(tb)
    assert ext.contains(ta) and ext.contains(tb)


@given(ms=ms_strategy)
@settings(max_examples=200, deadline=None)
def test_ms_dt_roundtrip(ms):
    from pypond_spark.util import dt_from_ms, ms_from_dt
    assert ms_from_dt(dt_from_ms(ms)) == ms


# -- Spark-backed invariants (few examples, module-scope session) -------------

def test_fill_zero_then_clean_is_identity(spark):
    """clean(fill_zero(x)) keeps every row: zero fill leaves no invalid."""
    from pypond_spark import TimeSeries
    pts = [[i * 1000, v] for i, v in
           enumerate([1.0, None, float("nan"), 4.0, None])]
    ts = TimeSeries.from_wire(
        spark, {"name": "p", "columns": ["time", "value"], "points": pts})
    filled = ts.fill(field_spec="value", method="zero")
    assert filled.clean("value").size() == len(pts)
    assert filled.size_valid("value") == len(pts)


def test_align_outputs_lie_on_grid(spark):
    from pypond_spark import TimeSeries
    from pypond_spark.util import ms_from_dt
    import random
    rnd = random.Random(7)
    t, pts = 0, []
    for _ in range(40):
        t += rnd.randint(1_000, 400_000)
        pts.append([t, rnd.uniform(0, 100)])
    ts = TimeSeries.from_wire(
        spark, {"name": "g", "columns": ["time", "value"], "points": pts})
    for win, dur in [("1m", 60_000), ("5m", 300_000)]:
        out = ts.align(window=win).to_wire()["points"]
        assert out, "alignment produced no points"
        for point in out:
            assert point[0] % dur == 0
        times = [p[0] for p in out]
        assert times == sorted(times) and len(set(times)) == len(times)


def test_rate_of_linear_series_is_constant(spark):
    from pypond_spark import TimeSeries
    pts = [[i * 10_000, 5.0 * i] for i in range(20)]
    ts = TimeSeries.from_wire(
        spark, {"name": "r", "columns": ["time", "value"], "points": pts})
    rates = [p[1] for p in ts.rate(field_spec="value").to_wire()["points"]]
    assert all(abs(r - 0.5) < 1e-12 for r in rates)


def test_gaps_partition_time_span(spark):
    """Every gap lies strictly inside the series extent; gap count is
    bounded by events-1; no two gaps overlap (consecutive-pair origin)."""
    from pypond_spark import TimeSeries
    import random
    rnd = random.Random(11)
    t, pts = 0, []
    for _ in range(60):
        t += rnd.randint(1_000, 2_000_000)
        pts.append([t, 1.0])
    ts = TimeSeries.from_wire(
        spark, {"name": "g", "columns": ["time", "value"], "points": pts})
    gaps = sorted((r["gap_start"], r["gap_end"])
                  for r in ts.find_gaps("10m").collect())
    assert len(gaps) <= len(pts) - 1
    for (s0, e0), (s1, e1) in zip(gaps, gaps[1:]):
        assert e0 <= s1     # ordered, non-overlapping
    for s, e in gaps:
        assert (e - s).total_seconds() * 1000 > 600_000


def test_m4_is_subset_and_covers_extremes(spark):
    """M4 survivors are actual input points and include the global
    min/max/first/last of every bucket."""
    from pypond_spark import TimeSeries
    import random
    rnd = random.Random(23)
    pts = [[i * 7_000, rnd.uniform(-50, 50)] for i in range(200)]
    ts = TimeSeries.from_wire(
        spark, {"name": "m", "columns": ["time", "value"], "points": pts})
    out = ts.m4_downsample("5m").df.collect()
    inputs = {(p[0], round(p[1], 9)) for p in pts}
    by_bucket = {}
    for p in pts:
        by_bucket.setdefault(p[0] // 300_000, []).append(p)
    for r in out:
        key = (int(r["time"].timestamp() * 1000), round(r["value"], 9))
        assert key in inputs                      # survivors are real points
    for pos, rows in by_bucket.items():
        sel = [r for r in out if r["pos"] == pos]
        vals = [r["value"] for r in sel]
        assert max(vals) == max(p[1] for p in rows)
        assert min(vals) == min(p[1] for p in rows)


def test_cumulative_last_equals_total(spark):
    """The final cumulative sum equals the series total; prefixes are
    monotone for non-negative inputs."""
    from pypond_spark import TimeSeries
    import random
    rnd = random.Random(5)
    pts = [[i * 1000, float(rnd.randint(0, 100))] for i in range(80)]
    ts = TimeSeries.from_wire(
        spark, {"name": "c", "columns": ["time", "value"], "points": pts})
    out = [r["v_cum"] for r in
           ts.cumulative({"v_cum": {"value": "sum"}}).df
           .orderBy("time").collect()]
    assert out[-1] == sum(p[1] for p in pts)
    assert all(a <= b for a, b in zip(out, out[1:]))


def test_chunk_dedup_identity_on_unique_corpus(spark):
    """With no duplicate chunks, chunk_dedup is the identity on text."""
    from pypond_spark.datapipe import dedup
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(50))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_dedup"]
           for r in dedup.chunk_dedup(df, chunk_words=7).collect()}
    assert out == dict(rows)


# --- the word-token law across engines: JVM expression vs Python replay,
# and every stream gate's Arrow signatures vs their batch twins

#: every C0 control and space, the Unicode spaces Python's ``str.split``
#: would eat (U+0085, U+00A0, U+2028), a case-fold trap (U+212A), letters
TOKEN_ALPHABET = ([chr(c) for c in range(0x21)]
                  + ["\x85", "\xa0", "\u2028", "\u212a"] + list("abcdefgh"))
token_texts = st.builds(
    lambda body, tail: body + tail,
    st.lists(st.none() | st.text(alphabet=st.sampled_from(TOKEN_ALPHABET),
                                 max_size=24),
             min_size=1, max_size=8),
    # token-less docs at the end of the (single) Arrow chunk
    st.lists(st.sampled_from([None, "", " ", "\t\n\x0b\x0c\r "]),
             max_size=3))


@given(texts=token_texts)
@example(texts=["\x0eabc def ghi", "abc def ghi", "abc def ghi\x1c",
                "\x00abc def", None, "   "])
@settings(max_examples=8, deadline=None)
def test_word_token_law_cross_engine(spark, texts):
    """JVM ``word_tokens`` == ``py_word_tokens`` per row, the Arrow
    MinHash bands == the batch ``lsh_band_buckets`` bands (none for NULL
    text), and the Arrow
    SimHash == the batch ``simhash64`` halves, on adversarial text.  All
    five outputs come from ONE collect of a unioned plan; the frame is
    one partition, so the Arrow stages see the docs as one chunk."""
    import json

    from pyspark.sql import functions as F

    from pypond_spark.datapipe._util import py_word_tokens, word_tokens
    from pypond_spark.datapipe.dedup import lsh_band_buckets, simhash64
    from pypond_spark.streaming.stream import (minhash_bands_rowwise,
                                               simhash_rowwise)
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string").coalesce(1)

    def tagged(tag, frame, value):
        return frame.select(F.lit(tag).alias("tag"), "doc_id",
                            value.alias("v"))

    halves = F.concat_ws(",", "sim_hi", "sim_lo")
    rows = (tagged("tok", df, F.to_json(word_tokens("text")))
            .unionByName(tagged("mh_batch", lsh_band_buckets(df),
                                F.col("band")))
            .unionByName(tagged("mh_arrow", minhash_bands_rowwise(df),
                                F.col("band")))
            .unionByName(tagged("sh_batch", simhash64(
                df, as_halves=True), halves))
            .unionByName(tagged("sh_arrow", simhash_rowwise(df), halves))
            .collect())
    got = {}
    for r in rows:
        got.setdefault(r["tag"], {}).setdefault(r["doc_id"], []) \
            .append(r["v"])
    for i, t in enumerate(texts):
        (jvm,) = got["tok"][i]
        assert (jvm is None) == (t is None)
        assert (json.loads(jvm) if jvm else []) == py_word_tokens(t), i

    def per_doc(tag):
        return {i: sorted(v) for i, v in got.get(tag, {}).items()}

    assert per_doc("mh_arrow") == per_doc("mh_batch")
    # NULL text has no shingle, so no band; every other doc has bands
    assert set(per_doc("mh_batch")) == {
        i for i, t in enumerate(texts) if t is not None}
    assert per_doc("sh_arrow") == per_doc("sh_batch")


# --- closed-form identities the round-4 operators rely on (pure python,
# no Spark: these pin the MATH; the Spark/oracle twins pin the plumbing)

float_series = st.lists(
    st.floats(min_value=-1e6, max_value=1e6,
              allow_nan=False, allow_infinity=False),
    min_size=1, max_size=60)


@given(xs=float_series,
       target=st.floats(min_value=-100, max_value=100,
                        allow_nan=False, allow_infinity=False),
       slack=st.floats(min_value=0, max_value=10,
                       allow_nan=False, allow_infinity=False))
@settings(max_examples=300, deadline=None)
def test_cusum_closed_form_identity(xs, target, slack):
    """max(0, C + d) fold == P_k - min(0, running-min P_k) — the identity
    operators/rolling.py::cusum compiles to two window aggregates."""
    c, p, mn = 0.0, 0.0, 0.0
    for x in xs:
        d = (x - target) - slack
        c = max(0.0, c + d)
        p = p + d
        mn = min(mn, p)
        closed = p - min(0.0, mn)
        assert abs(closed - c) <= 1e-9 * max(1.0, abs(c))


intervals = st.lists(
    st.tuples(st.integers(min_value=0, max_value=1000),
              st.integers(min_value=0, max_value=1000)),
    min_size=1, max_size=40)


@given(iv=intervals)
@settings(max_examples=300, deadline=None)
def test_interval_sweep_identity(iv):
    """The new-span-flag sweep (operators/interval.py::merge_intervals)
    produces exactly the union: same covered point set, disjoint
    non-adjacent spans, count preserved."""
    iv = [(b, e) for b, e in iv if e > b]
    if not iv:
        return
    iv.sort()
    spans, prev_max = [], None
    for b, e in iv:
        if prev_max is None or b > prev_max:
            spans.append([b, e, 1])
        else:
            spans[-1][1] = max(spans[-1][1], e)
            spans[-1][2] += 1
        prev_max = max(prev_max, e) if prev_max is not None else e
    covered = set()
    for b, e in iv:
        covered.update(range(b, e))
    span_points = set()
    for b, e, _ in spans:
        span_points.update(range(b, e))
    assert span_points == covered
    assert sum(n for _, _, n in spans) == len(iv)
    for (b1, e1, _), (b2, _, _) in zip(spans, spans[1:]):
        assert b2 > e1  # disjoint AND non-adjacent (half-open merge)
    assert sum(e - b for b, e, _ in spans) == len(covered)


@given(vals=st.lists(st.floats(min_value=-1e6, max_value=1e6,
                               allow_nan=False, allow_infinity=False),
                     min_size=1, max_size=50),
       q=st.floats(min_value=0.0, max_value=1.0,
                   allow_nan=False))
@settings(max_examples=300, deadline=None)
def test_sorted_quantile_interpolation_matches_numpy(vals, q):
    """_quantile_of_sorted's rank arithmetic == numpy linear percentile."""
    import numpy as np
    s = sorted(vals)
    n = len(s)
    rank = (n - 1) * q
    lo = int(rank // 1)
    frac = rank - lo
    hi = min(lo + 1, n - 1)
    mine = s[lo] + (s[hi] - s[lo]) * frac
    ref = float(np.percentile(np.array(vals), q * 100,
                              method="linear"))
    assert abs(mine - ref) <= 1e-9 * max(1.0, abs(ref))


def test_merge_rollups_equals_full_rollup_any_split(spark):
    """For ANY cut point, rollup(before) ++ rollup(after) == rollup(all)
    for algebraic measures — the IVM exactness invariant."""
    import random
    from pyspark.sql import functions as F
    from pypond_spark import TimeSeries
    from pypond_spark.operators.incremental import merge_rollups
    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 10 * 3600_000),
             rng.choice("ab"), round(rng.uniform(-100, 100), 3))
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "event_id long, ms long, g string, value double").select(
        "event_id", F.timestamp_millis("ms").alias("time"), "g", "value")
    spec = {"v_sum": {"value": "sum"}, "n": {"value": "count"},
            "v_min": {"value": "min"}, "v_max": {"value": "max"}}

    def roll(d):
        return TimeSeries(d, kind="time").fixed_window_rollup(
            "1h", spec, group_by="g").df.select(
            "index", "g", "v_sum", "n", "v_min", "v_max")

    full = {(r["index"], r["g"]): (round(r["v_sum"], 6), r["n"],
                                   r["v_min"], r["v_max"])
            for r in roll(df).collect()}
    for cut_ms in (1, 3 * 3600_000 + 12345, 9 * 3600_000):
        cut = F.timestamp_millis(F.lit(cut_ms))
        merged = merge_rollups(
            [roll(df.where(F.col("time") < cut)),
             roll(df.where(F.col("time") >= cut))],
            ["index", "g"],
            {"v_sum": "sum", "n": "count", "v_min": "min", "v_max": "max"})
        got = {(r["index"], r["g"]): (round(r["v_sum"], 6), r["n"],
                                      r["v_min"], r["v_max"])
               for r in merged.collect()}
        assert got == full, cut_ms


def test_salted_join_row_multiset_invariant(spark):
    """salted_join == plain join as MULTISETS for random data/salt."""
    import random
    from pypond_spark.operators.skew import salted_join
    rng = random.Random(11)
    fact = spark.createDataFrame(
        [(rng.randrange(5), float(i)) for i in range(200)],
        "k long, v double")
    dim = spark.createDataFrame(
        [(k, f"d{k}-{j}") for k in range(4) for j in range(rng.randrange(3))],
        "k long, name string")
    for salt in (2, 5, 16):
        plain = sorted(map(tuple, fact.join(dim, "k").collect()))
        got = sorted(map(tuple, salted_join(fact, dim, "k", salt).collect()))
        assert got == plain, salt


def test_densify_rollup_is_gapless_and_preserves_occupied(spark):
    import random
    from pyspark.sql import functions as F
    from pypond_spark import TimeSeries
    from pypond_spark.operators.aggregate import densify_rollup
    rng = random.Random(3)
    hours = sorted(rng.sample(range(50), 12))
    rows = [(h * 3600_000, float(h)) for h in hours]
    df = spark.createDataFrame(rows, "ms long, value double").select(
        F.timestamp_millis("ms").alias("time"), "value")
    roll = TimeSeries(df, kind="time").fixed_window_rollup(
        "1h", {"v_sum": {"value": "sum"}, "n": {"value": "count"}}).df
    out = densify_rollup(roll, "1h", fill={"v_sum": 0.0, "n": 0}).collect()
    pos = sorted(int(r["index"].split("-")[1]) for r in out)
    assert pos == list(range(hours[0], hours[-1] + 1))  # gapless span
    occupied = {int(r["index"].split("-")[1]): r["v_sum"] for r in out
                if r["n"] > 0}
    assert occupied == {h: float(h) for h in hours}  # originals intact


# -- wire codec round trip (SparkSession-backed, so few examples) -------------

_payload_scalar = st.one_of(
    st.none(),
    st.integers(min_value=-10**12, max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=12),
)


@given(data=st.data())
@settings(max_examples=15, deadline=None)
def test_wire_roundtrip_property(spark, data):
    """from_wire -> to_wire is the identity on key order + values for
    arbitrary (time-sorted, distinct-ms) point sets with mixed-type
    payload columns — the reference wire contract (series.py:35-49)."""
    from pypond_spark import TimeSeries
    n_rows = data.draw(st.integers(min_value=1, max_value=6))
    n_cols = data.draw(st.integers(min_value=1, max_value=3))
    times = sorted(data.draw(st.sets(
        st.integers(min_value=0, max_value=2**41),
        min_size=n_rows, max_size=n_rows)))
    colnames = [f"c{i}" for i in range(n_cols)]
    # per-column homogeneous type (the codec's documented contract)
    cols = [data.draw(st.one_of(
        st.lists(st.none() | st.integers(-10**12, 10**12),
                 min_size=n_rows, max_size=n_rows),
        st.lists(st.none() | st.floats(allow_nan=False,
                                       allow_infinity=False, width=32),
                 min_size=n_rows, max_size=n_rows),
        st.lists(st.none() | st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=12), min_size=n_rows, max_size=n_rows),
    )) for _ in range(n_cols)]
    # a column of all None has no inferable type: pin one value
    for c in cols:
        if all(v is None for v in c):
            c[0] = 1.0
    points = [[t] + [cols[j][i] for j in range(n_cols)]
              for i, t in enumerate(times)]
    wire = {"name": "prop", "columns": ["time"] + colnames,
            "points": points}
    out = TimeSeries.from_wire(spark, wire).to_wire()
    assert out["columns"] == wire["columns"]
    assert len(out["points"]) == n_rows
    for want, got in zip(points, out["points"]):
        assert got[0] == want[0]
        for w, g in zip(want[1:], got[1:]):
            if isinstance(w, float) and g is not None:
                assert abs(g - w) < 1e-6 * max(1.0, abs(w))
            elif isinstance(w, int) and isinstance(g, float):
                assert g == float(w)  # int column upcast by a float peer
            else:
                assert g == w



def test_wire_codec_full_lattice_fixed_point(spark):
    """Encode->decode->encode is a FIXED POINT across the whole
    payload-type lattice (r6 verdict item 7): all three event kinds
    (time / index / timerange), scalar columns of int / float / bool /
    str, nested 2-leaf structs, and the NaN / '' / None edge values the
    reference wire contract normalizes (series.py:35-49; NaN->None keeps
    the JSON valid, '' survives verbatim).  Also asserts chronology
    invariance: points fed SHUFFLED must come back time-ordered.

    Deterministic seeded sweep (not hypothesis): each series costs a full
    Spark round trip (~1.8s), so the suite default is 30 series; set
    SPARK_GRAFT_WIRE_PROP_N for the exhaustive pass — the full-lattice
    run was green at N=150 when this test landed, and the generator is
    seeded so any N prefix reproduces exactly."""
    import math
    import os
    import random

    from pypond_spark import TimeSeries

    rng = random.Random(42)
    n_series = int(os.environ.get("SPARK_GRAFT_WIRE_PROP_N", "30"))

    def scalar(kind_s):
        roll = rng.random()
        if roll < 0.12:
            return None
        if kind_s == "int":
            return rng.randint(-10**12, 10**12)
        if kind_s == "float":
            r = rng.random()
            if r < 0.1:
                return float("nan")
            return round(rng.uniform(-1e6, 1e6), 6)
        if kind_s == "bool":
            return rng.random() < 0.5
        r = rng.random()
        if r < 0.15:
            return ""
        return "".join(rng.choice("abcXYZ 0129_") for _ in range(6))

    def payload(col_kind):
        if col_kind.startswith("struct"):
            leaf = col_kind.split(":")[1]
            d = {}
            if rng.random() > 0.1:
                d["in"] = scalar(leaf)
            if rng.random() > 0.1:
                d["out"] = scalar(leaf)
            return d or {"in": scalar(leaf)}
        return scalar(col_kind)

    col_kinds_pool = ["int", "float", "bool", "str",
                      "struct:float", "struct:int", "struct:str"]

    for s in range(n_series):
        ev_kind = ("time", "index", "timerange")[s % 3]
        n_rows = rng.randint(1, 6)
        n_cols = rng.randint(1, 3)
        kinds = [rng.choice(col_kinds_pool) for _ in range(n_cols)]
        if ev_kind == "time":
            keys = sorted(rng.sample(range(0, 2**41), n_rows))
            key_col = "time"
        elif ev_kind == "index":
            base = rng.randint(0, 400000)
            keys = [f"{rng.choice(['5m', '1h', '1d'])}-{base + i}"
                    for i in range(n_rows)]
            key_col = "index"
        else:
            starts = sorted(rng.sample(range(0, 2**40), n_rows))
            keys = [[b, b + rng.randint(1, 10**7)] for b in starts]
            key_col = "timerange"
        rows = [[payload(k) for k in kinds] for _ in range(n_rows)]
        # ensure each column has at least one typed value for inference
        for j, k in enumerate(kinds):
            if all(rows[i][j] is None
                   or (isinstance(rows[i][j], float)
                       and math.isnan(rows[i][j]))
                   for i in range(n_rows)):
                rows[0][j] = payload(k) if k.startswith("struct") else (
                    1.0 if k == "float" else
                    1 if k == "int" else
                    True if k == "bool" else "x")
        points = [[keys[i]] + rows[i] for i in range(n_rows)]
        shuffled = points[:]
        rng.shuffle(shuffled)
        wire = {"name": f"lat{s}",
                "columns": [key_col] + [f"c{j}" for j in range(n_cols)],
                "points": shuffled}
        ts1 = TimeSeries.from_wire(spark, wire)
        w1 = ts1.to_wire()
        # chronology invariance: shuffled input comes back ordered
        got_keys = [p[0] for p in w1["points"]]
        if ev_kind in ("time", "timerange"):
            assert got_keys == sorted(got_keys), \
                f"series {s}: {ev_kind} keys unordered"
        assert len(w1["points"]) == n_rows, f"series {s}: row count"
        # encode->decode->encode fixed point (w1 is codec-normalized)
        w2 = TimeSeries.from_wire(spark, w1).to_wire()
        assert w2 == w1, f"series {s}: not a fixed point\n{w1}\n{w2}"


# --------------------------------------------------------------------------
# r14 codec/parser properties (no Spark: pure-Python roundtrips)
# --------------------------------------------------------------------------


@given(rate=st.integers(min_value=1, max_value=10_000_000))
@settings(max_examples=300, deadline=None)
def test_aiff_ext80_roundtrip(rate):
    """Every integer sample rate survives the 80-bit extended-float
    encode/decode exactly (integer-shift arithmetic, no float)."""
    from pypond_spark.datapipe.aiff import _read_ext80, _write_ext80
    assert _read_ext80(_write_ext80(rate)) == rate


@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=2,
                     max_size=64).filter(lambda s: len(s) % 2 == 0),
    comp=st.sampled_from([None, "NONE", "sowt"]),
    rate=st.sampled_from([8000, 22050, 44100, 96000]))
@settings(max_examples=120, deadline=None)
def test_aiff_pcm16_roundtrip(samples, comp, rate):
    """encode_aiff -> decode_aiff is the identity for 16-bit PCM in
    every container variant, stereo interleaving preserved."""
    from pypond_spark.datapipe.aiff import decode_aiff, encode_aiff
    d = decode_aiff(encode_aiff(rate, 2, 16, samples, comp))
    assert d["samples"] == samples
    assert d["sample_rate"] == rate
    assert d["n_frames"] == len(samples) // 2


@given(bits=st.sampled_from([8, 24, 32]),
       samples=st.lists(st.integers(-128, 127), min_size=1,
                        max_size=32))
@settings(max_examples=100, deadline=None)
def test_aiff_width_roundtrip(bits, samples):
    """8/24/32-bit widths roundtrip (values drawn within the 8-bit
    envelope so one pool serves all widths)."""
    from pypond_spark.datapipe.aiff import decode_aiff, encode_aiff
    d = decode_aiff(encode_aiff(8000, 1, bits, samples))
    assert d["samples"] == samples and d["sample_size"] == bits


@given(make=st.text(alphabet=st.characters(min_codepoint=32,
                                           max_codepoint=126),
                    min_size=0, max_size=20),
       orientation=st.integers(1, 8),
       num=st.integers(1, 10_000), den=st.integers(1, 10_000),
       iso=st.integers(0, 65535))
@settings(max_examples=120, deadline=None)
def test_exif_roundtrip_property(make, orientation, num, den, iso):
    """encode_app1_exif -> exif_tags is the identity over the full
    printable-ASCII string space (inline AND heap value placement),
    the 1..8 orientation range, arbitrary rationals and SHORT ISO."""
    from pypond_spark.datapipe.multimodal import (encode_app1_exif,
                                                  exif_tags)
    app1 = encode_app1_exif(make, "M", orientation, "2024:01:01",
                            exposure=(num, den), iso=iso,
                            focal=(den, num))
    t = exif_tags(b"\xFF\xD8" + app1 + b"\xFF\xD9")
    assert t["make"] == make or (make == "" and "make" not in t)
    assert t["orientation"] == orientation
    assert t["exposure_time"] == num / den
    assert t["focal_length"] == den / num
    assert t["iso"] == iso
