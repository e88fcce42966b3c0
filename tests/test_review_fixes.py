"""Regression tests for the code-review findings (round 1 review pass)."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from pypond_spark import TimeSeries
from pypond_spark import index as codec
from pypond_spark.operators.aggregate import collect_by_fixed_window
from pypond_spark.operators.asof import asof_join, asof_join_broadcast

UTC = datetime.timezone.utc
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_asof_carries_whole_right_row(spark):
    """A NULL column in the latest right row must NOT be backfilled from an
    older right row (atomic row carry)."""
    left = spark.createDataFrame(
        [(30_000,)], "t long").select(
            F.timestamp_millis("t").alias("time"))
    right = spark.createDataFrame(
        [(10_000, 1.0, 2.0), (20_000, None, 3.0)],
        "t long, a double, b double").select(
            F.timestamp_millis("t").alias("time"), "a", "b")
    for fn in (asof_join, asof_join_broadcast):
        row = fn(left, right).collect()[0]
        assert row["a"] is None and row["b"] == 3.0, fn.__name__

    # tolerance is judged by the carried row's own timestamp
    row = asof_join(left, right, tolerance="15s").collect()[0]
    assert row["a"] is None and row["b"] == 3.0  # 10s stale, within 15s
    row = asof_join(left, right, tolerance="5s").collect()[0]
    assert row["b"] is None  # latest right row is 10s stale


def test_asof_broadcast_keeps_duplicate_left_rows(spark):
    left = spark.createDataFrame(
        [(30_000, "A"), (30_000, "A")], "t long, sym string").select(
            F.timestamp_millis("t").alias("time"), "sym")
    right = spark.createDataFrame(
        [(10_000, "A", 5.0)], "t long, sym string, bid double").select(
            F.timestamp_millis("t").alias("time"), "sym", "bid")
    out = asof_join_broadcast(left, right, on="sym")
    assert out.count() == 2
    assert [r["bid"] for r in out.collect()] == [5.0, 5.0]


def test_global_aggregate_extent_uses_interval_end(spark):
    tr = {"name": "r", "columns": ["timerange", "value"],
          "points": [[[0, 3_600_000], 1], [[3_600_000, 7_200_000], 2]]}
    ts = TimeSeries.from_wire(spark, tr)
    out = ts.window_aggregate({"v_max": {"value": "max"}})
    row = out.df.collect()[0]
    assert row["end"].replace(tzinfo=UTC) == \
        datetime.datetime(1970, 1, 1, 2, tzinfo=UTC)  # max(end), not max(begin)


def test_indexed_as_events_center_is_midpoint(spark):
    wire = {"name": "i", "columns": ["index", "value"],
            "points": [["1h-0", 5]]}
    ts = TimeSeries.from_wire(spark, wire)
    center = ts.as_events(alignment="center").df.collect()[0]["time"]
    assert center.replace(tzinfo=UTC) == \
        datetime.datetime(1970, 1, 1, 0, 30, tzinfo=UTC)
    lag = ts.as_events(alignment="lag").df.collect()[0]["time"]
    assert lag.replace(tzinfo=UTC) == datetime.datetime(1970, 1, 1, tzinfo=UTC)


def test_collect_by_fixed_window_is_wellformed_index_series(spark):
    wire = {"name": "c", "columns": ["time", "value"],
            "points": [[i * 60_000, i] for i in range(5)]}
    out = TimeSeries.from_wire(spark, wire).collect_by_fixed_window("2m")
    assert {"index", "begin", "end"} <= set(out.df.columns)
    tr = out.timerange()  # used to raise UNRESOLVED_COLUMN `begin`
    assert tr.begin_ms() == 0 and tr.end_ms() == 360_000
    assert out.sort_by_time().size() == 5


def test_negative_ms_index_floor_and_parse():
    dt = datetime.datetime(1969, 12, 31, 23, 59, tzinfo=UTC)  # ms = -60000
    s = codec.get_index_string("5m", dt)
    assert s == "5m--1"
    kind, b, e = codec.parse_index(s)
    assert kind == "index" and b == -300_000 and e == 0
    assert b <= -60_000 < e  # bucket contains the instant


def test_negative_index_matches_column_dual(spark):
    dt = datetime.datetime(1969, 12, 31, 23, 59, tzinfo=UTC)
    df = spark.createDataFrame([(dt,)], "time timestamp")
    got = collect_by_fixed_window(df, "5m").collect()[0]["index"]
    assert got == codec.get_index_string("5m", dt)


def test_keyed_collections_single_pass(spark):
    wire = {"name": "k", "columns": ["time", "in"],
            "points": [[3_600_000 * i, i] for i in range(4)]}
    from pypond_spark import Pipeline
    ts = TimeSeries.from_wire(spark, wire)
    out = (Pipeline().from_source(ts).window_by("2h")
           .aggregate({"in_sum": {"in": "sum"}}).to_keyed_collections())
    assert set(out) == {"2h-0", "2h-1"}
    assert out["2h-0"].df.collect()[0]["in_sum"] == 1
    assert out["2h-1"].df.collect()[0]["in_sum"] == 5


def test_rate_and_fill_duplicate_timestamps_no_crash(spark):
    """ANSI mode: duplicate timestamps must yield NULL, not DIVIDE_BY_ZERO."""
    df = spark.createDataFrame(
        [(1000, 1.0), (1000, 2.0), (2000, 3.0)], "t long, value double"
    ).select(F.timestamp_millis("t").alias("time"), "value")
    from pypond_spark.operators.rate import rate
    rates = [r["value_rate"] for r in
             rate(df, "value").orderBy("end").collect()]
    assert rates[0] is None  # dt == 0
    assert rates[1] is not None

    from pypond_spark.operators.fill import fill
    df2 = spark.createDataFrame(
        [(1000, 1.0), (1000, None), (1000, 3.0)], "t long, value double"
    ).select(F.timestamp_millis("t").alias("time"), "value")
    out = fill(df2, "value", method="linear")
    assert out.count() == 3  # no crash; coincident brackets -> unfilled


def test_wire_nan_and_index_ordering(spark):
    from pypond_spark import wire as wire_codec
    df = spark.createDataFrame(
        [(1000, float("nan")), (2000, 2.0)], "t long, value double"
    ).select(F.timestamp_millis("t").alias("time"), "value")
    out = wire_codec.to_wire(df, "time")
    assert out["points"][0][1] is None  # NaN -> null (valid JSON)
    import json
    json.dumps(out)  # must not raise / emit bare NaN

    idx = {"name": "i", "columns": ["index", "value"],
           "points": [["5m-9", 9], ["5m-100", 100], ["5m-10", 10]]}
    ts = TimeSeries.from_wire(spark, idx)
    got = [p[0] for p in ts.to_wire()["points"]]
    assert got == ["5m-9", "5m-10", "5m-100"]  # time order, not lexicographic


def test_wire_mixed_dict_scalar_clear_error(spark):
    from pypond_spark.wire import read_wire
    with pytest.raises(TypeError, match="homogeneous"):
        read_wire(spark, {"columns": ["time", "v"],
                          "points": [[0, {"a": 1}], [1000, 5.0]]})


def test_keep_missing_first_last_keep(spark):
    wire = {"name": "k", "columns": ["time", "value"],
            "points": [[1000, None], [2000, 5.0], [3000, 5.0]]}
    ts = TimeSeries.from_wire(spark, wire)
    # keep_missing keeps the leading invalid value: first -> None
    assert ts.aggregate("first", "value", "keep_missing") is None
    assert ts.aggregate("last", "value", "keep_missing") == 5.0
    assert ts.aggregate("keep", "value", "keep_missing") is None  # first invalid
    # ignore_missing skips it
    assert ts.aggregate("first", "value", "ignore_missing") == 5.0
    uniform = TimeSeries.from_wire(
        spark, {"name": "u", "columns": ["time", "value"],
                "points": [[1000, 5.0], [2000, 5.0]]})
    assert uniform.aggregate("keep", "value", "keep_missing") == 5.0


def test_percentile_with_filter_in_spec(spark):
    from pypond_spark.functions import normalize_agg_spec
    rows = normalize_agg_spec({"p": {"v": ("percentile", 50, "zero_missing")}})
    assert rows == [("p", "v", ("percentile", 50), "zero_missing")]
    rows = normalize_agg_spec(
        {"p": {"v": ("percentile", 95, "higher", "zero_missing")}})
    assert rows == [("p", "v", ("percentile", 95, "higher"), "zero_missing")]
    # and end-to-end: zero_missing turns the None into 0
    wire = {"name": "p", "columns": ["time", "value"],
            "points": [[1000, None], [2000, 10.0]]}
    ts = TimeSeries.from_wire(spark, wire)
    assert ts.aggregate(("percentile", 0), "value", "zero_missing") == 0.0


def test_stream_emit_on_valueerror(spark, tmp_path):
    import json as _json
    from pypond_spark.streaming import windowed_stream_aggregate
    (tmp_path / "a.json").write_text(_json.dumps({"t_ms": 0, "value": 1.0}))
    sdf = (spark.readStream.schema("t_ms long, value double")
           .json(str(tmp_path))
           .withColumn("time", F.timestamp_millis("t_ms")))
    with pytest.raises(ValueError, match="emit_on"):
        windowed_stream_aggregate(sdf, {"n": {"value": "count"}}, "1m",
                                  emit_on="append")


def test_cosine_zero_norm_vectors_null_not_crash(spark):
    from pypond_spark.datapipe import similarity
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(df, [1.0, 0.0], k=3).collect()
    sims = {r["vec_id"]: r["cosine"] for r in top}
    assert sims[1] is None          # zero vector -> NULL, not NaN-at-top
    assert top[0]["vec_id"] == 0    # real best first (NULLs sort last desc)
    pairs = similarity.embedding_near_dups(df, threshold=0.1).collect()
    assert all(1 not in (r["id_a"], r["id_b"]) for r in pairs)


def test_malformed_index_rejected():
    with pytest.raises(ValueError):
        codec.parse_index("2018-11-12-junk")


def test_text_normalization_and_empty(spark):
    from pypond_spark.datapipe import textstats
    df = spark.createDataFrame(
        [(1, "The Cat And The Dog."), (2, ""), (3, "   ")],
        "doc_id long, text string")
    stats = {r["doc_id"]: r for r in textstats.quality_stats(df).collect()}
    assert stats[1]["stopword_ratio"] > 0        # 'The'/'And' now counted
    assert stats[2]["n_words"] == 0              # empty doc, not 1 phantom word
    assert stats[3]["n_words"] == 0
    lang = {r["doc_id"]: r["lang_pred"]
            for r in textstats.language_id(df).collect()}
    assert lang[1] == "en"                       # title case classified


def test_slice_negative_positions(spark):
    wire = {"name": "s", "columns": ["time", "value"],
            "points": [[i * 1000, i] for i in range(5)]}
    ts = TimeSeries.from_wire(spark, wire)
    assert [p[1] for p in ts.slice(-2).to_wire()["points"]] == [3, 4]
    assert [p[1] for p in ts.slice(None, -1).to_wire()["points"]] == [0, 1, 2, 3]
    assert ts.at(-1)["value"] == 4
    with pytest.raises(IndexError):
        ts.at(99)


def test_bisect_reference_contract(spark):
    wire = {"name": "b", "columns": ["time", "value"],
            "points": [[10_000, 1], [20_000, 2]]}
    ts = TimeSeries.from_wire(spark, wire)
    assert ts.bisect(5_000) == 0     # before all -> clamped to 0
    assert ts.bisect(10_000) == 1 - 1  # exact first
    assert ts.bisect(25_000) == 1
    empty = TimeSeries.from_wire(
        spark, {"name": "e", "columns": ["time", "value"], "points": []})
    assert empty.bisect(5_000) is None


# -- round 2 review pass ------------------------------------------------------


def test_callable_reducer_sees_time_ordered_values(spark):
    """An order-sensitive custom reducer (vs[0] == reference-style 'first')
    must see the group's values chronologically, not in shuffle-arrival
    order (reference Collection.aggregate passes time-ordered lists)."""
    import random
    rows = [(i * 1000, float(100 - i)) for i in range(50)]
    random.Random(7).shuffle(rows)
    df = (spark.createDataFrame(rows, "t long, value double")
          .repartition(8)
          .select(F.timestamp_millis("t").alias("time"), "value"))
    ts = TimeSeries(df)
    for _ in range(3):  # nondeterminism guard: stable across repeated runs
        assert ts.aggregate(lambda vs: vs[0]) == 100.0   # value at t=0
        assert ts.aggregate(lambda vs: vs[-1]) == 51.0   # value at t=49s


def test_streaming_callable_reducer_clear_error(spark, tmp_path):
    import json as _json
    from pypond_spark.streaming import windowed_stream_aggregate
    (tmp_path / "a.json").write_text(_json.dumps({"t_ms": 0, "value": 1.0}))
    sdf = (spark.readStream.schema("t_ms long, value double")
           .json(str(tmp_path))
           .withColumn("time", F.timestamp_millis("t_ms")))
    with pytest.raises(ValueError, match="callable reducer"):
        windowed_stream_aggregate(
            sdf, {"x": {"value": lambda vs: sum(vs)}}, "1m")


def test_map_events_dataframe_callable_guided_error(spark):
    """The pre-round-2 map() escape hatch took a DataFrame callable; such
    callables must now fail with a hint pointing at transform()."""
    wire = {"name": "m", "columns": ["time", "value"],
            "points": [[1000, 1.0]]}
    ts = TimeSeries.from_wire(spark, wire)
    with pytest.raises(Exception, match="transform"):
        ts.map(lambda df: df.withColumn("v2", F.col("value"))).to_wire()


def test_spread_noop_on_streaming_df(spark):
    from pypond_spark.datapipe._util import spread
    sdf = spark.readStream.format("rate").load()
    assert spread(sdf) is sdf  # .rdd probe would raise AnalysisException


def test_spread_io_byte_gate(spark):
    """r15 cost gate: a frame whose Catalyst size estimate is below
    min_task_bytes * defaultParallelism passes through UNTOUCHED (no
    exchange, not even the .rdd partition probe); above the floor (or
    with the gate disabled via threshold 0) the under-partitioned frame
    fans out exactly like plain spread()."""
    from pypond_spark.datapipe._util import spread
    small = spark.range(0, 100, 1, 1).selectExpr("id", "repeat('x', 10) t")
    # tiny estimate -> identity, same object (gate short-circuits)
    assert spread(small, min_task_bytes=1 << 20) is small
    # threshold 0 / None -> unconditional fan-out to defaultParallelism
    target = spark.sparkContext.defaultParallelism
    assert spread(small, min_task_bytes=0).rdd.getNumPartitions() == target
    assert spread(small).rdd.getNumPartitions() == target
    # estimate above the floor -> fans out too (1-byte-per-task floor)
    assert spread(small, min_task_bytes=1).rdd.getNumPartitions() == target


def test_bench_compare_normalizes_sub2s_rows_to_median(tmp_path):
    """When all_runs are present, sub-2s rows diff on the MEDIAN of all
    reps, not min-of-2 (r8 verdict item 8): a baseline whose recorded
    min was lottery luck (one 0.5s fluke among 1.4s runs) must not make
    a steady 0.5s current run look like a win, nor a steady 1.4s look
    like a regression.  Rows >= 2s keep min-of-first-2."""
    import json as _json
    import subprocess
    import sys
    base = {"value": 0.5, "queries": {"q1": 0.5, "big": 9.0},
            "all_runs": {"q1": [1.4, 0.5, 1.45], "big": [9.0, 9.5]}}
    now = {"value": 1.38, "queries": {"q1": 1.38, "big": 9.1},
           "all_runs": {"q1": [1.38, 1.4, 1.36], "big": [9.1, 9.6]}}
    bp, np_ = tmp_path / "base.json", tmp_path / "now.json"
    bp.write_text(_json.dumps(base))
    np_.write_text(_json.dumps(now))
    proc = subprocess.run(
        [sys.executable, "tools/bench_compare.py", str(bp), str(np_)],
        capture_output=True, text=True, cwd=ROOT)
    # median(1.4, .5, 1.45)=1.4 vs median(now)=1.38 -> ~1.0x, NOT the
    # 2.8x the recorded 0.5 min would scream; exit 0, no regression
    assert proc.returncode == 0, proc.stdout
    assert "REGRESS" not in proc.stdout
    assert "1.40s -> 1.38s" in proc.stdout
    # the >=2s row used min-of-first-2 on both sides
    assert "9.00s -> 9.10s" in proc.stdout


def test_bench_compare_tiers_once_per_query_from_both_artifacts(tmp_path):
    """A query whose min(rs[:2]) straddles the 2.0s boundary between
    rounds must get the SAME statistic on both sides (r9 ADVICE): tier
    from the smaller of the two mins -> median-vs-median here, so the
    steady ~2.05s row diffs ~1.0x instead of median(2.1) vs min(1.9)."""
    import json as _json
    import subprocess
    import sys
    base = {"value": 2.1, "queries": {"q1": 2.1},
            "all_runs": {"q1": [2.1, 2.2, 2.05]}}
    now = {"value": 1.9, "queries": {"q1": 1.9},
           "all_runs": {"q1": [1.9, 2.15, 2.1]}}
    bp, np_ = tmp_path / "base.json", tmp_path / "now.json"
    bp.write_text(_json.dumps(base))
    np_.write_text(_json.dumps(now))
    proc = subprocess.run(
        [sys.executable, "tools/bench_compare.py", str(bp), str(np_)],
        capture_output=True, text=True, cwd=ROOT)
    assert proc.returncode == 0, proc.stdout
    # both sides median: 2.10s -> 2.10s, not 2.10s -> 1.90s
    assert "2.10s -> 2.10s" in proc.stdout


def test_bench_compare_fails_on_missing_query(tmp_path):
    import json as _json
    import subprocess
    import sys
    base = {"value": 2.0, "queries": {"q1": 1.0, "q2": 1.0}}
    now = {"value": 1.0, "queries": {"q1": 1.0}}
    bp, np_ = tmp_path / "base.json", tmp_path / "now.json"
    bp.write_text(_json.dumps(base))
    np_.write_text(_json.dumps(now))
    proc = subprocess.run(
        [sys.executable, "tools/bench_compare.py", str(bp), str(np_)],
        capture_output=True, text=True, cwd=ROOT)
    assert proc.returncode == 1
    assert "q2" in proc.stdout and "missing" in proc.stdout.lower()


def test_session_drops_call_site_capture(spark):
    """get_spark turns PySpark's per-Column call-site capture off; an
    analysis error still raises and names the missing column."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(1).select("no_such_col")


_ZIP_GUARD_PROBE = r"""
import importlib, os, sys, zipfile, zipimport

zpath = sys.argv[1]
import zpkg.a  # noqa: F401  (one zipimporter per path inside the archive)
reads = []
_read = zipimport._read_directory


def counting(path):
    reads.append(path)
    return _read(path)


zipimport._read_directory = counting
importlib.invalidate_caches()
unguarded = reads.count(zpath)
import pypond_spark.daemon  # noqa: F401,E402  (installs the guard)
del reads[:]
for _ in range(3):
    importlib.invalidate_caches()
unchanged = reads.count(zpath)
del reads[:]
st = os.stat(zpath)
with zipfile.ZipFile(zpath, "w") as z:
    z.writestr("zpkg/__init__.py", "")
    z.writestr("zpkg/a.py", "A = 1\n")
    z.writestr("zpkg/b.py", "B = 2\n")
os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
importlib.invalidate_caches()
changed = reads.count(zpath)
from zpkg.b import B  # noqa: E402
print(unguarded, unchanged, changed, B)
"""


def test_daemon_zip_guard_rereads_only_a_changed_archive(tmp_path):
    """The worker daemon's zipimport guard: while a zip on the path is
    unchanged, ``importlib.invalidate_caches()`` reads no central
    directory (unguarded, every importer of the archive reads it); a
    rewritten zip is read once and its new module imports."""
    import subprocess
    import sys
    import zipfile
    zpath = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "A = 1\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([zpath, ROOT]))
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_GUARD_PROBE, zpath], env=env,
        cwd=str(tmp_path), capture_output=True, text=True, check=True)
    unguarded, unchanged, changed, b = map(int, out.stdout.split())
    assert unguarded >= 2
    assert (unchanged, changed, b) == (0, 1, 2)


def test_workers_run_the_zip_guard(spark):
    """Every Python task runs in a worker forked from pypond_spark.daemon,
    so the zipimport reload guard is live inside the task."""
    import pandas as pd

    def probe(batches):
        import zipimport
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"mod": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = {r["mod"] for r in spark.range(4, numPartitions=2)
           .mapInPandas(probe, "mod string").collect()}
    assert got == {"pypond_spark.daemon"}
