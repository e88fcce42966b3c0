"""Structured Streaming mirror: windowed aggregation + cross-batch state.

Stream fed from JSON chunk files with maxFilesPerTrigger=1 so the stateful
operators genuinely cross micro-batch boundaries.
"""

import json
import os
import shutil
from contextlib import contextmanager

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pypond_spark.streaming import (StreamPipeline, run_available_now,
                                    stream_fill_pad, stream_gaps,
                                    stream_rate, stream_sessions,
                                    windowed_stream_aggregate)

SCHEMA = T.StructType([
    T.StructField("t_ms", T.LongType()),
    T.StructField("user", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


@pytest.fixture()
def stream_dir(tmp_path):
    # two chunks -> two micro-batches; per-user monotone counters with a gap
    chunk1 = [
        {"t_ms": 0, "user": "a", "value": 100.0},
        {"t_ms": 30_000, "user": "a", "value": 130.0},
        {"t_ms": 0, "user": "b", "value": 10.0},
        {"t_ms": 60_000, "user": "a", "value": None},
    ]
    chunk2 = [
        {"t_ms": 90_000, "user": "a", "value": 220.0},
        {"t_ms": 60_000, "user": "b", "value": 40.0},
        {"t_ms": 120_000, "user": "a", "value": 160.0},
    ]
    for i, chunk in enumerate([chunk1, chunk2]):
        path = tmp_path / f"part{i}.json"
        with open(path, "w") as fh:
            for rec in chunk:
                fh.write(json.dumps(rec) + "\n")
        # deterministic micro-batch order (the file source sorts by mtime)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    return str(tmp_path)


def _read_stream(spark, stream_dir):
    return (spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(stream_dir)
            .withColumn("time", F.timestamp_millis(F.col("t_ms")))
            .drop("t_ms"))


def test_windowed_stream_aggregate(spark, stream_dir):
    sdf = _read_stream(spark, stream_dir)
    out, mode = windowed_stream_aggregate(
        sdf, {"v_sum": {"value": "sum"}, "n": {"value": "count"}},
        window="1m", group_by="user", emit_on="flush")
    assert mode == "complete"
    result = run_available_now(out, mode).collect()
    got = {(r["begin"].isoformat(), r["user"]): (r["v_sum"], r["n"])
           for r in result}
    assert got[("1970-01-01T00:00:00", "a")] == (230.0, 2)
    assert got[("1970-01-01T00:01:00", "a")] == (220.0, 1)  # null + 220
    assert got[("1970-01-01T00:02:00", "a")] == (160.0, 1)
    assert got[("1970-01-01T00:00:00", "b")] == (10.0, 1)
    assert got[("1970-01-01T00:01:00", "b")] == (40.0, 1)


def test_stream_rate_across_batches(spark, stream_dir):
    sdf = _read_stream(spark, stream_dir)
    out = stream_rate(sdf, field_spec="value", partition_by=["user"])
    rows = run_available_now(out, "append").collect()
    got = {(r["user"], r["begin_ms"], r["end_ms"]): r["value_rate"]
           for r in rows}
    # batch 1 pairs
    assert got[("a", 0, 30_000)] == pytest.approx(1.0)
    assert got[("a", 30_000, 60_000)] is None  # null value
    # cross-batch pair: state carried from batch 1 (last=None value at 60s)
    assert got[("a", 60_000, 90_000)] is None
    assert got[("a", 90_000, 120_000)] == pytest.approx(-2.0)
    assert got[("b", 0, 60_000)] == pytest.approx(0.5)
    assert len(rows) == 5


def test_stream_fill_pad_across_batches(spark, stream_dir):
    sdf = _read_stream(spark, stream_dir)
    out = stream_fill_pad(sdf, field_spec="value", partition_by=["user"])
    rows = run_available_now(out, "append").collect()
    got = {(r["user"], r["t_ms"]): r["value"] for r in rows}
    assert got[("a", 60_000)] == 130.0  # padded from batch-1 state
    assert got[("a", 90_000)] == 220.0
    assert got[("b", 60_000)] == 40.0


def test_stream_pipeline_fluent(spark, stream_dir):
    sdf = _read_stream(spark, stream_dir)
    out, mode = (StreamPipeline(sdf)
                 .window_by("2m").group_by("user").emit_on("discard")
                 .aggregate({"v_max": {"value": "max"}}))
    assert mode == "append"
    rows = run_available_now(out, mode).collect()
    got = {(r["begin"].isoformat(), r["user"]): r["v_max"] for r in rows}
    # discard + 0s watermark: only windows the watermark closed emit; the
    # [0,120s) window (events at 0/30/60/90s) closed when t=120s arrived
    assert got[("1970-01-01T00:00:00", "a")] == 220.0
    assert ("1970-01-01T00:02:00", "a") not in got  # still open at shutdown

    with pytest.raises(ValueError):
        StreamPipeline(sdf).aggregate({"x": {"value": "sum"}})
    with pytest.raises(ValueError):
        StreamPipeline(sdf).emit_on("bogus")


def test_stream_align_across_batches(spark, stream_dir):
    from pypond_spark.streaming import stream_align
    sdf = _read_stream(spark, stream_dir)
    out = stream_align(sdf, window="1m", field_spec="value",
                       partition_by=["user"], method="linear")
    rows = run_available_now(out, "append").collect()
    got = {(r["user"], r["t_ms"]): r["value"] for r in rows}
    # user a: first event at 0 is aligned -> emitted with its value
    assert got[("a", 0)] == 100.0
    # boundary 60s from pair (30s:130, 60s:None) -> linear with null -> None
    assert got[("a", 60_000)] is None
    # cross-batch pair (60s:None, 90s:220): boundary 90s? none (same window)
    # pair (90s:220, 120s:160) crosses 120s boundary exactly -> value 160
    assert got[("a", 120_000)] == 160.0
    # user b: first event at 0 aligned; pair (0:10, 60s:40) -> boundary 60s = 40
    assert got[("b", 0)] == 10.0
    assert got[("b", 60_000)] == 40.0


def test_stream_rate_multi_chunk_group(spark, tmp_path):
    """Groups larger than the Arrow batch arrive as MULTIPLE chunks in
    shuffle order; state fns must concat+sort the whole group first."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        recs = [{"t_ms": 60_000, "user": "a", "value": 60.0},
                {"t_ms": 0, "user": "a", "value": 0.0},
                {"t_ms": 30_000, "user": "a", "value": 30.0},
                {"t_ms": 90_000, "user": "a", "value": 90.0},
                {"t_ms": 120_000, "user": "a", "value": 120.0}]
        with open(tmp_path / "x.json", "w") as fh:
            for r in recs:
                fh.write(json.dumps(r) + "\n")
        sdf = (spark.readStream.schema(SCHEMA).json(str(tmp_path))
               .withColumn("time", F.timestamp_millis(F.col("t_ms")))
               .drop("t_ms"))
        out = stream_rate(sdf, field_spec="value", partition_by=["user"])
        rows = run_available_now(out, "append").collect()
        got = sorted((r["begin_ms"], r["end_ms"], r["value_rate"])
                     for r in rows)
        assert got == [(0, 30_000, 1.0), (30_000, 60_000, 1.0),
                       (60_000, 90_000, 1.0), (90_000, 120_000, 1.0)]
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_stream_exact_dedup_across_batches(spark, tmp_path):
    """Streaming digest dedup: a duplicate arriving in a LATER micro-batch
    must be dropped by the cross-batch state store."""
    from pypond_spark.streaming import stream_exact_dedup
    chunk1 = [{"t_ms": 0, "user": "d1", "value": 1.0},
              {"t_ms": 1, "user": "d2", "value": 1.0},
              {"t_ms": 2, "user": "d1", "value": 1.0}]  # in-batch dup
    chunk2 = [{"t_ms": 3, "user": "d2", "value": 1.0},  # cross-batch dup
              {"t_ms": 4, "user": "d3", "value": 1.0}]
    for i, chunk in enumerate([chunk1, chunk2]):
        path = tmp_path / f"p{i}.json"
        with open(path, "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    sdf = (spark.readStream.schema(SCHEMA)
           .option("maxFilesPerTrigger", 1).json(str(tmp_path)))
    out = stream_exact_dedup(sdf, text_col="user")
    rows = run_available_now(out, "append").collect()
    assert sorted(r["user"] for r in rows) == ["d1", "d2", "d3"]
    # first occurrence wins
    assert {r["user"]: r["t_ms"] for r in rows} == {"d1": 0, "d2": 1, "d3": 4}


def test_stream_exact_dedup_watermarked(spark, tmp_path):
    """The state-bounded variant still suppresses duplicates inside the
    watermark horizon."""
    from pypond_spark.streaming import stream_exact_dedup
    recs = [{"t_ms": 0, "user": "w1", "value": 1.0},
            {"t_ms": 60_000, "user": "w1", "value": 1.0},
            {"t_ms": 120_000, "user": "w2", "value": 1.0}]
    with open(tmp_path / "x.json", "w") as fh:
        for r in recs:
            fh.write(json.dumps(r) + "\n")
    sdf = (spark.readStream.schema(SCHEMA).json(str(tmp_path))
           .withColumn("time", F.timestamp_millis(F.col("t_ms"))))
    out = stream_exact_dedup(sdf, text_col="user", time_col="time",
                             watermark="1 hour")
    rows = run_available_now(out, "append").collect()
    assert sorted(r["user"] for r in rows) == ["w1", "w2"]


def test_stream_fill_zero_with_limit(spark, tmp_path):
    from pypond_spark.streaming import stream_fill
    recs = [{"t_ms": 10_000 * i, "user": "a", "value": v} for i, v in
            enumerate([1.0, None, None, None, 5.0])]
    with open(tmp_path / "x.json", "w") as fh:
        for r in recs:
            fh.write(json.dumps(r) + "\n")
    sdf = (spark.readStream.schema(SCHEMA).json(str(tmp_path))
           .withColumn("time", F.timestamp_millis(F.col("t_ms")))
           .drop("t_ms"))
    out = stream_fill(sdf, "value", method="zero", fill_limit=2,
                      partition_by=["user"])
    got = {r["t_ms"]: r["value"] for r in
           run_available_now(out, "append").collect()}
    assert got == {0: 1.0, 10_000: 0.0, 20_000: 0.0, 30_000: None,
                   40_000: 5.0}


def test_stream_fill_linear_closes_run_across_batches(spark, tmp_path):
    """Reference clean_test.py:457-566: cached invalid events are emitted
    interpolated when a later (cross-batch) valid value closes the run."""
    from pypond_spark.streaming import stream_fill
    chunk1 = [{"t_ms": 0, "user": "a", "value": 10.0},
              {"t_ms": 10_000, "user": "a", "value": None},
              {"t_ms": 20_000, "user": "a", "value": None}]
    chunk2 = [{"t_ms": 30_000, "user": "a", "value": 40.0}]
    for i, chunk in enumerate([chunk1, chunk2]):
        path = tmp_path / f"p{i}.json"
        with open(path, "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # deterministic order
    sdf = (spark.readStream.schema(SCHEMA)
           .option("maxFilesPerTrigger", 1).json(str(tmp_path))
           .withColumn("time", F.timestamp_millis(F.col("t_ms")))
           .drop("t_ms"))
    out = stream_fill(sdf, "value", method="linear", partition_by=["user"])
    got = {r["t_ms"]: r["value"] for r in
           run_available_now(out, "append").collect()}
    assert got == {0: 10.0, 10_000: 20.0, 20_000: 30.0, 30_000: 40.0}

    with pytest.raises(ValueError):
        stream_fill(sdf, ["a", "b"], method="linear")
    with pytest.raises(ValueError):
        stream_fill(sdf, "value", method="bogus")


def test_stream_ewma_matches_batch(spark, tmp_path):
    """Draining the stream in two micro-batches must reproduce the batch
    recurrence exactly (state carries the accumulator across batches)."""
    from pypond_spark.operators.rolling import ewma as batch_ewma
    from pypond_spark.streaming import run_available_now, stream_ewma
    chunk1 = [{"t_ms": 0, "user": "a", "value": 10.0},
              {"t_ms": 1_000, "user": "a", "value": 20.0}]
    chunk2 = [{"t_ms": 2_000, "user": "a", "value": 40.0},
              {"t_ms": 0, "user": "b", "value": 5.0}]
    for i, chunk in enumerate([chunk1, chunk2]):
        path = tmp_path / f"p{i}.json"
        with open(path, "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    sdf = (spark.readStream.schema(SCHEMA)
           .option("maxFilesPerTrigger", 1).json(str(tmp_path))
           .withColumn("time", F.timestamp_millis(F.col("t_ms")))
           .drop("t_ms"))
    out = stream_ewma(sdf, "value", alpha=0.5, partition_by=["user"])
    got = {(r["user"], r["t_ms"]): r["value_ewma"]
           for r in run_available_now(out, "append").collect()}
    assert got == {("a", 0): 10.0, ("a", 1_000): 15.0,
                   ("a", 2_000): 27.5, ("b", 0): 5.0}
    # batch twin agrees
    batch = (spark.read.json(str(tmp_path))
             .withColumn("time", F.timestamp_millis(F.col("t_ms"))))
    brows = batch_ewma(batch, "value", alpha=0.5, partition_by=["user"],
                       time_col="time").collect()
    bgot = {(r["user"], r["t_ms"]): r["value_ewma"] for r in brows}
    assert bgot == got


def test_quality_exprs_work_on_streams(spark, tmp_path):
    """The per-document quality signals are stateless column exprs, so the
    same gopher/c4 rules drive a streaming ingestion filter unchanged."""
    from pypond_spark.datapipe.textstats import gopher_exprs
    recs = [{"doc_id": 1, "text": "short"},
            {"doc_id": 2, "text": ("the be to of and that have with good "
                                   "prose text " * 12)}]
    with open(tmp_path / "docs.json", "w") as fh:
        for r in recs:
            fh.write(json.dumps(r) + "\n")
    sdf = (spark.readStream
           .schema("doc_id long, text string").json(str(tmp_path)))
    flagged = sdf.select("doc_id", gopher_exprs("text")[-1])
    rows = run_available_now(flagged, "append").collect()
    got = {r["doc_id"]: r["gopher_pass"] for r in rows}
    assert got == {1: False, 2: True}


def _write_chunks(tmp_path, chunks):
    for i, chunk in enumerate(chunks):
        path = tmp_path / f"p{i}.json"
        with open(path, "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def test_stream_rolling_matches_batch(spark, tmp_path):
    """Trailing-window aggregates across two micro-batches must equal the
    batch RANGE-frame operator, including equal-timestamp peer semantics
    and the null-sample rules, with eviction exercised (one event falls
    out of the 10m window between batches)."""
    from pypond_spark.operators.rolling import rolling as batch_rolling
    from pypond_spark.streaming import run_available_now, stream_rolling
    chunk1 = [{"t_ms": 0, "user": "a", "value": 10.0},
              {"t_ms": 60_000, "user": "a", "value": 20.0},
              {"t_ms": 60_000, "user": "a", "value": 30.0},  # equal-ts peers
              {"t_ms": 0, "user": "b", "value": None}]
    chunk2 = [{"t_ms": 120_000, "user": "a", "value": 40.0},
              {"t_ms": 700_000, "user": "a", "value": 7.0},  # evicts t<=100k
              {"t_ms": 60_000, "user": "b", "value": 5.0}]
    _write_chunks(tmp_path, [chunk1, chunk2])
    spec = {"v_avg": {"value": "avg"}, "v_n": {"value": "count"},
            "v_max": {"value": "max"}}
    sdf = _read_stream(spark, str(tmp_path))
    out = stream_rolling(sdf, "10m", spec, partition_by=["user"])
    got = {(r["user"], r["t_ms"]): (r["v_avg"], r["v_n"], r["v_max"])
           for r in run_available_now(out, "append").collect()}
    batch = (spark.read.json(str(tmp_path / "p0.json"),
                             schema=SCHEMA)
             .unionByName(spark.read.json(str(tmp_path / "p1.json"),
                                          schema=SCHEMA))
             .withColumn("time", F.timestamp_millis(F.col("t_ms"))))
    brows = batch_rolling(batch, "10m", spec, partition_by=["user"]).collect()
    bgot = {(r["user"], r["t_ms"]): (r["v_avg"], r["v_n"], r["v_max"])
            for r in brows}
    assert got == bgot
    # spot-check semantics: equal-ts peers see each other; eviction works
    assert got[("a", 60_000)] == (20.0, 3, 30.0)
    assert got[("a", 700_000)] == (23.5, 2, 40.0)   # only t=120k survives
    assert got[("b", 0)] == (None, 0, None)          # null-only frame


def test_stream_zscore_matches_batch(spark, tmp_path):
    """Windowed z-scores (exclude-current-ms) across micro-batches must
    equal the batch operator: same mean/stddev window, NULL z for empty or
    zero-variance windows, anomaly flags coalesced to False."""
    from pypond_spark.operators.rolling import zscore as batch_zscore
    from pypond_spark.streaming import run_available_now, stream_zscore
    chunk1 = [{"t_ms": 0, "user": "a", "value": 10.0},
              {"t_ms": 60_000, "user": "a", "value": 12.0},
              {"t_ms": 120_000, "user": "a", "value": 11.0}]
    chunk2 = [{"t_ms": 180_000, "user": "a", "value": 50.0},  # spike
              {"t_ms": 240_000, "user": "a", "value": 11.5},
              {"t_ms": 0, "user": "b", "value": 3.0}]
    _write_chunks(tmp_path, [chunk1, chunk2])
    sdf = _read_stream(spark, str(tmp_path))
    out = stream_zscore(sdf, "value", window="10m", partition_by=["user"],
                        threshold=2.0)
    got = {(r["user"], r["t_ms"]): (r["value_zscore"], r["value_anomaly"])
           for r in run_available_now(out, "append").collect()}
    batch = (spark.read.json(str(tmp_path / "p0.json"), schema=SCHEMA)
             .unionByName(spark.read.json(str(tmp_path / "p1.json"),
                                          schema=SCHEMA))
             .withColumn("time", F.timestamp_millis(F.col("t_ms"))))
    brows = batch_zscore(batch, "value", window="10m",
                         partition_by=["user"], threshold=2.0,
                         time_col="time").collect()
    bgot = {(r["user"], r["t_ms"]): (r["value_zscore"], r["value_anomaly"])
            for r in brows}
    for k, (bz, ba) in bgot.items():
        sz, sa = got[k]
        assert (sz is None) == (bz is None), k
        if bz is not None:
            assert abs(sz - bz) < 1e-12, k
        assert sa == ba, k
    assert got[("a", 0)] == (None, False)      # empty window
    assert got[("b", 0)] == (None, False)
    assert got[("a", 180_000)][1] is True      # the spike flags


def test_stream_gaps_across_batches(spark, stream_dir):
    # user a: 0, 30s, 60s | 90s, 120s -> with min_gap=20s only the 30s
    # silences fire; the 60s->90s pair SPANS the micro-batch boundary
    sdf = _read_stream(spark, stream_dir)
    out = stream_gaps(sdf, min_gap=20_000, partition_by=["user"])
    rows = run_available_now(out, "append").collect()
    got = {(r["user"], r["gap_start_ms"], r["gap_end_ms"]): r["gap_ms"]
           for r in rows}
    assert got[("a", 0, 30_000)] == 30_000
    assert got[("a", 30_000, 60_000)] == 30_000
    assert got[("a", 60_000, 90_000)] == 30_000  # cross-batch, via state
    assert got[("a", 90_000, 120_000)] == 30_000
    assert got[("b", 0, 60_000)] == 60_000
    assert len(rows) == 5


def test_stream_gaps_matches_batch(spark, stream_dir):
    from pypond_spark import TimeSeries
    sdf = _read_stream(spark, stream_dir)
    streamed = run_available_now(
        stream_gaps(sdf, "1m", partition_by=["user"]), "append").collect()
    batch_df = (spark.read.schema(SCHEMA).json(str(stream_dir))
                .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                .drop("t_ms"))
    batch = TimeSeries(batch_df, kind="time").find_gaps(
        "1m", partition_by=["user"]).collect()
    to_set = lambda rows, s, e: {  # noqa: E731
        (r["user"], r[s], r[e], r["gap_ms"]) for r in rows}
    assert to_set(streamed, "gap_start_ms", "gap_end_ms") == {
        (r["user"], int(r["gap_start"].timestamp() * 1000),
         int(r["gap_end"].timestamp() * 1000), r["gap_ms"])
        for r in batch}


def test_stream_rate_counter_wrap(spark, stream_dir):
    # user a values 100,130,None,220,160: the 220->160 drop is read as a
    # wrap of a 256-counter -> (160+256-220)/30 = 6.4/s
    sdf = _read_stream(spark, stream_dir)
    out = stream_rate(sdf, field_spec="value", partition_by=["user"],
                      counter_wrap=256)
    rows = run_available_now(out, "append").collect()
    got = {(r["user"], r["begin_ms"]): r["value_rate"] for r in rows}
    assert got[("a", 90_000)] == pytest.approx((160 + 256 - 220) / 30.0)
    assert got[("a", 0)] == pytest.approx(1.0)  # positive deltas unchanged


def test_stream_seasonal_scoring_with_batch_profile(spark, stream_dir):
    """Train-in-batch / score-on-stream: a seasonal profile derived from
    the batch read scores the stream via a stateless stream-static
    broadcast join, matching the batch scoring row-for-row."""
    from pypond_spark.operators.seasonal import (seasonal_anomaly,
                                                 seasonal_profile)
    batch_df = (spark.read.schema(SCHEMA).json(str(stream_dir))
                .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                .drop("t_ms"))
    prof = seasonal_profile(batch_df, "value", ["user"])
    sdf = _read_stream(spark, stream_dir)
    scored = seasonal_anomaly(sdf, "value", ["user"], profile=prof)
    q = (scored.writeStream.format("memory").queryName("seasonal_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = {(r["user"], r["time"]): r["deviation"]
                for r in spark.sql("SELECT * FROM seasonal_mem").collect()}
    expected = {(r["user"], r["time"]): r["deviation"]
                for r in seasonal_anomaly(
                    batch_df, "value", ["user"], profile=prof).collect()}
    assert streamed == expected and len(streamed) == 7


def test_stream_zscore_equal_ts_across_batches(spark, tmp_path):
    """Equal-timestamp peers buffered from a PREVIOUS micro-batch must be
    excluded from the scoring frame, exactly like the batch RANGE frame
    excludes every row at the current ms."""
    from pypond_spark.operators.rolling import zscore as batch_zscore
    from pypond_spark.streaming import run_available_now, stream_zscore
    chunk1 = [{"t_ms": 40_000, "user": "x", "value": 10.0},
              {"t_ms": 100_000, "user": "x", "value": 10.0},
              {"t_ms": 100_000, "user": "x", "value": 20.0}]
    chunk2 = [{"t_ms": 100_000, "user": "x", "value": 50.0}]
    _write_chunks(tmp_path, [chunk1, chunk2])
    sdf = _read_stream(spark, str(tmp_path))
    out = stream_zscore(sdf, "value", window="10m", partition_by=["user"],
                        threshold=2.0)
    rows = run_available_now(out, "append").collect()
    zs = sorted((r["t_ms"], r["value"], r["value_zscore"]) for r in rows)
    # every t=100s row scores only against the lone t=40s point:
    # single-sample frame -> stddev 0 -> NULL z (batch semantics)
    batch_df = (spark.read.json(str(tmp_path / "p0.json"), schema=SCHEMA)
                .unionByName(spark.read.json(str(tmp_path / "p1.json"),
                                             schema=SCHEMA))
                .withColumn("time", F.timestamp_millis(F.col("t_ms"))))
    bz = batch_zscore(batch_df, "value", window="10m",
                      partition_by=["user"], threshold=2.0)
    expected = sorted(
        (int(r["time"].timestamp() * 1000), r["value"], r["value_zscore"])
        for r in bz.collect())
    assert zs == expected
    assert all(z is None for t, v, z in zs if t == 100_000)


def test_stream_ohlc_via_tiebroken_agg_spec(spark, stream_dir):
    """The ('first'|'last', tiebreak) agg-spec tuples compile in streaming
    aggregation too - OHLC per window on a stream."""
    sdf = _read_stream(spark, stream_dir).withColumn(
        "seq", F.unix_millis("time"))
    out, mode = windowed_stream_aggregate(
        sdf, {"open": {"value": ("first", "seq")},
              "high": {"value": "max"}, "low": {"value": "min"},
              "close": {"value": ("last", "seq")}},
        window="2m", group_by="user", emit_on="flush")
    rows = run_available_now(out, mode).collect()
    got = {(r["begin"].isoformat(), r["user"]):
           (r["open"], r["high"], r["low"], r["close"]) for r in rows}
    # user a window [0,2m): 100 (t=0), 130 (30s), None (60s), 220 (90s)
    assert got[("1970-01-01T00:00:00", "a")] == (100.0, 220.0, 100.0, 220.0)
    assert got[("1970-01-01T00:02:00", "a")] == (160.0, 160.0, 160.0, 160.0)
    # user b window [0,2m): 10 (t=0), 40 (60s)
    assert got[("1970-01-01T00:00:00", "b")] == (10.0, 40.0, 10.0, 40.0)


def test_stream_cumulative_matches_batch(spark, stream_dir):
    """Running sum/max/count across micro-batches == batch cumulative
    (constant per-key state: four floats per input column)."""
    from pypond_spark import TimeSeries
    from pypond_spark.streaming import stream_cumulative
    sdf = _read_stream(spark, stream_dir)
    spec = {"v_cum": {"value": "sum"}, "v_runmax": {"value": "max"},
            "n_seen": {"value": "count"}}
    streamed = run_available_now(
        stream_cumulative(sdf, spec, partition_by=["user"]),
        "append").collect()
    got = {(r["user"], r["t_ms"]): (r["v_cum"], r["v_runmax"], r["n_seen"])
           for r in streamed}
    batch_df = (spark.read.schema(SCHEMA).json(str(stream_dir))
                .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                .drop("t_ms"))
    batch = TimeSeries(batch_df, kind="time").cumulative(
        spec, partition_by=["user"]).df.collect()
    expected = {(r["user"], int(r["time"].timestamp() * 1000)):
                (r["v_cum"], r["v_runmax"], r["n_seen"]) for r in batch}
    assert got == expected
    # the NULL-value row keeps the prior running values (skip semantics)
    assert got[("a", 60_000)] == (230.0, 130.0, 2)


def test_stream_cumulative_rejects_buffer_reducers(spark, stream_dir):
    from pypond_spark.streaming import stream_cumulative
    sdf = _read_stream(spark, stream_dir)
    with pytest.raises(ValueError):
        stream_cumulative(sdf, {"m": {"value": "median"}},
                          partition_by=["user"])


def test_stream_pipeline_stateful_methods(spark, stream_dir):
    """The fluent StreamPipeline exposes every stateful operator."""
    sdf = _read_stream(spark, stream_dir)
    pipe = StreamPipeline(sdf).group_by("user")
    cum = run_available_now(
        pipe.cumulative({"c": {"value": "sum"}}), "append").collect()
    assert {(r["user"], r["t_ms"]): r["c"] for r in cum}[
        ("a", 120_000)] == 610.0
    roll = run_available_now(
        pipe.rolling("1m", {"m": {"value": "max"}}), "append").collect()
    assert len(roll) == 7
    z = run_available_now(pipe.zscore("value", "10m"), "append").collect()
    assert len(z) == 7
    # only user b's 60s silence exceeds 45s (user a ticks every 30s)
    gaps = run_available_now(pipe.find_gaps("45s"), "append").collect()
    assert [(r["user"], r["gap_ms"]) for r in gaps] == [("b", 60_000)]


def test_stream_holt_matches_batch(spark, tmp_path):
    """Level/trend state must carry across micro-batches and reproduce the
    batch Holt recurrence exactly."""
    from pypond_spark.operators.rolling import holt as batch_holt
    from pypond_spark.streaming import run_available_now, stream_holt
    chunk1 = [{"t_ms": 0, "user": "a", "value": 10.0},
              {"t_ms": 1_000, "user": "a", "value": 20.0}]
    chunk2 = [{"t_ms": 2_000, "user": "a", "value": 40.0},
              {"t_ms": 0, "user": "b", "value": 5.0}]
    for i, chunk in enumerate([chunk1, chunk2]):
        path = tmp_path / f"p{i}.json"
        with open(path, "w") as fh:
            for r in chunk:
                fh.write(json.dumps(r) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    sdf = (spark.readStream.schema(SCHEMA)
           .option("maxFilesPerTrigger", 1).json(str(tmp_path))
           .withColumn("time", F.timestamp_millis(F.col("t_ms")))
           .drop("t_ms"))
    out = stream_holt(sdf, "value", alpha=0.5, beta=0.5,
                      partition_by=["user"])
    got = {(r["user"], r["t_ms"]): (r["value_level"], r["value_trend"])
           for r in run_available_now(out, "append").collect()}
    # a: l0=10,b0=0; l1=.5*20+.5*10=15, b1=.5*5+0=2.5;
    #    l2=.5*40+.5*17.5=28.75, b2=.5*13.75+.5*2.5=8.125
    assert got == {("a", 0): (10.0, 0.0), ("a", 1_000): (15.0, 2.5),
                   ("a", 2_000): (28.75, 8.125), ("b", 0): (5.0, 0.0)}
    batch = (spark.read.json(str(tmp_path))
             .withColumn("time", F.timestamp_millis(F.col("t_ms"))))
    brows = batch_holt(batch, "value", alpha=0.5, beta=0.5,
                       partition_by=["user"], time_col="time").collect()
    bgot = {(r["user"], r["t_ms"]): (r["value_level"], r["value_trend"])
            for r in brows}
    assert bgot == got


def test_stream_sessions_across_batches(spark, stream_dir):
    # user a: 0, 30s, 60s | 90s, 120s; window=25s -> every 30s gap closes
    # a session. The 60s->90s closure SPANS the micro-batch boundary, so
    # it only exists if the open session rode the state store.
    sdf = _read_stream(spark, stream_dir)
    rows = run_available_now(
        stream_sessions(sdf, window=25_000, partition_by=["user"]),
        "append").collect()
    got = {(r["user"], r["begin_ms"]): (r["end_ms"], r["n"]) for r in rows}
    assert got[("a", 0)] == (25_000, 1)
    assert got[("a", 30_000)] == (55_000, 1)
    assert got[("a", 60_000)] == (85_000, 1)   # closed by the 90s event
    assert got[("a", 90_000)] == (115_000, 1)  # closed by the 120s event
    assert got[("b", 0)] == (25_000, 1)
    # sessions still open at stream end (a@120s, b@60s) are NOT emitted
    assert len(rows) == 5


def test_stream_sessions_matches_batch_closed_set(spark, stream_dir):
    from pypond_spark import TimeSeries
    sdf = _read_stream(spark, stream_dir)
    # 45s window: user a's 30s gaps all merge (one OPEN session, nothing
    # emitted); user b's 60s gap splits -> one closed session. Also
    # checked at 1m: b's exactly-60s gap must MERGE on both paths
    # (Spark session_window's end is inclusive).
    streamed = run_available_now(
        stream_sessions(sdf, window="45s", partition_by=["user"]),
        "append").collect()
    batch_df = (spark.read.schema(SCHEMA).json(str(stream_dir))
                .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                .drop("t_ms"))
    batch = TimeSeries(batch_df, kind="time").session_window_rollup(
        "45s", {"n": {"value": "count"}}, group_by="user").df.collect()
    b_all = {(r["user"], int(r["begin"].timestamp() * 1000),
              int(r["end"].timestamp() * 1000)): None for r in batch}
    # drop each user's LAST (still-open) session from the batch set
    last = {}
    for (u, b, e) in b_all:
        if u not in last or b > last[u][0]:
            last[u] = (b, e)
    b_closed = {k for k in b_all if (k[1], k[2]) != last[k[0]]}
    s_set = {(r["user"], r["begin_ms"], r["end_ms"]) for r in streamed}
    assert s_set == b_closed
    assert s_set == {("b", 0, 45_000)}  # non-vacuous: one closed session
    # exactly-window gap (b: 0 -> 60s at window=1m) merges on BOTH paths
    at_1m = run_available_now(
        stream_sessions(sdf, window="1m", partition_by=["user"]),
        "append").collect()
    assert at_1m == []  # everything merged -> all sessions still open


def test_stream_sessions_counts_multi_event(spark, stream_dir):
    # window=45s: user a groups 0/30/60 into one session (gaps 30s < 45s),
    # closed by the 90s event? gap 60->90 is 30s < 45s too -> all five a
    # events are ONE open session, nothing emitted for a; b's 0->60s gap
    # (60s >= 45s) closes {0} when 60s arrives.
    sdf = _read_stream(spark, stream_dir)
    rows = run_available_now(
        stream_sessions(sdf, window=45_000, partition_by=["user"]),
        "append").collect()
    got = {(r["user"], r["begin_ms"]): (r["end_ms"], r["n"]) for r in rows}
    assert got == {("b", 0): (45_000, 1)}


def test_stream_holt_winters_matches_batch(spark, stream_dir):
    from pypond_spark.operators.rolling import holt_winters
    from pypond_spark.streaming import stream_holt_winters
    sdf = _read_stream(spark, stream_dir)
    streamed = run_available_now(
        stream_holt_winters(sdf, "value", period=2,
                            partition_by=["user"]),
        "append").collect()
    got = {(r["user"], r["t_ms"]): (r["value_level"], r["value_trend"],
                                    r["value_seasonal"])
           for r in streamed}
    batch_df = (spark.read.schema(SCHEMA).json(str(stream_dir))
                .withColumn("time", F.timestamp_millis(F.col("t_ms"))))
    brows = holt_winters(batch_df, "value", period=2,
                         partition_by=["user"]).collect()
    bgot = {(r["user"], r["t_ms"]): (r["value_level"], r["value_trend"],
                                     r["value_seasonal"])
            for r in brows}
    # bit-for-bit across the micro-batch boundary, NaN None-row included
    import math
    assert set(got) == set(bgot)
    for k, v in got.items():
        for a, b in zip(v, bgot[k]):
            assert (a == b) or (a is None and b is None) \
                or (math.isnan(a) if a is not None else False) \
                and (math.isnan(b) if b is not None else False), (k, v, bgot[k])


def test_stream_distinct_counts_cross_batch(spark, stream_dir):
    """A user recurring in a LATER micro-batch of the same bucket is
    suppressed by the chained dedup state store."""
    from pypond_spark.streaming import stream_distinct_counts
    sdf = _read_stream(spark, stream_dir)
    # 1-minute buckets: user a hits minute-0 twice IN batch 1 (0, 30s)
    # and minute-1 twice ACROSS batches (60s in b1, 90s in b2)
    out = stream_distinct_counts(sdf, "user", window="1m")
    rows = run_available_now(out, "complete").collect()
    got = {int(r["begin"].timestamp() * 1000): r["u_user"] for r in rows}
    assert got[0] == 2        # a + b in minute 0
    assert got[60_000] == 2   # a (deduped across batches) + b
    assert got[120_000] == 1  # a only


def test_stream_throttle_cross_batch(spark, stream_dir):
    """A suppression window spanning the micro-batch boundary still
    suppresses: with 90s spacing, user a keeps t=0 (first), suppresses
    30s/60s in batch 1 AND 90s+120s... 90s is exactly 90s after the
    kept t=0 -> kept (>= boundary); 120s is 30s after the new kept ->
    suppressed."""
    from pypond_spark.streaming import stream_throttle
    sdf = _read_stream(spark, stream_dir)
    rows = run_available_now(
        stream_throttle(sdf, 90_000, partition_by=["user"]),
        "append").collect()
    got = {(r["user"], r["t_ms"]): r["throttle_keep"] for r in rows}
    assert got[("a", 0)] is True
    assert got[("a", 30_000)] is False
    assert got[("a", 60_000)] is False
    assert got[("a", 90_000)] is True    # exactly min_spacing -> kept
    assert got[("a", 120_000)] is False  # 30s after the cross-batch keep
    assert got[("b", 0)] is True and got[("b", 60_000)] is False
    # batch twin agrees bit-for-bit
    from pypond_spark.operators.rolling import throttle
    batch_df = (spark.read.schema(SCHEMA).json(str(stream_dir))
                .withColumn("time", F.timestamp_millis(F.col("t_ms"))))
    brows = throttle(batch_df, 90_000, partition_by=["user"]).collect()
    bgot = {(r["user"], r["t_ms"]): r["throttle_keep"] for r in brows}
    assert bgot == got


# The four smoothing twins on adversarial input: a NULL string key and a
# NULL long key, a leading NULL value, a mid-series NaN, equal timestamps
# pinned by ``tb`` (written against their fold order), a pre-1970
# sub-millisecond time, and three stream files. Rows are (tb, sk, lk, t_us,
# value), one list per file; per key, each file is later than the one
# before it. The NULL-key series is the 10/20/40 run at 0/1/2 s.
_TWIN_FILES = [
    [(1, None, None, 0, 10.0), (2, "a", 1, -1_500, None),
     (3, "a", 1, 0, 4.0), (4, "b", 2, 0, 1.0)],
    [(5, None, None, 1_000_000, 20.0), (6, "a", 1, 1_000_000, float("nan")),
     (8, "a", 1, 2_000_000, 16.0), (7, "a", 1, 2_000_000, 8.0)],
    [(9, None, None, 2_000_000, 40.0), (10, "a", 1, 3_000_000, 2.0),
     (11, "b", 2, 5_000_000, 3.0)],
]
_TWIN_SCHEMA = "tb long, sk string, lk long, t_us long, value double"


def _smoothing_twins():
    from pypond_spark.operators import rolling as R
    from pypond_spark.streaming import (stream_ewma, stream_holt,
                                        stream_holt_winters,
                                        stream_throttle)
    kw = {"tiebreak": "tb"}
    return {
        "ewma": (lambda df, k: R.ewma(df, "value", 0.5, [k], **kw),
                 lambda sdf, k: stream_ewma(sdf, "value", 0.5, [k], **kw),
                 ["value_ewma"], [(10.0,), (15.0,), (27.5,)]),
        "holt": (lambda df, k: R.holt(df, "value", 0.5, 0.5, [k], **kw),
                 lambda sdf, k: stream_holt(sdf, "value", 0.5, 0.5, [k],
                                            **kw),
                 ["value_level", "value_trend"],
                 [(10.0, 0.0), (15.0, 2.5), (28.75, 8.125)]),
        "holt_winters": (
            lambda df, k: R.holt_winters(df, "value", 2, partition_by=[k],
                                         **kw),
            lambda sdf, k: stream_holt_winters(sdf, "value", 2,
                                               partition_by=[k], **kw),
            ["value_level", "value_trend", "value_seasonal"],
            [(10.0, 0.0, 0.0), (15.0, 2.5, 2.5), (28.75, 8.125, 5.625)]),
        "throttle": (lambda df, k: R.throttle(df, 1_500, [k], **kw),
                     lambda sdf, k: stream_throttle(sdf, 1_500, [k], **kw),
                     ["throttle_keep"], [(True,), (False,), (True,)]),
    }


@pytest.mark.parametrize("key", ["sk", "lk"])
@pytest.mark.parametrize("op", ["ewma", "holt", "holt_winters", "throttle"])
def test_smoothing_twins_parity(spark, tmp_path, op, key):
    """Batch (series split over Arrow batches of two rows) == drained
    stream, NULL and NaN alike; NULL keys are one series on both sides."""
    import math
    batch_op, stream_op, outs, golden = _smoothing_twins()[op]
    cols = ["tb", "sk", "lk", "t_us", "value"]
    for i, rows in enumerate(_TWIN_FILES):
        path = tmp_path / f"p{i}.json"
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(dict(zip(cols, r))) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    def norm(r):
        return tuple(None if isinstance(r[o], float) and math.isnan(r[o])
                     else r[o] for o in outs)

    def read(reader):
        return (reader.schema(_TWIN_SCHEMA).json(str(tmp_path))
                .withColumn("time", F.timestamp_micros("t_us")))

    sdf = read(spark.readStream.option("maxFilesPerTrigger", 1))
    streamed = sorted(
        (r[key] is None, r[key] or 0, r["t_ms"], *norm(r))
        for r in run_available_now(stream_op(sdf, key), "append").collect())
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        brows = batch_op(read(spark.read), key).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    batch = sorted((r[key] is None, r[key] or 0, r["t_us"] // 1000,
                    *norm(r)) for r in brows)
    assert len(streamed) == 11
    assert batch == streamed
    assert [r[3:] for r in streamed if r[0]] == golden
    assert [r[2] for r in streamed if not r[0]][0] == -2  # floor of -1.5 ms


def test_stream_watermark_optin_late_data(spark, tmp_path):
    """StreamPipeline.with_watermark (r5 verdict item 8): the default
    discard rollup keeps the reference's strictness (0s horizon — an
    event past a window boundary closes it; later arrivals for it are
    DROPPED), while an explicit watermark keeps the window open for the
    given event-time delay and late events are aggregated."""
    chunk1 = [
        {"t_ms": 0, "user": "a", "value": 1.0},
        {"t_ms": 30_000, "user": "a", "value": 2.0},
        {"t_ms": 120_000, "user": "a", "value": 100.0},
    ]
    chunk2 = [
        {"t_ms": 40_000, "user": "a", "value": 50.0},      # LATE for [0,1m)
        {"t_ms": 1_800_000, "user": "a", "value": 7.0},    # closes all
    ]

    def run(tag, pipe_builder):
        # two sequential availableNow drains over a SHARED checkpoint:
        # the watermark advances at drain-1 commit, so chunk2's 40s row
        # genuinely arrives behind it (one drain can batch both files
        # together, which would never mark the row late)
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        rows = []
        for i, chunk in enumerate([chunk1, chunk2]):
            with open(src / f"part{i}.json", "w") as fh:
                for rec in chunk:
                    fh.write(json.dumps(rec) + "\n")
            sdf = (spark.readStream.schema(SCHEMA)
                   .json(str(src))
                   .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                   .drop("t_ms"))
            out, mode = pipe_builder(StreamPipeline(sdf)).aggregate(
                {"v_sum": {"value": "sum"}})
            assert mode == "append"
            q = (out.writeStream.format("parquet")
                 .outputMode(mode)
                 .option("path", str(tmp_path / f"out_{tag}"))
                 .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        rows = spark.read.parquet(str(tmp_path / f"out_{tag}")).collect()
        return {(r["begin"].isoformat(), r["user"]): r["v_sum"]
                for r in rows}

    # default: reference strictness — the late 40s event is dropped
    strict = run("strict", lambda p: p.window_by("1m").group_by("user")
                 .emit_on("discard"))
    assert strict[("1970-01-01T00:00:00", "a")] == 3.0

    # opt-in horizon: the same late event is aggregated
    lenient = run("lenient", lambda p: p.window_by("1m").group_by("user")
                  .emit_on("discard").with_watermark("5 minutes"))
    assert lenient[("1970-01-01T00:00:00", "a")] == 53.0


def test_stream_cms_equals_batch_sketch(spark):
    """The drained streaming CMS grid equals the batch sketch
    counter-for-counter (mergeable-summary property across
    micro-batches)."""
    from pypond_spark.datapipe import sketch
    import __spark_entry__ as E
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    batch = {(r["row"], r["bucket"]): r["cnt"] for r in
             sketch.cms_token_counts(
                 spark.read.parquet(f"{sf_dir}/documents.parquet"),
                 width=8, depth=3).collect()}
    streamed = {(r["row"], r["bucket"]): r["cnt"] for r in
                E.q_stream_cms_sketch(spark, sf_dir).collect()}
    assert streamed == batch


def test_stream_hll_equals_batch_registers(spark):
    """The drained streaming HLL register frame equals the batch build
    register-for-register (max-merge across micro-batches), with state
    bounded by m=64 rows."""
    from pyspark.sql import functions as F
    from pypond_spark.datapipe import sketch
    import __spark_entry__ as E
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    keyed = (spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select(F.md5("text").alias("digest")))
    batch = {(r["idx"], r["reg"]) for r in
             sketch.hll_registers(keyed, "digest", m=64).collect()}
    streamed = {(r["idx"], r["reg"]) for r in
                E.q_stream_hll(spark, sf_dir).collect()}
    assert streamed == batch and len(streamed) <= 64


def test_stream_first_seen_cross_batch(spark, tmp_path):
    """A digest first seen in micro-batch 1 stays suppressed when it
    reappears in micro-batch 2 (per-key seen state survives the
    checkpoint across drains); within one batch, ties break to the
    smallest doc_id."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.streaming.stream import stream_first_seen
    schema = T2.StructType([T2.StructField("doc_id", T2.LongType()),
                            T2.StructField("digest", T2.StringType())])
    chunk1 = [{"doc_id": 5, "digest": "k1"},
              {"doc_id": 2, "digest": "k1"},      # same-batch tie -> 2
              {"doc_id": 3, "digest": "k2"}]
    chunk2 = [{"doc_id": 9, "digest": "k1"},      # cross-batch dup
              {"doc_id": 7, "digest": "k3"}]      # genuinely new
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate([chunk1, chunk2]):
        with open(src / f"part{i}.json", "w") as fh:
            for rec in chunk:
                fh.write(_json.dumps(rec) + "\n")
        sdf = spark.readStream.schema(schema).json(str(src))
        out = stream_first_seen(sdf, key_col="digest",
                                payload_cols=("doc_id",),
                                order_col="doc_id")
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    rows = {r["digest"]: r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out")).collect()}
    assert rows == {"k1": 2, "k2": 3, "k3": 7}


def test_stream_first_seen_ttl_eviction(spark, tmp_path):
    """ttl= bounds the claim-table state with EVENT-TIME expiry: a
    claim whose key sees no traffic for ttl of event time is physically
    evicted once the watermark passes its deadline, and a later arrival
    RE-claims it (emitted again); a key with ongoing traffic slides its
    deadline forward, so its dups stay suppressed.  Event-time timers
    make this fully deterministic — no sleeps — and availableNow drains
    terminate (a processing-time timer would hang the drain:
    shouldRunAnotherBatch is unconditionally true for it)."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.streaming.stream import stream_first_seen
    schema = T2.StructType([T2.StructField("doc_id", T2.LongType()),
                            T2.StructField("digest", T2.StringType()),
                            T2.StructField("t_ms", T2.LongType())])
    chunks = [
        # drain 1 (event time 1000s — NOT 0: rows at/below the initial
        # watermark of 0 would be dropped as late): A and B claimed,
        # deadlines t=1060s
        [{"doc_id": 1, "digest": "A", "t_ms": 1_000_000},
         {"doc_id": 2, "digest": "B", "t_ms": 1_000_000}],
        # drain 2 (event time 1100s): A has traffic -> dup suppressed,
        # deadline slides to 1160s; C fresh -> claimed; after the data
        # batch the watermark advances to 1100s > B's 1060s deadline,
        # so the drain's timer batch evicts B
        [{"doc_id": 3, "digest": "A", "t_ms": 1_100_000},
         {"doc_id": 4, "digest": "C", "t_ms": 1_100_000}],
        # drain 3 (event time 1110s): B re-claimed (emitted AGAIN — the
        # bounded-state trade); A still live (deadline 1160s) ->
        # suppressed
        [{"doc_id": 5, "digest": "B", "t_ms": 1_110_000},
         {"doc_id": 6, "digest": "A", "t_ms": 1_110_000}],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(chunks):
        with open(src / f"p{i}.json", "w") as fh:
            for rec in chunk:
                fh.write(_json.dumps(rec) + "\n")
        sdf = (spark.readStream.schema(schema).json(str(src))
               .withColumn("time", F.timestamp_millis(F.col("t_ms")))
               .drop("t_ms"))
        out = stream_first_seen(sdf, key_col="digest",
                                payload_cols=("doc_id",),
                                order_col="doc_id", ttl="1m")
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120), "drain did not terminate"
    got = sorted((r["digest"], r["doc_id"]) for r in
                 spark.read.parquet(str(tmp_path / "out")).collect())
    assert got == [("A", 1), ("B", 2), ("B", 5), ("C", 4)]
    sdf = (spark.readStream.schema(schema).json(str(src))
           .withColumn("time", F.timestamp_millis(F.col("t_ms")))
           .drop("t_ms"))
    with pytest.raises(ValueError, match="ttl"):
        stream_first_seen(sdf, ttl="bogus")
    with pytest.raises(ValueError, match="event-time"):
        stream_first_seen(sdf.drop("time"), ttl="1m")


def test_stream_cusum_cross_batch(spark, tmp_path):
    """The 'up' alarm only fires because S+ accumulated in micro-batch 1
    survives the checkpoint into micro-batch 2 (batch 2 alone reaches
    2 < h); direction/stat match the per-event fold; NULLs are skipped."""
    import json as _json
    from pypond_spark.streaming import stream_cusum
    # target 0, k=1, h=5: a walks S+ 2,4 in batch1 then 6>5 in batch2;
    # b walks S- 3,6>5 inside batch1 (down alarm)
    chunk1 = [{"t_ms": 0, "user": "a", "value": 3.0},
              {"t_ms": 1_000, "user": "a", "value": 3.0},
              {"t_ms": 0, "user": "b", "value": -4.0},
              {"t_ms": 1_000, "user": "b", "value": -4.0},
              {"t_ms": 2_000, "user": "b", "value": None}]
    chunk2 = [{"t_ms": 2_000, "user": "a", "value": 3.0}]
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate([chunk1, chunk2]):
        with open(src / f"p{i}.json", "w") as fh:
            for r in chunk:
                fh.write(_json.dumps(r) + "\n")
        sdf = (spark.readStream.schema(SCHEMA).json(str(src))
               .withColumn("time", F.timestamp_millis(F.col("t_ms")))
               .drop("t_ms"))
        out = stream_cusum(sdf, "value", target=0.0, k=1.0, h=5.0,
                           partition_by=["user"])
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    rows = sorted((r["user"], r["t_ms"], r["direction"], r["stat"])
                  for r in spark.read.parquet(str(tmp_path / "out"))
                  .collect())
    assert rows == [("a", 2_000, "up", 6.0), ("b", 1_000, "down", 6.0)]


def _simhash64_py(text, max_tokens=1 << 20):
    """Row-wise SimHash oracle for the batch
    ``dedup.simhash64(as_halves=True)`` semantics: ASCII
    ``\\s+`` word split (Java's ``\\s`` class), 2^20-token cap, per
    token md5's first 16 hex chars as an unsigned 64-bit hash, ±1 per
    bit, sign of the sum.  Returns unsigned 32-bit ``(sim_hi,
    sim_lo)`` — the cross-engine-safe halves."""
    import hashlib
    import re as _re

    # NB: plain str.strip() would remove *Unicode* whitespace
    # (U+00A0, U+2028, ...) that Java's \s (the batch split) does not —
    # strip only the ASCII class the split uses so edge tokens match
    # the batch twin bit-for-bit.
    toks = [t for t in _re.split("[ \t\n\x0b\f\r]+",
                                 text.strip(" \t\n\x0b\f\r"))
            if t][:max_tokens]
    if not toks:
        # the batch simhash64 explode drops token-less docs; mirror it
        return None
    cnt = [0] * 64
    for t in toks:
        hx = hashlib.md5(t.encode("utf-8")).hexdigest()
        h = (int(hx[:8], 16) << 32) | int(hx[8:16], 16)
        for b in range(64):
            cnt[b] += 1 if (h >> b) & 1 else -1
    hi = lo = 0
    for b in range(64):
        if cnt[b] > 0:
            if b >= 32:
                hi |= 1 << (b - 32)
            else:
                lo |= 1 << b
    return hi, lo


def test_stream_simhash_dedup_cross_batch(spark, tmp_path):
    """Near-dup suppression ACROSS micro-batches: batch 1 admits the
    original (claims all 4 band keys); batch 2's perturbed near-clone
    shares most SimHash bands and claims only whatever bands shifted —
    an exact clone claims NONE — while a genuinely different doc claims
    all four.  Band-claim state survives the checkpoint."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.streaming.stream import stream_simhash_dedup
    schema = T2.StructType([T2.StructField("doc_id", T2.LongType()),
                            T2.StructField("text", T2.StringType())])
    base = ("spark window batch order data column agg join small line "
            "customer query value table part hash row scan key fast")
    other = ("entirely different words nothing shared with anything "
             "above in any token position at all whatsoever")
    chunk1 = [{"doc_id": 1, "text": base}]
    chunk2 = [{"doc_id": 2, "text": base},               # exact clone
              {"doc_id": 3, "text": base + " extra"},    # near clone
              {"doc_id": 4, "text": other}]              # novel
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate([chunk1, chunk2]):
        with open(src / f"p{i}.json", "w") as fh:
            for rec in chunk:
                fh.write(_json.dumps(rec) + "\n")
        sdf = spark.readStream.schema(schema).json(str(src))
        out = stream_simhash_dedup(sdf, n_bands=4)
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    claims = {}
    for r in spark.read.parquet(str(tmp_path / "out")).collect():
        claims.setdefault(r["doc_id"], set()).add(r["band"])
    # original claimed all 4 bands; exact clone claimed zero
    assert len(claims[1]) == 4
    assert 2 not in claims
    # novel doc claimed all 4 of ITS bands
    assert len(claims[4]) == 4
    # near clone: only bands its perturbed simhash shifted (checked
    # against the row-wise reference hash — exact, not probabilistic)
    hb, lb = _simhash64_py(base)
    hn, ln_ = _simhash64_py(base + " extra")
    shifted = {k for k, (a, b) in enumerate(
        [(lb & 0xFFFF, ln_ & 0xFFFF), (lb >> 16, ln_ >> 16),
         (hb & 0xFFFF, hn & 0xFFFF), (hb >> 16, hn >> 16)]) if a != b}
    assert claims.get(3, set()) == {f"{k}:{v}" for k, v in
                                    [(k, [ln_ & 0xFFFF, ln_ >> 16,
                                          hn & 0xFFFF, hn >> 16][k])
                                     for k in shifted]}
    with pytest.raises(ValueError, match="n_bands"):
        stream_simhash_dedup(spark.readStream.schema(schema)
                             .json(str(src)), n_bands=3)


def test_stream_simhash_dedup_ttl_eviction(spark, tmp_path):
    """The near-dup gate's band-claim state is bounded by the same
    event-time TTL: claims idle past ttl are evicted once the watermark
    passes their deadline, so an exact clone arriving after eviction
    re-claims every band (without ttl it would claim none — the
    unbounded-state behavior test_stream_simhash_dedup_cross_batch
    pins)."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.streaming.stream import stream_simhash_dedup
    schema = T2.StructType([T2.StructField("doc_id", T2.LongType()),
                            T2.StructField("text", T2.StringType()),
                            T2.StructField("t_ms", T2.LongType())])
    base = ("spark window batch order data column agg join small line "
            "customer query value table part hash row scan key fast")
    other = ("entirely different words nothing shared with anything "
             "above in any token position at all whatsoever")
    chunks = [
        # drain 1 (t=1000s): base claims its 4 bands, deadlines 1060s
        [{"doc_id": 1, "text": base, "t_ms": 1_000_000}],
        # drain 2 (t=1200s): unrelated doc claims its own bands; the
        # post-batch watermark (1200s) passes base's 1060s deadlines,
        # so the timer batch evicts all of base's claims
        [{"doc_id": 2, "text": other, "t_ms": 1_200_000}],
        # drain 3 (t=1300s): an EXACT clone of base re-claims all 4
        # bands (with unbounded state it would claim zero)
        [{"doc_id": 3, "text": base, "t_ms": 1_300_000}],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(chunks):
        with open(src / f"p{i}.json", "w") as fh:
            for rec in chunk:
                fh.write(_json.dumps(rec) + "\n")
        sdf = (spark.readStream.schema(schema).json(str(src))
               .withColumn("time", F.timestamp_millis(F.col("t_ms")))
               .drop("t_ms"))
        out = stream_simhash_dedup(sdf, n_bands=4, ttl="1m")
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120), "drain did not terminate"
    claims = {}
    for r in spark.read.parquet(str(tmp_path / "out")).collect():
        claims.setdefault(r["doc_id"], set()).add(r["band"])
    assert len(claims[1]) == 4
    assert len(claims[2]) == 4
    # the clone re-claimed base's exact band set after eviction
    assert claims[3] == claims[1]
    # ttl on a frame with no event-time column: the designed contract
    # error, not a schema KeyError from the carry-column build
    from pypond_spark.streaming.stream import stream_minhash_dedup
    no_time = (spark.readStream.schema(schema).json(str(src))
               .drop("t_ms"))
    with pytest.raises(ValueError, match="event-time"):
        stream_simhash_dedup(no_time, ttl="1m")
    with pytest.raises(ValueError, match="event-time"):
        stream_minhash_dedup(no_time, ttl="1m")


def test_simhash_py_unicode_whitespace_parity(spark):
    """_simhash64_py must match the batch simhash64
    bit-for-bit even when the text carries *Unicode* whitespace at the
    edges: Python str.strip() removes U+00A0/U+2028/U+0085 etc. that
    Java's \\s (Spark trim / the batch split) does not, so a naive
    strip() would tokenize edge tokens differently and the streaming
    gate would silently diverge from its batch twin."""
    from pypond_spark.datapipe.dedup import simhash64
    texts = [
        "\u00a0leading nbsp glues to the first token",
        "trailing line-sep glues to the last token\u2028",
        "\u0085both\u00a0ends\u2029",
        "  plain ascii edges survive too \t",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    batch = {r["doc_id"]: (r["sim_hi"], r["sim_lo"]) for r in
             simhash64(df, as_halves=True).collect()}
    for i, t in enumerate(texts):
        assert _simhash64_py(t) == batch[i], f"doc {i} diverged"


def test_simhash_rowwise_trailing_tokenless_doc(spark):
    """A token-less doc at the END of an Arrow chunk must not shorten
    the previous doc's token segment: over one partition (one chunk),
    simhash_rowwise equals the batch simhash64 and the oracle."""
    from pypond_spark.datapipe.dedup import simhash64
    from pypond_spark.streaming.stream import simhash_rowwise
    texts = ["hello world foo bar baz", "   "]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string").coalesce(1)
    batch = {r["doc_id"]: (r["sim_hi"], r["sim_lo"]) for r in
             simhash64(df, as_halves=True).collect()}
    rowwise = {r["doc_id"]: (r["sim_hi"], r["sim_lo"])
               for r in simhash_rowwise(df).collect()}
    assert rowwise == batch == {0: _simhash64_py(texts[0])}


def test_minhash_rowwise_edge_control_chars(spark):
    """C0 controls other than the six whitespace chars are token chars
    in the batch law, at the edges too, so the Arrow replay must keep
    them: a doc with a leading U+000E and the same doc without it are
    not near-duplicates on either engine."""
    from pypond_spark.datapipe.dedup import lsh_band_buckets
    from pypond_spark.streaming.stream import minhash_bands_rowwise
    texts = ["\x0eabc def ghi", "abc def ghi", "abc def ghi\x00",
             "\x1cabc def"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")

    def bands(frame):
        out = {}
        for r in frame.collect():
            out.setdefault(r["doc_id"], set()).add(r["band"])
        return out

    batch = bands(lsh_band_buckets(df))
    assert bands(minhash_bands_rowwise(df)) == batch
    assert not batch[0] & batch[1] and not batch[1] & batch[2]


def test_stream_minhash_dedup_cross_batch(spark, tmp_path):
    """MinHash-band claim state survives the checkpoint: batch 1 admits
    the original (claims both bands); batch 2's exact clone claims
    nothing, and a different doc claims both of its own bands.  The
    band keys are checked against the BATCH lsh_band_buckets values —
    the row-wise Arrow signatures are the same md5 derivation."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.datapipe.dedup import lsh_band_buckets
    from pypond_spark.streaming.stream import stream_minhash_dedup
    schema = T2.StructType([T2.StructField("doc_id", T2.LongType()),
                            T2.StructField("text", T2.StringType())])
    base = "spark window batch order data column agg join small line"
    other = "entirely different words nothing shared with anything here"
    chunk1 = [{"doc_id": 1, "text": base}]
    chunk2 = [{"doc_id": 2, "text": base},
              {"doc_id": 3, "text": other}]
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate([chunk1, chunk2]):
        with open(src / f"p{i}.json", "w") as fh:
            for rec in chunk:
                fh.write(_json.dumps(rec) + "\n")
        sdf = spark.readStream.schema(schema).json(str(src))
        out = stream_minhash_dedup(sdf)
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    claims = {}
    for r in spark.read.parquet(str(tmp_path / "out")).collect():
        claims.setdefault(r["doc_id"], set()).add(r["band"])
    batch_bands = {}
    bdf = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], schema)
    for r in lsh_band_buckets(bdf).collect():
        batch_bands.setdefault(r["doc_id"], set()).add(r["band"])
    assert claims[1] == batch_bands[1] and len(claims[1]) == 2
    assert 2 not in claims                      # exact clone suppressed
    assert claims[3] == batch_bands[3]
    with pytest.raises(ValueError, match="multiple"):
        stream_minhash_dedup(spark.readStream.schema(schema)
                             .json(str(src)), num_hashes=7)


def test_stream_minhash_dedup_against_index(spark, tmp_path):
    """index_path= pre-claims the persisted corpus's bands (r11): a
    streaming near-dup of an INDEXED document claims nothing even
    though it is the first of its kind inside the stream; novel docs
    claim their bands; within-stream dedup still works across the
    checkpoint for non-indexed bands."""
    import json as _json

    from pyspark.sql import types as T2

    from pypond_spark.datapipe.dedup import write_neardup_index
    from pypond_spark.streaming.stream import stream_minhash_dedup
    schema = T2.StructType([T2.StructField("doc_id", T2.LongType()),
                            T2.StructField("text", T2.StringType())])
    base = "spark window batch order data column agg join small line"
    other = "entirely different words nothing shared with anything here"
    corpus = spark.createDataFrame([(100, base)], schema)
    idx = str(tmp_path / "idx")
    write_neardup_index(corpus, idx)
    chunk1 = [{"doc_id": 1, "text": base},     # near-dup of the CORPUS
              {"doc_id": 3, "text": other}]    # novel
    chunk2 = [{"doc_id": 4, "text": other}]    # within-stream clone
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate([chunk1, chunk2]):
        with open(src / f"p{i}.json", "w") as fh:
            for rec in chunk:
                fh.write(_json.dumps(rec) + "\n")
        sdf = spark.readStream.schema(schema).json(str(src))
        out = stream_minhash_dedup(sdf, index_path=idx)
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    claims = {}
    for r in spark.read.parquet(str(tmp_path / "out")).collect():
        claims.setdefault(r["doc_id"], set()).add(r["band"])
    assert 1 not in claims            # suppressed by the corpus index
    assert len(claims[3]) == 2        # novel doc claims both bands
    assert 4 not in claims            # within-stream clone still gated


def test_stream_xchart_cross_batch(spark, tmp_path):
    """The R4 same-side run completes ACROSS the micro-batch boundary
    (ring-buffer state carries 7 deviations into batch 2); a single
    3-sigma spike fires R1 alone (R2/R3 need 2-of-3 / 4-of-5
    qualifying points — same as the batch goldens); NULLs skip."""
    import json as _json
    from pypond_spark.streaming.stream import stream_xchart
    # target 0, sigma 1: user a sends 7 positive points in batch 1,
    # then 1 more in batch 2 -> R4 fires exactly at event 8
    chunk1 = [{"t_ms": i * 1000, "user": "a", "value": 0.5}
              for i in range(7)]
    chunk1.append({"t_ms": 7_000, "user": "b", "value": 4.0})  # spike
    chunk1.append({"t_ms": 8_000, "user": "b", "value": None})
    chunk2 = [{"t_ms": 9_000, "user": "a", "value": 0.5}]
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate([chunk1, chunk2]):
        with open(src / f"p{i}.json", "w") as fh:
            for r in chunk:
                fh.write(_json.dumps(r) + "\n")
        sdf = (spark.readStream.schema(SCHEMA).json(str(src))
               .withColumn("time", F.timestamp_millis(F.col("t_ms")))
               .drop("t_ms"))
        out = stream_xchart(sdf, "value", target=0.0, sigma=1.0,
                            partition_by=["user"])
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    rows = sorted((r["user"], r["t_ms"], r["rule"], r["side"])
                  for r in spark.read.parquet(str(tmp_path / "out"))
                  .collect())
    assert rows == [("a", 9_000, "R4", "high"),
                    ("b", 7_000, "R1", "high")]
    with pytest.raises(ValueError, match="sigma"):
        stream_xchart(spark.readStream.schema(SCHEMA).json(str(src)),
                      sigma=0.0)


def test_stream_attribution_join_cross_batch_and_late_drop(spark, tmp_path):
    """Stream-stream watermarked interval join: (1) a click matching a
    view buffered from an EARLIER micro-batch still pairs (join state
    survives the checkpoint); (2) events arriving behind the watermark
    are dropped and their pairs never emit — the watermark trade; (3)
    pairs respect the horizon bound."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.streaming.stream import stream_attribution_join
    vschema = T2.StructType([T2.StructField("user_id", T2.StringType()),
                             T2.StructField("view_id", T2.LongType()),
                             T2.StructField("t_ms", T2.LongType())])
    cschema = T2.StructType([T2.StructField("user_id", T2.StringType()),
                             T2.StructField("click_id", T2.LongType()),
                             T2.StructField("t_ms", T2.LongType())])
    # horizon 1h; times in seconds*1000
    view_chunks = [
        [{"user_id": "u1", "view_id": 1, "t_ms": 1_000_000},
         {"user_id": "u2", "view_id": 2, "t_ms": 1_000_000},
         {"user_id": "u5", "view_id": 5, "t_ms": 1_000_000}],
        # u3's view arrives 500s BEHIND the 1000s watermark -> dropped
        [{"user_id": "u3", "view_id": 3, "t_ms": 500_000},
         {"user_id": "u4", "view_id": 4, "t_ms": 2_500_000}],
    ]
    click_chunks = [
        # in-batch pair for u1 (lag 200s); u5's click is OUTSIDE the
        # horizon (2h later) -> never pairs
        [{"user_id": "u1", "click_id": 11, "t_ms": 1_200_000},
         {"user_id": "u5", "click_id": 15, "t_ms": 8_300_000}],
        # u2's click pairs with the batch-1 view (cross-batch state);
        # u3's click is also late -> dropped
        [{"user_id": "u2", "click_id": 12, "t_ms": 2_000_000},
         {"user_id": "u3", "click_id": 13, "t_ms": 510_000},
         {"user_id": "u4", "click_id": 14, "t_ms": 2_600_000}],
    ]
    vsrc, csrc = tmp_path / "views", tmp_path / "clicks"
    vsrc.mkdir(), csrc.mkdir()
    for i in range(2):
        for src, chunk in [(vsrc, view_chunks[i]), (csrc, click_chunks[i])]:
            with open(src / f"p{i}.json", "w") as fh:
                for rec in chunk:
                    fh.write(_json.dumps(rec) + "\n")
        views = (spark.readStream.schema(vschema).json(str(vsrc))
                 .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                 .drop("t_ms"))
        clicks = (spark.readStream.schema(cschema).json(str(csrc))
                  .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                  .drop("t_ms"))
        out = stream_attribution_join(views, clicks, horizon="1h")
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180), "drain did not terminate"
    rows = {(r["user_id"], r["view_id"], r["click_id"]): r["lag_ms"]
            for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert rows == {("u1", 1, 11): 200_000,     # in-batch pair
                    ("u2", 2, 12): 1_000_000,   # cross-batch pair
                    ("u4", 4, 14): 100_000}     # both sides in batch 2
    # u3 (late behind watermark) and u5 (outside horizon) never paired
    assert not any(k[0] in ("u3", "u5") for k in rows)
    with pytest.raises(ValueError, match="horizon"):
        stream_attribution_join(views, clicks, horizon="bogus")


def test_stream_transitions_null_types_not_bridged(spark, tmp_path):
    """A NULL type value is a real edge endpoint (the batch
    lead()-pairs semantics): batches [A], [null], [C] must emit
    (A->null), (null->C) — never a fabricated (A->C) bridging the null
    across micro-batch boundaries (r10 review finding). The very first
    event per key has no edge."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.streaming.stream import stream_transitions
    schema = T2.StructType([T2.StructField("user", T2.StringType()),
                            T2.StructField("t_ms", T2.LongType()),
                            T2.StructField("et", T2.StringType())])
    chunks = [[{"user": "u", "t_ms": 1000, "et": "A"}],
              [{"user": "u", "t_ms": 2000, "et": None}],
              [{"user": "u", "t_ms": 3000, "et": "C"},
               {"user": "u", "t_ms": 4000, "et": "D"}]]
    src = tmp_path / "src"
    src.mkdir()
    for i, ch in enumerate(chunks):
        with open(src / f"p{i}.json", "w") as fh:
            for rec in ch:
                fh.write(_json.dumps(rec) + "\n")
        sdf = (spark.readStream.schema(schema).json(str(src))
               .withColumn("time", F.timestamp_millis(F.col("t_ms"))))
        out = stream_transitions(sdf, type_col="et",
                                 partition_by=["user"])
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)
    rows = sorted((r["t_ms"], r["from_type"], r["to_type"]) for r in
                  spark.read.parquet(str(tmp_path / "out")).collect())
    assert rows == [(2000, "A", None), (3000, None, "C"),
                    (4000, "C", "D")]


def test_stream_attribution_last_touch_cross_batch(spark, tmp_path):
    """Last-touch attribution holds the best-so-far view per click
    ACROSS micro-batches: the closer view arriving in a LATER batch
    replaces the batch-1 candidate, and the single winner emits only
    once the watermark closes the click's window. first-touch flips
    the argmax."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.streaming.stream import stream_attribution_touch
    vschema = T2.StructType([T2.StructField("user_id", T2.StringType()),
                             T2.StructField("view_id", T2.LongType()),
                             T2.StructField("t_ms", T2.LongType())])
    cschema = T2.StructType([T2.StructField("user_id", T2.StringType()),
                             T2.StructField("click_id", T2.LongType()),
                             T2.StructField("t_ms", T2.LongType())])
    view_chunks = [
        [{"user_id": "u1", "view_id": 1, "t_ms": 1_000_000}],
        # closer view, LATER batch (still ahead of the 1,000,000
        # watermark): must replace view 1 as u1's last touch
        [{"user_id": "u1", "view_id": 2, "t_ms": 1_030_000}],
        # frontier pusher: advances the watermark past the click window
        [{"user_id": "u9", "view_id": 9, "t_ms": 10_000_000}],
    ]
    click_chunks = [
        [{"user_id": "u1", "click_id": 11, "t_ms": 1_060_000}],
        [],
        [{"user_id": "u9", "click_id": 19, "t_ms": 10_000_000}],
    ]
    for touch, want_view, want_lag in [("last", 2, 30_000),
                                       ("first", 1, 60_000)]:
        base = tmp_path / touch
        vsrc, csrc = base / "views", base / "clicks"
        vsrc.mkdir(parents=True), csrc.mkdir(parents=True)
        for i in range(3):
            for src, chunk in [(vsrc, view_chunks[i]),
                               (csrc, click_chunks[i])]:
                with open(src / f"p{i}.json", "w") as fh:
                    for rec in chunk:
                        fh.write(_json.dumps(rec) + "\n")
            views = (spark.readStream.schema(vschema).json(str(vsrc))
                     .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                     .drop("t_ms"))
            clicks = (spark.readStream.schema(cschema).json(str(csrc))
                      .withColumn("time",
                                  F.timestamp_millis(F.col("t_ms")))
                      .drop("t_ms"))
            out = stream_attribution_touch(views, clicks, horizon="1h",
                                           touch=touch)
            q = (out.writeStream.format("parquet").outputMode("append")
                 .option("path", str(base / "out"))
                 .option("checkpointLocation", str(base / "ck"))
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(180), "drain did not terminate"
        rows = spark.read.parquet(str(base / "out")).collect()
        got = {(r["user_id"], r["click_id"]):
               (r["view_id"], r["lag_ms"]) for r in rows}
        # exactly ONE view for u1's click — the cross-batch winner;
        # u9's frontier click stays held (its window is not closed)
        assert got == {("u1", 11): (want_view, want_lag)}, (touch, got)
    from pypond_spark.streaming.stream import stream_attribution_touch \
        as sat
    import pytest as _pt
    with _pt.raises(ValueError, match="touch"):
        sat(views, clicks, touch="bogus")
    with _pt.raises(ValueError, match="horizon"):
        sat(views, clicks, horizon="bogus")


def test_stream_attribution_outer_emits_unmatched_on_expiry(spark, tmp_path):
    """unmatched='emit' (click-side outer join): a conversion with no
    attributable view emits exactly once with NULL view columns — and
    only after the watermark proves no view can still arrive; clicks at
    the watermark frontier stay held in state with no null row."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.streaming.stream import stream_attribution_join
    vschema = T2.StructType([T2.StructField("user_id", T2.StringType()),
                             T2.StructField("view_id", T2.LongType()),
                             T2.StructField("t_ms", T2.LongType())])
    cschema = T2.StructType([T2.StructField("user_id", T2.StringType()),
                             T2.StructField("click_id", T2.LongType()),
                             T2.StructField("t_ms", T2.LongType())])
    view_chunks = [
        [{"user_id": "u1", "view_id": 1, "t_ms": 1_000_000}],
        [{"user_id": "u9", "view_id": 9, "t_ms": 5_000_000}],
    ]
    click_chunks = [
        # c11 matches v1; c12 (u2) has no view ever
        [{"user_id": "u1", "click_id": 11, "t_ms": 1_200_000},
         {"user_id": "u2", "click_id": 12, "t_ms": 1_100_000}],
        # frontier click: watermark never passes it inside this run
        [{"user_id": "u3", "click_id": 13, "t_ms": 5_000_000}],
    ]
    vsrc, csrc = tmp_path / "views", tmp_path / "clicks"
    vsrc.mkdir(), csrc.mkdir()
    for i in range(2):
        for src, chunk in [(vsrc, view_chunks[i]), (csrc, click_chunks[i])]:
            with open(src / f"p{i}.json", "w") as fh:
                for rec in chunk:
                    fh.write(_json.dumps(rec) + "\n")
        views = (spark.readStream.schema(vschema).json(str(vsrc))
                 .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                 .drop("t_ms"))
        clicks = (spark.readStream.schema(cschema).json(str(csrc))
                  .withColumn("time", F.timestamp_millis(F.col("t_ms")))
                  .drop("t_ms"))
        out = stream_attribution_join(views, clicks, horizon="1h",
                                      unmatched="emit")
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180), "drain did not terminate"
    rows = {(r["user_id"], r["view_id"], r["click_id"])
            for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert ("u1", 1, 11) in rows                 # matched pair intact
    assert ("u2", None, 12) in rows              # expired unmatched click
    # exactly-once: no duplicate null row, no spurious match for u2
    assert sum(1 for r in rows if r[2] == 12) == 1
    with pytest.raises(ValueError, match="unmatched"):
        stream_attribution_join(views, clicks, unmatched="bogus")


_NO_KEY_CALLS = {
    "stream_rate": {},
    "stream_gaps": {"min_gap": "1m"},
    "stream_sessions": {"window": "1m", "field_spec": "value"},
    "stream_throttle": {"min_spacing": "1m"},
    "stream_transitions": {"type_col": "event_type"},
    "stream_cumulative": {"aggregation": {"v_sum": {"value": "sum"},
                                          "n": {"value": "count"}}},
    "stream_align": {"window": "1m"},
    "stream_fill": {"method": "linear"},
    "stream_ewma": {},
    "stream_holt": {},
    "stream_holt_winters": {"period": 2},
    "stream_rolling": {"window": "2m",
                       "aggregation": {"v_avg": {"value": "avg"}}},
    "stream_zscore": {"window": "5m", "threshold": 1.0},
    "stream_cusum": {"target": 100.0},
    "stream_xchart": {"target": 100.0, "sigma": 10.0},
}


@pytest.mark.parametrize("op", sorted(_NO_KEY_CALLS))
def test_keyed_state_ops_no_key_path(spark, tmp_path, op):
    """Every keyed state operator run without a series key (the injected
    constant key) emits exactly the rows of the same single-series input
    keyed by ``user``, minus that column, and never leaks the constant
    key column."""
    from pypond_spark.streaming import stream
    schema = T.StructType([T.StructField("t_ms", T.LongType()),
                           T.StructField("user", T.StringType()),
                           T.StructField("value", T.DoubleType()),
                           T.StructField("event_type", T.StringType())])
    events = [(0, 100.0, "x"), (30_000, 130.0, "y"), (60_000, None, None),
              (90_000, 220.0, "x"), (240_000, 160.0, "y"),
              (270_000, 95.0, "y"), (300_000, 50.0, "x")]
    _write_chunks(tmp_path, [[{"t_ms": t, "user": "a", "value": v,
                               "event_type": e} for t, v, e in events]])

    def drain(partition_by):
        sdf = (spark.readStream.schema(schema).json(str(tmp_path))
               .withColumn("time", F.timestamp_millis(F.col("t_ms")))
               .drop("t_ms"))
        out = getattr(stream, op)(sdf, partition_by=partition_by,
                                  **_NO_KEY_CALLS[op])
        return run_available_now(out, "append")

    bare, keyed = drain(()), drain(["user"])
    assert "__k" not in bare.columns
    cols = [c for c in keyed.columns if c != "user"]
    assert bare.columns == cols

    def rows(df):
        return sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())

    want = rows(keyed)
    assert want
    assert rows(bare) == want


_NULL_TIME_SCHEMA = T.StructType([T.StructField("t_ms", T.LongType()),
                                  T.StructField("user", T.StringType()),
                                  T.StructField("value", T.DoubleType()),
                                  T.StructField("event_type", T.StringType())])
_NULL_TIME_EVENTS = [
    {"t_ms": t, "user": "a", "value": v, "event_type": e}
    for t, v, e in [(0, 100.0, "x"), (30_000, 130.0, "y"),
                    (60_000, None, None), (90_000, 220.0, "x"),
                    (240_000, 160.0, "y"), (270_000, 95.0, "y"),
                    (300_000, 50.0, "x")]]
_NULL_TIME_ROW = {"t_ms": None, "user": "a", "value": 4.0, "event_type": "x"}


@pytest.mark.parametrize("op", sorted(_NO_KEY_CALLS))
def test_keyed_state_ops_drop_null_time(spark, tmp_path, op):
    """A NULL-time row never reaches a keyed state step: every keyed
    state operator drains the same rows with and without it (it used to
    enter the step as -9223372036855 ms)."""
    from pypond_spark.streaming import stream
    events, null = _NULL_TIME_EVENTS, _NULL_TIME_ROW

    def drain(name, first):
        src = tmp_path / name
        src.mkdir()
        _write_chunks(src, [first, events[3:]])
        sdf = (spark.readStream.schema(_NULL_TIME_SCHEMA).json(str(src))
               .withColumn("time", F.timestamp_millis(F.col("t_ms")))
               .drop("t_ms"))
        out = getattr(stream, op)(sdf, partition_by=["user"],
                                  **_NO_KEY_CALLS[op])
        return sorted(repr(r) for r in
                      run_available_now(out, "append").collect())

    want = drain("clean", events[:3])
    assert want
    assert drain("null", events[:3] + [null]) == want


_BATCH_TIME_CALLS = {
    "throttle": ("rolling", "throttle", {"min_spacing": "1m"}),
    "fill": ("fill", "fill", {"method": "linear"}),
    "rolling": ("rolling", "rolling", {
        "window": "2m", "aggregation": {"v_avg": {"value": "avg"}}}),
    "zscore": ("rolling", "zscore", {"window": "5m", "threshold": 1.0}),
    "zscore_series": ("rolling", "zscore", {"threshold": 1.0}),
    "cusum": ("rolling", "cusum", {"target": 100.0}),
    "cusum_own_mean": ("rolling", "cusum", {}),
    "control_chart_rules": ("changepoint", "control_chart_rules", {
        "bucket": "1m", "target": 100.0, "sigma": 10.0}),
    "cumulative": ("rolling", "cumulative", {
        "aggregation": {"v_sum": {"value": "sum"}, "n": {"value": "count"}}}),
    "ewma": ("rolling", "ewma", {}),
    "holt": ("rolling", "holt", {}),
    "holt_winters": ("rolling", "holt_winters", {"period": 2}),
    "cusum_changepoints": ("changepoint", "cusum_changepoints", {
        "bucket": "1m"}),
    "rolling_robust_zscore": ("rolling", "rolling_robust_zscore", {
        "window": "5m"}),
    "seasonal_profile": ("seasonal", "seasonal_profile", {}),
    "seasonal_anomaly": ("seasonal", "seasonal_anomaly", {}),
}


@pytest.mark.parametrize("op", sorted(_BATCH_TIME_CALLS))
def test_batch_time_ops_drop_null_time(spark, op):
    """The batch time operators (the keyed state operators' twins among
    them) follow the stream side's NULL-time law: the same rows with and
    without one NULL-time row give equal output (the row used to come
    out as an extra NULL-time row or slot, or sort first and shift every
    later row)."""
    import importlib
    mod, name, kw = _BATCH_TIME_CALLS[op]
    fn = getattr(importlib.import_module(f"pypond_spark.operators.{mod}"),
                 name)

    def run(rows):
        # one input partition, so float sums add in the same order
        df = (spark.createDataFrame(rows, _NULL_TIME_SCHEMA).coalesce(1)
              .withColumn("time", F.timestamp_millis(F.col("t_ms")))
              .drop("t_ms"))
        return sorted(repr(r) for r in
                      fn(df, partition_by=["user"], **kw).collect())

    want = run(_NULL_TIME_EVENTS)
    assert want
    assert run(_NULL_TIME_EVENTS + [_NULL_TIME_ROW]) == want


@contextmanager
def _session_confs(spark, confs):
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _state_partitions(ck, version):
    """State partitions of operator 0 that committed ``version``."""
    root = os.path.join(ck, "state", "0")
    return sorted(int(d) for d in os.listdir(root) if d.isdigit()
                  and os.path.exists(os.path.join(root, d,
                                                  f"{version}.delta")))


_TWO_FILES = [
    [{"t_ms": 0, "user": "a", "value": 100.0},
     {"t_ms": 10_000, "user": "b", "value": 10.0},
     {"t_ms": 30_000, "user": "a", "value": 130.0},
     {"t_ms": 60_000, "user": "a", "value": None}],
    [{"t_ms": 70_000, "user": "b", "value": 40.0},
     {"t_ms": 90_000, "user": "a", "value": 220.0},
     {"t_ms": 120_000, "user": "a", "value": 160.0}],
]


def test_drain_state_width_law_and_restore(spark, tmp_path):
    """A new stateful drain runs min(session width, cores) state
    partitions, and the session's width is the same after the drain,
    also after a drain whose query raises."""
    src = tmp_path / "src"
    src.mkdir()
    _write_chunks(src, _TWO_FILES)
    ck = tmp_path / "ck"
    cores = spark.sparkContext.defaultParallelism
    assert cores < 32
    with _session_confs(spark, {
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.streaming.checkpointLocation": str(ck)}):
        out = stream_rate(_read_stream(spark, str(src)),
                          field_spec="value", partition_by=["user"])
        assert run_available_now(out, "append", name="width_law").count()
        assert _state_partitions(str(ck / "width_law"), 2) \
            == list(range(cores))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
        bad = _read_stream(spark, str(src)).select(
            F.raise_error(F.lit("boom")).alias("x"))
        with pytest.raises(StreamingQueryException):
            run_available_now(bad, "append")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


@pytest.mark.parametrize("keys", [["user"], []], ids=["keyed", "unkeyed"])
def test_wide_checkpoint_resumes_at_its_width(spark, tmp_path, keys):
    """A checkpoint first written at state width 8 by a plain start
    resumes through the drain helper at width 8, not at the core count,
    and its two drains deliver exactly the rows of one fresh drain."""
    from pypond_spark.streaming.stream import _drain_available_now
    both, src = tmp_path / "both", tmp_path / "src"
    both.mkdir()
    src.mkdir()
    _write_chunks(both, _TWO_FILES)
    shutil.copy2(both / "p0.json", src)
    ck = str(tmp_path / "ck")
    got = []

    def writer():
        out = stream_rate(_read_stream(spark, str(src)), field_spec="value",
                          partition_by=keys)
        return (out.writeStream.outputMode("append")
                .foreachBatch(lambda df, _: got.extend(df.collect()))
                .option("checkpointLocation", ck))

    with _session_confs(spark, {"spark.sql.shuffle.partitions": "8"}):
        writer().trigger(availableNow=True).start().awaitTermination()
    assert _state_partitions(ck, 1) == list(range(8))
    shutil.copy2(both / "p1.json", src)
    _drain_available_now(spark, writer())
    assert _state_partitions(ck, 2) == list(range(8))
    fresh = run_available_now(
        stream_rate(_read_stream(spark, str(both)), field_spec="value",
                    partition_by=keys), "append").collect()
    assert len(fresh) > 3
    assert sorted(map(tuple, got)) == sorted(map(tuple, fresh))


def test_stream_first_seen_ttl_rows_keep_claim(spark, tmp_path):
    """A key whose claim deadline is already below the watermark in the
    micro-batch that brings it new rows stays claimed (suppressed and
    re-armed), as a per-key event-time timer only fires for a key with no
    rows; the idle key beside it expires in that same batch."""
    import json as _json
    from pyspark.sql import types as T2
    from pypond_spark.streaming.stream import stream_first_seen
    schema = T2.StructType([T2.StructField("doc_id", T2.LongType()),
                            T2.StructField("digest", T2.StringType()),
                            T2.StructField("t_ms", T2.LongType())])
    drains = [
        # A and B claimed, deadlines 1060 s
        [[{"doc_id": 1, "digest": "A", "t_ms": 1_000_000},
          {"doc_id": 2, "digest": "B", "t_ms": 1_000_000}]],
        # two files, one micro-batch each: E at 1100 s moves the
        # watermark past 1060 s, then A's rows arrive in the next batch
        # (A stays claimed, doc 4 suppressed) while idle B expires
        [[{"doc_id": 3, "digest": "E", "t_ms": 1_100_000}],
         [{"doc_id": 4, "digest": "A", "t_ms": 1_110_000}]],
        # B re-claimed; A (re-armed to 1170 s) still suppressed
        [[{"doc_id": 5, "digest": "B", "t_ms": 1_120_000},
          {"doc_id": 6, "digest": "A", "t_ms": 1_120_000}]],
    ]
    src = tmp_path / "src"
    src.mkdir()
    n = 0
    for files in drains:
        for chunk in files:
            path = src / f"p{n}.json"
            with open(path, "w") as fh:
                for rec in chunk:
                    fh.write(_json.dumps(rec) + "\n")
            os.utime(path, (1_000_000 + n, 1_000_000 + n))
            n += 1
        sdf = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).json(str(src))
               .withColumn("time", F.timestamp_millis(F.col("t_ms")))
               .drop("t_ms"))
        out = stream_first_seen(sdf, key_col="digest",
                                payload_cols=("doc_id",),
                                order_col="doc_id", ttl="1m")
        q = (out.writeStream.format("parquet").outputMode("append")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120), "drain did not terminate"
    got = sorted((r["digest"], r["doc_id"]) for r in
                 spark.read.parquet(str(tmp_path / "out")).collect())
    assert got == [("A", 1), ("B", 2), ("B", 5), ("E", 3)]


def test_bucket_boundary_is_lossless(spark, tmp_path, monkeypatch):
    """Every key shares one state bucket, so each bucket frame mixes a
    NULL into a `long` column: keys, carry columns and claim payloads
    above 2**53 still come back exact, beside their NULLs."""
    from pypond_spark.streaming import stream
    monkeypatch.setattr(stream, "STATE_BUCKETS", 1)
    big = 2 ** 53
    rows = [(k, t, v, None) for k in (big, big + 1, None)
            for t, v in ((1_000, 1.0), (2_000, 3.0))]
    rows += [(7, 3_000 + i, 1.0, p)
             for i, p in enumerate((big + 1, None, big + 3))]
    for d, recs in (("ev", [dict(zip(("k", "t_ms", "value", "payload"), r))
                            for r in rows]),
                    ("docs", [{"digest": "x", "doc_id": big + 1},
                              {"digest": "y", "doc_id": None}])):
        (tmp_path / d).mkdir()
        with open(tmp_path / d / "p0.json", "w") as fh:
            for rec in recs:
                fh.write(json.dumps(rec) + "\n")
    sdf = (spark.readStream.schema("k long, t_ms long, value double, "
                                   "payload long").json(str(tmp_path / "ev"))
           .withColumn("time", F.timestamp_millis("t_ms")))
    rate = stream.stream_rate(sdf.where(~F.col("k").eqNullSafe(7)),
                              partition_by=["k"])
    got = sorted(((r["k"] is None, r["k"] or 0), r["value_rate"])
                 for r in run_available_now(rate, "append").collect())
    assert got == [((False, big), 2.0), ((False, big + 1), 2.0),
                   ((True, 0), 2.0)]
    ewma = stream.stream_ewma(sdf.where(F.col("k") == 7), "value",
                              partition_by=["k"], carry_cols=["payload"])
    got = sorted((r["t_ms"], r["k"], r["payload"]) for r in
                 run_available_now(ewma, "append").collect())
    assert got == [(3_000, 7, big + 1), (3_001, 7, None),
                   (3_002, 7, big + 3)]
    docs = spark.readStream.schema("digest string, doc_id long").json(
        str(tmp_path / "docs"))
    got = sorted((r["digest"], r["doc_id"]) for r in run_available_now(
        stream.stream_first_seen(docs), "append").collect())
    assert got == [("x", big + 1), ("y", None)]


def test_bucket_nan_double_leaves_as_null(spark, tmp_path, monkeypatch):
    """A NaN `double` key is a series of its own beside the NULL key, as
    in Spark's groupBy, and both gate and keyed outputs emit a NaN key or
    pass-through value as NULL, as the batch twins' pandas frames do."""
    from pypond_spark.streaming import stream
    monkeypatch.setattr(stream, "STATE_BUCKETS", 1)
    (tmp_path / "ev").mkdir()
    with open(tmp_path / "ev" / "p0.json", "w") as fh:
        for s, t, v, p in (("NaN", 1_000, 1.0, "NaN"), ("NaN", 2_000, 3.0, "1"),
                           (None, 1_500, 10.0, "2"), (None, 2_500, 20.0, "3"),
                           ("1.5", 1_000, 5.0, "4")):
            fh.write(json.dumps({"s": s, "t_ms": t, "value": v, "p": p})
                     + "\n")
    sdf = (spark.readStream.schema("s string, t_ms long, value double, "
                                   "p string").json(str(tmp_path / "ev"))
           .select(F.col("s").cast("double").alias("d"), "t_ms", "value",
                   F.col("p").cast("double").alias("p"),
                   F.timestamp_millis("t_ms").alias("time")))
    seen = stream.stream_first_seen(sdf, key_col="d", payload_cols=("p",),
                                    order_col="t_ms")
    got = sorted(((r["d"] is None, r["d"] or 0), r["p"] is None, r["p"] or 0)
                 for r in run_available_now(seen, "append").collect())
    assert got == [((False, 1.5), False, 4.0), ((True, 0), False, 2.0),
                   ((True, 0), True, 0)]
    ewma = stream.stream_ewma(sdf, "value", partition_by=["d"],
                              carry_cols=["p"])
    got = sorted((r["d"], r["t_ms"], r["p"], r["value_ewma"])
                 for r in run_available_now(ewma, "append").collect()
                 if r["d"] is None)
    assert got == [(None, 1_000, None, 1.0), (None, 1_500, 2.0, 10.0),
                   (None, 2_000, 1.0, 2.0), (None, 2_500, 3.0, 15.0)]


_THREE_FILES = _TWO_FILES + [
    [{"t_ms": 150_000, "user": "b", "value": 70.0},
     {"t_ms": 150_000, "user": None, "value": 5.0},
     {"t_ms": 180_000, "user": "a", "value": 200.0},
     {"t_ms": 210_000, "user": None, "value": 9.0}]]
_RESUME_DOCS = [
    [{"doc_id": 1, "text": "spark window batch order data column agg"},
     {"doc_id": 2, "text": "entirely different words nothing shared here"}],
    [{"doc_id": 3, "text": "spark window batch order data column agg"},
     {"doc_id": 4, "text": "a third text about state stores and buckets"}],
    [{"doc_id": 5, "text": "a third text about state stores and buckets"},
     {"doc_id": 6, "text": "the last one talks of checkpoints resuming"}],
]


@pytest.mark.parametrize("op", ["rate", "holt_winters", "minhash"])
def test_bucket_state_resumes_like_fresh_drain(spark, tmp_path, op):
    """Draining file 1, then files 2-3 over the same checkpoint gives the
    rows of one fresh drain of all three files."""
    from pypond_spark.streaming import stream_holt_winters
    from pypond_spark.streaming.stream import stream_minhash_dedup
    chunks = _RESUME_DOCS if op == "minhash" else _THREE_FILES
    both, src = tmp_path / "both", tmp_path / "src"
    both.mkdir()
    src.mkdir()
    _write_chunks(both, chunks)

    def build(path):
        if op == "minhash":
            return stream_minhash_dedup(
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1).json(str(path)))
        sdf = _read_stream(spark, str(path))
        if op == "rate":
            return stream_rate(sdf, partition_by=["user"])
        return stream_holt_winters(sdf, "value", 2, partition_by=["user"])

    def drain(path, ck):
        got = []
        q = (build(path).writeStream.outputMode("append")
             .foreachBatch(lambda df, _: got.extend(df.collect()))
             .option("checkpointLocation", str(ck))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return got

    shutil.copy2(both / "p0.json", src)
    resumed = drain(src, tmp_path / "ck")
    for name in ("p1.json", "p2.json"):
        shutil.copy2(both / name, src)
    resumed += drain(src, tmp_path / "ck")
    fresh = drain(both, tmp_path / "ck_fresh")
    assert len(fresh) > 4
    assert sorted(map(repr, resumed)) == sorted(map(repr, fresh))


def test_bucket_count_is_pinned_by_checkpoint(spark, tmp_path, monkeypatch):
    """A checkpoint records the bucket count its state was written with:
    resuming it with another count fails instead of losing the state of
    keys that moved bucket."""
    from pypond_spark.streaming import stream
    both, src = tmp_path / "both", tmp_path / "src"
    both.mkdir()
    src.mkdir()
    _write_chunks(both, _THREE_FILES)

    def drain():
        out = stream.stream_rate(_read_stream(spark, str(src)),
                                 partition_by=["user"])
        (out.writeStream.format("noop").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start().awaitTermination())

    monkeypatch.setattr(stream, "STATE_BUCKETS", 1)
    shutil.copy2(both / "p0.json", src)
    drain()
    monkeypatch.setattr(stream, "STATE_BUCKETS", 2)
    shutil.copy2(both / "p1.json", src)
    with pytest.raises(StreamingQueryException,
                       match="checkpoint state has 1 buckets, this build 2"):
        drain()
